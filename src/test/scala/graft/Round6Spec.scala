package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Round-6 hardening gates. */
class Round6Spec extends AnyFunSuite with TestSpark {

  /** The r5 verdict's one `weak` finding, made structural: a BATCH operator
    * must never park state on a driver-local temp path — on a multi-node
    * cluster executors commit task files to their OWN disks and a read-back
    * silently loses rows. Durable intermediates go through
    * `graft.model.Spill` (shared warehouse/spillDir storage). Streaming
    * replay fixtures are exempt: they are single-process test-harness
    * plumbing, commented as such at each site.
    */
  test("no batch operator spills to a driver-local temp directory") {
    val batchDirs = Seq("src/main/scala/graft/operators",
      "src/main/scala/graft/functions", "src/main/scala/graft/model")
    val offenders = batchDirs.flatMap { d =>
      Files.list(Paths.get(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8")
          .contains("createTempDirectory"))
        .map(_.toString)
    }
    assert(offenders.isEmpty,
      s"driver-local temp spill in batch operator code: $offenders")
  }

  test("dedup_cluster spill path honors spark.graft.spillDir and lands under it") {
    val spillRoot = Files.createTempDirectory("round6_spill").toString
    spark.conf.set(graft.model.Spill.SpillDirConf, spillRoot)
    try {
      val out = graft.operators.Dedup.cluster(spark, Sf)
      assert(out.count() > 0)
      val children = Files.list(Paths.get(spillRoot)).iterator().asScala.toSeq
      assert(children.exists(_.getFileName.toString.startsWith("cc_labels_")),
        s"expected a cc_labels_* spill under $spillRoot, found $children")
    } finally {
      spark.conf.unset(graft.model.Spill.SpillDirConf)
    }
  }

  test("vec_dot and vec_signbits fail loudly on malformed input (no unsafe reads)") {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    // length-mismatched dot: must throw, not return garbage from
    // out-of-bounds unsafe memory
    val mismatch = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
        .selectExpr("vec_dot(a, b)").collect()
    }
    assert(mismatch.getMessage.contains("length mismatch")
      || mismatch.getCause != null &&
         mismatch.getCause.getMessage.contains("length mismatch"))
    // short vector into the 64-wide signature kernel: same contract
    val short = intercept[Exception] {
      Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("v")
        .selectExpr("vec_signbits(v, array(3L))").collect()
    }
    assert(short.getMessage.contains("64-element")
      || short.getCause != null &&
         short.getCause.getMessage.contains("64-element"))
    // type misuse is rejected at analysis, not at runtime
    val typed = intercept[Exception] {
      Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
        .selectExpr("vec_dot(v, v)").collect()
    }
    assert(typed.getMessage.contains("array<bigint>"))
  }

  test("VecSignBits canonicalizes: equal masks compare semanticEquals") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val child = BoundReference(0, ArrayType(LongType), nullable = false)
    val a = graft.functions.VecSignBits(child, Seq(1L, 2L, 3L))
    val b = graft.functions.VecSignBits(child, Seq(1L, 2L, 3L))
    assert(a == b, "structural equality broken — Catalyst CSE/exchange reuse defeated")
    assert(a.semanticEquals(b))
    assert(a.hashCode == b.hashCode)
  }

  test("streaming memory-sink queries drop their temp views after draining") {
    // the parquet nanosAsLong read flag is set session-wide and left set BY
    // DESIGN (Tables.events / CarbonStream.eventsStream): set it before the
    // first snapshot so the compare sees only what a replay leaves behind
    graft.model.Tables.events(spark, Sf)
    val streamOps = Registry.ops.filter(_.name.startsWith("stream_"))
    assert(streamOps.nonEmpty)
    streamOps.foreach { op =>
      val tablesBefore = spark.catalog.listTables().count()
      val confBefore = spark.conf.getAll
      // the drained frame must stay readable after its view is dropped
      op.run(spark, Sf).write.format("noop").mode("overwrite").save()
      val tablesAfter = spark.catalog.listTables().count()
      assert(tablesAfter == tablesBefore, s"${op.name}: memory-sink temp views " +
        s"leaked: $tablesBefore tables before, $tablesAfter after")
      val confAfter = spark.conf.getAll
      assert(confAfter == confBefore, s"${op.name}: session conf not restored: " +
        s"before ${(confBefore.toSet diff confAfter.toSet).toMap}, " +
        s"after ${(confAfter.toSet diff confBefore.toSet).toMap}")
    }
  }

  test("appendStateSlice clusters each flush to ONE file per partition directory") {
    // the small-files gate: a hash-partitioned write scatters every task
    // across every (tbl, stat_date) directory, so a flush commits
    // tasks x directories tiny files; the repartition-on-partition-cols
    // clustering must hold or read/compaction cost silently multiplies
    val store = Files.createTempDirectory("round6_slice").toString
    graft.sources.RollupStore.appendStateSlice(
      graft.operators.Rollups.rollupsMergeable(spark, Sf), store)
    val leafDirs = Files.walk(Paths.get(store)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("_"))
      .map(_.getParent).toSeq
    assert(leafDirs.nonEmpty)
    val multi = leafDirs.groupBy(identity).filter(_._2.size > 1)
    assert(multi.isEmpty,
      s"slice wrote multiple files into one partition dir: ${multi.keys.take(3)}")
  }

  test("compaction is selective: single-slice partitions are never rewritten") {
    import graft.operators.Rollups
    import graft.sources.RollupStore
    val store = Files.createTempDirectory("round6_compact").toString
    def files(): Set[String] = Files.walk(Paths.get(store)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    val state = Rollups.rollupsMergeable(spark, Sf)
    RollupStore.appendStateSlice(state, store)
    val before = files()
    RollupStore.compact(spark, store) // every dir single-file: must be a no-op
    assert(files() == before,
      "compaction rewrote already-compacted (single-file) partitions")
    RollupStore.appendStateSlice(state, store) // now every dir has 2 slices
    RollupStore.compact(spark, store)
    val dirCounts = files().groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(dirCounts.values.forall(_.size == 1),
      "compaction left a multi-file partition unfolded")
    // lossless: merge-on-read over the compacted double-append equals the
    // algebra applied to the doubled state
    val got = RollupStore.readFinalized(spark, store)
      .collect().map(_.toString).sorted
    val want = Rollups.finalize(Rollups.mergeAll(state.unionByName(state)))
      .collect().map(_.toString).sorted
    assert(got.sameElements(want))
  }

  test("compaction self-heals from a crash at either phase") {
    import graft.operators.Rollups
    import graft.sources.RollupStore
    import org.apache.hadoop.fs.Path
    val store = Files.createTempDirectory("round6_recover").toString
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(root, "_compact")
    val state = Rollups.rollupsMergeable(spark, Sf)
    RollupStore.appendStateSlice(state, store)
    RollupStore.appendStateSlice(state, store)
    val want = Rollups.finalize(Rollups.mergeAll(state.unionByName(state)))
      .collect().map(_.toString).sorted
    // crash BEFORE the staged write committed: garbage without _SUCCESS —
    // sources are untouched, so recovery discards and recompacts from them
    fs.mkdirs(staged)
    val junk = new Path(staged, "tbl=junk/stat_date=2020-01-01")
    fs.mkdirs(junk)
    fs.createNewFile(new Path(junk, "part-junk.parquet"))
    RollupStore.compact(spark, store)
    assert(!fs.exists(staged), "uncommitted staging not discarded")
    assert(!fs.exists(new Path(root, "tbl=junk")), "garbage swapped into the store")
    assert(RollupStore.readFinalized(spark, store)
      .collect().map(_.toString).sorted.sameElements(want))
    // crash AFTER the staged write committed, mid-swap: one directory was
    // deleted but its compacted replacement never renamed in — the staged
    // copy is the only remaining truth and recovery must finish the swap
    RollupStore.appendStateSlice(state, store)
    val multi = fs.globStatus(new Path(root, "tbl=*/stat_date=*")).map(_.getPath)
      .filter(d => fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")) > 1)
    assert(multi.nonEmpty)
    Rollups.mergeAll(spark.read.option("basePath", store)
        .parquet(multi.map(_.toString).toIndexedSeq: _*).drop("stat_date"))
      .withColumn("stat_date", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.col("stat_time"))))
      .repartition(org.apache.spark.sql.functions.col("tbl"),
        org.apache.spark.sql.functions.col("stat_date"))
      .write.mode("overwrite").partitionBy("tbl", "stat_date")
      .parquet(staged.toString)
    assert(fs.exists(new Path(staged, "_SUCCESS")), "committed staging must carry _SUCCESS")
    fs.delete(multi.head, true) // the mid-swap victim
    RollupStore.compact(spark, store)
    assert(!fs.exists(staged))
    val want2 = Rollups.finalize(Rollups.mergeAll(
        state.unionByName(state).unionByName(state)))
      .collect().map(_.toString).sorted
    assert(RollupStore.readFinalized(spark, store)
      .collect().map(_.toString).sorted.sameElements(want2),
      "recovery lost the mid-swap directory's rows")
  }

  test("store_lifecycle: sliced append + mid-ingest compaction = single-pass write set") {
    val lifecycle = graft.operators.Rollups.storeLifecycle(spark, Sf)
      .collect().map(_.toString).sorted
    val single = graft.operators.Rollups.rollups(spark, Sf)
      .collect().map(_.toString).sorted
    assert(lifecycle.nonEmpty)
    assert(lifecycle.sameElements(single),
      "merge-on-read over sliced+compacted store must be BIT-identical to one batch pass")
  }

  test("text_repetition: planted duplicate n-grams score exactly; short docs 0.0") {
    import spark.implicits._
    val got = graft.operators.TextOps.textRepetitionFrom(
        Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "x"), (4L, "A a B b"))
          .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // "a a a a": 4 tokens 1 distinct -> 0.75; g2 = 3×"a a" -> 2/3; g3 = 2×"a a a" -> 0.5
    assert(got(0) == ((1L, 0.75, 0.666667, 0.5)))
    assert(got(1) == ((2L, 0.0, 0.0, 0.0)))
    // single token: no 2-/3-grams, guards must yield 0.0 (not NaN/negative-sequence)
    assert(got(2) == ((3L, 0.0, 0.0, 0.0)))
    // lowercasing folds A/a before counting
    assert(got(3) == ((4L, 0.5, 0.0, 0.0)))
  }

  test("text_commonness: planted document frequencies score exactly; join broadcasts") {
    import spark.implicits._
    val out = graft.operators.TextOps.textCommonnessFrom(
      Seq((1L, "a b"), (2L, "a a c"), (3L, "a")).toDF("doc_id", "text"))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // df: a=3 docs, b=1, c=1
    assert(got(0) == ((1L, 2.0, 1L, 2L)))       // (3+1)/2
    assert(got(1) == ((2L, 2.333333, 1L, 3L)))  // (3+3+1)/3
    assert(got(2) == ((3L, 3.0, 3L, 1L)))
    // the vocabulary-sized DF table must ride a broadcast, not a shuffle join
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "DF score join is not broadcast")
  }

  test("decontaminate: eval-shingle overlap flags exactly; eval side broadcasts") {
    import spark.implicits._
    // doc 97 is eval (97 % 97 == 0); doc 1 shares its "x y z" 3-gram via
    // "w x y z" (grams "w x y", "x y z"), doc 2 shares nothing
    val out = graft.operators.Dedup.decontaminateFrom(
      Seq((97L, "x y z"), (1L, "w x y z"), (2L, "p q r s")).toDF("doc_id", "text"))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, true), (2L, 0L, false)))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "eval shingle join is not broadcast")
  }

  test("curate: eval-holdout docs always fail; verdict is the gate conjunction") {
    val out = graft.operators.Curate.curate(spark, Sf).collect()
    assert(out.nonEmpty)
    def b(r: org.apache.spark.sql.Row, c: String) = r.getAs[Boolean](c)
    val evalRows = out.filter(_.getAs[Long]("doc_id") % 97 == 0)
    assert(evalRows.nonEmpty, "fixture must contain eval-holdout doc_ids")
    assert(evalRows.forall(r => !b(r, "decontaminated") && !b(r, "keep")),
      "an eval-holdout doc passed decontamination or was kept")
    assert(out.forall { r =>
      b(r, "keep") == (b(r, "quality_ok") && b(r, "repetition_ok") &&
        b(r, "perplexity_ok") && b(r, "select_ok") &&
        b(r, "decontaminated") && b(r, "dedup_keep"))
    }, "keep is not the conjunction of its six gates")
    assert(out.exists(b(_, "keep")), "no document survived curation")
  }

  test("sessionize oracles derive seconds via the integer epoch_ns route") {
    // Tables.scala documents the float epoch() route as divergent near
    // second boundaries; every ts-derived oracle must use epoch_ns // 1e9.
    Registry.ops.flatMap(_.oracle).filter(_.contains("FROM events")).foreach { sql =>
      assert(!sql.contains("floor(epoch("),
        "oracle uses the float epoch() route (Tables.scala:58-62)")
    }
  }
}
