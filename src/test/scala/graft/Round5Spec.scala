package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Round-5 additions: dedup_cluster block-manager hygiene, the sort-free
  * max_by centroid assignment, and the SURVEY §2 <-> Registry coverage pin.
  */
class Round5Spec extends AnyFunSuite with TestSpark {

  test("dedup_cluster pins no block-manager state after materialization") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.cluster(spark, Sf)
    val n = out.count()
    assert(n > 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"dedup_cluster leaked persistent RDDs: $leaked — localCheckpoint " +
        "blocks must be swept before the operator returns")
  }

  test("dedup_cluster result is re-materializable (plan self-contained after sweep)") {
    // The returned plan must not depend on swept checkpoint blocks: running
    // the SAME DataFrame twice must work and agree.
    val out = Dedup.cluster(spark, Sf)
    val first = out.collect().map(_.toString).sorted
    val second = out.collect().map(_.toString).sorted
    assert(first.sameElements(second))
  }

  test("dedup_cluster clusters are transitively closed with window-counted sizes") {
    val rows = Dedup.cluster(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid canonical must be min doc_id")
      assert(members.forall(_._3 == members.length.toLong), s"n_members wrong in $cid")
      assert(members.count(_._4) == 1, s"exactly one kept doc in $cid")
      assert(members.find(_._4).get._1 == cid, s"kept doc must be the canonical of $cid")
    }
  }

  test("max_by centroid assignment equals the window-rank argmin") {
    import org.apache.spark.sql.expressions.Window
    val vecs = graft.model.Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT))").as("v"))
      .withColumn("nrm", expr(
        (1 to Similarity.Dim).map(i => s"element_at(v, $i) * element_at(v, $i)").mkString(" + ")))
    val cents = vecs.filter(col("vec_id") % Similarity.CentroidMod === 1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val dot = (1 to Similarity.Dim)
      .map(i => s"element_at(v, $i) * element_at(cv, $i)").mkString(" + ")
    val windowed = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot) / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("c_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKmeans = Similarity.kmeansStep(spark, Sf) // exercises assignNearest
    assert(viaKmeans.count() > 0)
    val viaMaxBy = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot) / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("ccos"), -col("c_id"))).as("c_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaMaxBy === windowed,
      "max_by(struct(ccos, -c_id)) must reproduce ORDER BY ccos DESC, c_id rank 1")
  }

  test("vec_dot native expression equals the unrolled element_at dot") {
    graft.functions.GraftExtensions.register(spark)
    val vecs = graft.model.Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT))").as("v"))
    val unrolled = (1 to Similarity.Dim)
      .map(i => s"element_at(v, $i) * element_at(v, $i)").mkString(" + ")
    val mismatches = vecs
      .withColumn("a", expr("vec_dot(v, v)"))
      .withColumn("b", expr(unrolled))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
    // and it must not break whole-stage codegen: the projection holding
    // vec_dot must carry the `*(n)` codegen marker (the `transform` HOF
    // stage below it never codegens — that seam predates vec_dot)
    val plan = vecs.withColumn("a", expr("vec_dot(v, v)"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("vec_dot") && l.trim.startsWith("*(")),
      plan)
  }

  test("NO batch operator pins block-manager state after materialization") {
    // the generalized r4 lesson: one leaked cache silently re-prices every
    // bench line after it. Any future op that caches/checkpoints without
    // sweeping fails here, not in a driver bench autopsy.
    val batchOps = Registry.ops.filterNot(_.name.startsWith("stream_"))
    batchOps.foreach { op =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      op.run(spark, Sf).write.format("noop").mode("overwrite").save()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"${op.name} leaked persistent RDDs: $leaked")
    }
  }

  test("vec_signbits equals the unrolled CASE signed-sum signature") {
    graft.functions.GraftExtensions.register(spark)
    // an arbitrary 10-plane set exercised against the closed-form string
    var x = 99L
    def next(): Long = { x = (1103515245L * x + 12345L) % (1L << 31); x }
    val planeRows: Seq[Seq[Long]] =
      Seq.fill(10)(Seq.fill(Similarity.Dim)(if ((next() & 1L) == 1L) 1L else -1L))
    def signedDot(rv: Seq[Long]) =
      "0 " + rv.zipWithIndex.map { case (s, i) =>
        (if (s > 0L) "+ " else "- ") + s"element_at(v, ${i + 1})" }.mkString(" ")
    val unrolled = planeRows.zipWithIndex.map { case (rv, j) =>
      s"(CASE WHEN (${signedDot(rv)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val masks = graft.functions.VecMath.planeMasks(planeRows)
    val call = s"vec_signbits(v, array(${masks.map(m => s"${m}L").mkString(",")}))"
    val vecs = graft.model.Tables.embeddings(spark, Sf)
      .select(expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT))").as("v"))
    val mismatches = vecs
      .withColumn("a", expr(call)).withColumn("b", expr(unrolled))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }

  test("RocksDB state store: stateful streaming dedup runs on RocksDB and matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rocks = TestSpark.rocksDbSession()
    implicit val ctx = rocks.sqlContext
    import rocks.implicits._
    val chk = java.nio.file.Files.createTempDirectory("rocksdb_chk").toString
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val q = graft.streaming.DedupStream.dedupAgg(docs)
      .writeStream.format("memory").queryName("rocksdb_dedup")
      .option("checkpointLocation", chk)
      .outputMode("complete").start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"), (10L, "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val got = rocks.table("rocksdb_dedup").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // "alpha": ids 1,3 -> keep 1, 2 copies; "beta": keep 2; "gamma": id 10
    // is re-planted as 1000010 (doc_id % 10 == 0) -> keep 10, 2 copies
    assert(got === Set((1L, 2L), (2L, 1L), (10L, 2L)))
    // the state actually lives in RocksDB: its checkpoints are zip/changelog
    // files, never the HDFS store's .delta files
    val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(chk, "state"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map[String](_.getFileName.toString).toArray.map(_.toString)
    assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"expected RocksDB zip/changelog state files, got: ${stateFiles.mkString(",")}")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      "found HDFS-backed .delta state files — RocksDB provider was not in effect")
  }

  test("SURVEY §2 operator inventory is 1:1 with Registry.ops") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.split("## §2")(1).split("## §3")(0)
    val registryKeys = Registry.ops.map(_.name).toSet
    assert(registryKeys.size == Registry.ops.size, "duplicate registry keys")
    // every registry key must appear as a backticked token in §2
    val ticked = "`([a-z0-9_]+)`".r.findAllMatchIn(s2).map(_.group(1)).toSet
    val missing = registryKeys -- ticked
    assert(missing.isEmpty,
      s"registry keys missing from SURVEY §2: $missing — add a row before shipping")
    // and the stated headline count must equal the registry size
    val stated = "ALL (\\d+) QUERY KEYS".r.findFirstMatchIn(s2).map(_.group(1).toInt)
    assert(stated.contains(Registry.ops.size),
      s"SURVEY §2 headline count $stated != registry size ${Registry.ops.size}")
  }
}
