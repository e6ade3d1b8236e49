package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.Op

/** `operator_suite`: a fixed list of registry operators over a committed
  * fixture, in a seeded order, each fully materialized through the `noop`
  * sink with the same inter-op cache and RDD sweep `graft.Bench` uses.
  * Set-up runs every op once and takes its output fingerprint (row count
  * and order-independent content hash, checked against the golden record
  * after the timed region), which also warms the JVM. The timed region is
  * one pass over the list: its wall is the latency sample.
  */
final class OperatorSuite(spark: SparkSession, args: Main.Args, work: Path)
    extends Main.Workload {

  private val fixture = args.str("fixture")
  private val batchOps = args.str("batch_ops").split(",").toSeq
  private val streamOps = args.str("stream_ops").split(",").toSeq
  private val golden = args.params.get("golden").map(Paths.get(_))
  private val goldenOut = args.params.get("golden_out").map(Paths.get(_))

  /** Registry modules by name, mirroring `graft.Registry.ops`. */
  private val modules: Seq[(String, Seq[Op])] = Seq(
    "Rollups" -> graft.operators.Rollups.ops, "Series" -> graft.operators.Series.ops,
    "Carbon" -> graft.operators.Carbon.ops, "Wire" -> graft.operators.Wire.ops,
    "Index" -> graft.operators.Index.ops, "MetricQuery" -> graft.operators.MetricQuery.ops,
    "OpsStats" -> graft.operators.OpsStats.ops, "Dedup" -> graft.operators.Dedup.ops,
    "Sketch" -> graft.operators.Sketch.ops, "TextOps" -> graft.operators.TextOps.ops,
    "Bpe" -> graft.operators.Bpe.ops, "Curate" -> graft.operators.Curate.ops,
    "Similarity" -> graft.operators.Similarity.ops,
    "Multimodal" -> graft.operators.Multimodal.ops,
    "Analytics" -> graft.operators.Analytics.ops,
    "CarbonStream" -> graft.streaming.CarbonStream.ops,
    "DedupStream" -> graft.streaming.DedupStream.ops,
    "SessionStream" -> graft.streaming.SessionStream.ops,
    "WireStream" -> graft.streaming.WireStream.ops,
    "AnnStream" -> graft.streaming.AnnStream.ops)
  private val byName: Map[String, (String, Op)] =
    modules.flatMap { case (m, ops) => ops.map(o => o.name -> (m -> o)) }.toMap
  private val order: Seq[String] = {
    val missing = (batchOps ++ streamOps).filterNot(byName.contains)
    require(missing.isEmpty, s"ops not in the registry: ${missing.mkString(",")}")
    new Random(args.seed).shuffle(batchOps ++ streamOps)
  }
  private var failures = 0L
  private var runs = 0L

  /** Each op's fingerprint from the set-up pass; checked after the timed region. */
  private var seen: Seq[(String, Option[(Long, String)])] = Nil

  /** Run each op once (in name order) and take its output fingerprint:
    * this warms codegen and the JIT for the timed pass and keeps the output
    * checks out of the timed region.
    */
  def setup(): Unit = {
    spark.sparkContext.setJobGroup("check", "check", false)
    seen = order.sorted.map { name =>
      val fp =
        try Some(fingerprint(byName(name)._2.run(spark, fixture)))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed under check: ${e.getMessage}"); None }
      sweep()
      name -> fp
    }
    spark.sparkContext.clearJobGroup()
    Log.info(s"setup: ${seen.size} ops fingerprinted")
  }

  /** Cached datasets and persisted RDDs dropped between ops; returns how
    * many RDDs were still persisted (checkpoint and cache blocks).
    */
  private def sweep(): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    spark.catalog.clearCache()
    rdds.foreach(_.unpersist(false))
    rdds.size
  }

  def measure(rec: Option[Recorder]): Main.Measured = {
    rec.foreach(_.start())
    val walls = ArrayBuffer.empty[(String, Double, Long, Long)] // op, s, startMs, endMs
    var persisted = 0L
    val t0 = System.nanoTime()
    order.foreach { name =>
      val op = byName(name)._2
      spark.sparkContext.setJobGroup(s"op.$name", name, false)
      val s = System.currentTimeMillis()
      val n0 = System.nanoTime()
      runs += 1
      try {
        val run = () => op.run(spark, fixture).write.format("noop").mode("overwrite").save()
        rec.fold(run())(_.span(s"op.$name", name)(run()))
      } catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
      }
      walls += ((name, (System.nanoTime() - n0) / 1e9, s, System.currentTimeMillis()))
      Log.info(f"$name: ${walls.last._2}%.3f s")
      spark.sparkContext.clearJobGroup()
      persisted += sweep()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val perOp = walls.map(w => w._1 -> w._2).toMap
    val batchS = batchOps.map(perOp).sum
    val streamS = streamOps.map(perOp).sum
    // the unit of work is the pass: a median over heterogeneous ops would
    // jump between neighbouring ops as any one of them moves
    val passMs = walls.map(_._2).sum * 1000

    val layers = rec.fold(Map.empty[String, Double]) { r =>
      r.stop()
      val isOp = (g: String) => g.startsWith("op.")
      val st = r.stagesOf(isOp)
      val gap = walls.map { case (name, s, startMs, endMs) =>
        val iv = st.filter(x => x.group == s"op.$name" && x.completeMs >= startMs && x.submitMs <= endMs)
          .map(x => (math.max(x.submitMs, startMs), math.min(x.completeMs, endMs)))
        math.max(0.0, s - Recorder.coveredMs(iv) / 1000.0)
      }.sum
      val prog = r.progress.asScala.toSeq.map(_._1)
      val (data, nodata) = prog.partition(_.numInputRows > 0)
      val stateRows = prog.groupBy(_.id).values.map(ps =>
        ps.maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum).sum
      Layers.modules.map { m =>
        s"ops.$m.wall_s" -> order.filter(n => byName(n)._1 == m).map(perOp).sum
      }.toMap ++ Map(
        "ops.planning_s" -> walls.map { case (_, _, s0, s1) =>
          r.execsIn(s0.toDouble, s1.toDouble).map(_.planningMs).sum }.sum / 1000.0,
        "ops.jobs" -> r.jobsOf(isOp).size.toDouble,
        "ops.stages" -> st.size.toDouble,
        "ops.tasks" -> st.map(_.tasks).sum.toDouble,
        "ops.task_run_s" -> st.map(_.runMs).sum / 1000.0,
        "ops.driver_gap_s" -> gap,
        "ops.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
        "ops.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
        "ops.spill_bytes" -> st.map(_.spill).sum.toDouble,
        "ops.input_bytes" -> st.map(_.inputBytes).sum.toDouble,
        "ops.checkpoint_rdds" -> persisted.toDouble,
        "ops.stream.batches_data" -> data.size.toDouble,
        "ops.stream.batches_nodata" -> nodata.size.toDouble,
        "ops.stream.add_batch_s" -> Recorder.durS(prog, "addBatch"),
        "ops.stream.query_planning_s" -> Recorder.durS(prog, "queryPlanning"),
        "ops.stream.wal_commit_s" -> Recorder.durS(prog, "walCommit"),
        "ops.stream.commit_offsets_s" -> Recorder.durS(prog, "commitOffsets"),
        "ops.stream.state_commit_s" ->
          prog.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1000.0,
        "ops.stream.state_rows" -> stateRows.toDouble,
        "spark.core_busy_ratio" -> r.coreBusyRatio(wallS))
    }
    Main.Measured(passMs, passMs, 0.5, 1, walls.size / wallS,
      named = Seq(("batch_ops_s", batchS, "s"), ("stream_ops_s", streamS, "s")),
      attempted = 0, failed = 0, layers = layers)
  }

  /** Row count and order-independent content hash: the sum of per-row
    * xxhash64 over every column, floating values rounded to 6 decimals so
    * summation-order noise in the last bits does not flip the hash.
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(col(f.name), x => round(x.cast("double"), 6))
        case _ => col(f.name)
      }
    }
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toString))
  }

  def check(): (Long, Long) = {
    val lines = seen.map { case (n, fp) =>
      Json.str(n) + ":" + fp.fold("null")(f => Json.obj("rows" -> Json.num(f._1.toDouble), "hash" -> Json.str(f._2)))
    }
    goldenOut.foreach(p => Files.write(p, lines.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8)))
    val want = golden.map { p =>
      val j = Json.parse(new String(Files.readAllBytes(p), UTF_8))
      Json.fields(j).map { case (n, v) => n -> (v.get("rows").asLong, v.get("hash").asText) }.toMap
    }.getOrElse(Map.empty)
    val bad = seen.count { case (n, fp) =>
      val ok = fp.isDefined && (goldenOut.isDefined || want.get(n) == fp)
      if (!ok) System.err.println(s"[perfbench] $n output differs from golden: got $fp want ${want.get(n)}")
      !ok
    }
    (runs + seen.size, failures + bad)
  }

  def close(): Unit = ()
}
