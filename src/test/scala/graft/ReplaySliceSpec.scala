package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetFiles
import graft.streaming.CarbonStream

/** Staged stream replays:
  *
  *  - `ParquetFiles.stage` writes several slices in ONE Spark job with one
  *    task per slice, one file per slice holding exactly its rows, an
  *    empty slice as an empty file with the slice's schema, and no temp
  *    name left behind;
  *  - `CarbonStream.replaySlices` replays one micro-batch per slice, in
  *    slice order;
  *  - no replay operator (nor `stream_rollup_append`'s file sink) leaves
  *    anything it created in `java.io.tmpdir`.
  */
class ReplaySliceSpec extends AnyFunSuite with TestSpark {

  /** The ten operators that replay staged slices, and `stream_rollup_append`,
    * whose file sink writes to a temp dir.
    */
  private val TmpdirOps = Set("stream_transitions", "stream_transitions_buffered",
    "stream_funnel", "stream_funnel_buffered", "stream_holt", "stream_dedup_watermark",
    "stream_pack", "stream_bpe", "stream_reassemble", "stream_ann_stored",
    "stream_rollup_append")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The session's own dirs and the native codecs Spark unpacks on first
    * use are created in `java.io.tmpdir` once per JVM: make them before
    * any test watches it.
    */
  override def beforeAll(): Unit = {
    super.beforeAll()
    val warm = Files.createTempDirectory("replay_warm")
    try spark.range(10).repartition(2).write.mode("overwrite").parquet(s"$warm/p")
    finally org.apache.commons.io.FileUtils.deleteDirectory(warm.toFile)
  }

  test("stage writes every slice in one job, one task per slice, one file each") {
    val dir = Files.createTempDirectory("replay_stage").toString
    val events = spark.read.parquet(s"$Sf/events.parquet")
    val slices = (0 until 3).map(i => events.filter(pmod(col("event_id"), lit(3)) === i))
    val names = slices.indices.map(i => s"s$i.parquet")
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("") -> e.stageInfos.map(_.numTasks).sum)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("replay-stage", "staging", false)
      try ParquetFiles.stage(slices, dir, names) finally sc.clearJobGroup()
      // the listener bus is asynchronous: wait for a marker job behind it
      sc.setJobGroup("replay-stage-end", "marker", false)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == "replay-stage-end") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val staged = jobs.asScala.toSeq.filter(_._1 == "replay-stage").map(_._2)
    assert(staged == Seq(slices.size), s"staging jobs (tasks each): $staged")
    slices.zip(names).foreach { case (slice, name) =>
      assert(rows(spark.read.parquet(s"$dir/$name")) == rows(slice), s"$name rows differ")
    }
    val left = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
    assert(left == names.toSet, s"staging left $left")
  }

  test("stage writes an empty slice as an empty file with the slice's schema") {
    val dir = Files.createTempDirectory("replay_stage_empty").toString
    val events = spark.read.parquet(s"$Sf/events.parquet")
    val created = createdInTmpdir {
      ParquetFiles.stage(Seq(events.filter(col("event_id") % 2 === 0), events.filter(lit(false))),
        dir, Seq("a.parquet", "empty.parquet"))
    }
    assert(created.isEmpty, s"staging created $created in java.io.tmpdir")
    assert(spark.read.parquet(s"$dir/empty.parquet").schema == events.schema)
    assert(spark.read.parquet(s"$dir/empty.parquet").count() == 0)
    assert(spark.read.parquet(s"$dir/a.parquet").count() ==
      events.filter(col("event_id") % 2 === 0).count())
    val names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(!names.exists(ParquetFiles.isTemp), s"a temp survived: $names")
  }

  test("replaySlices replays one micro-batch per slice, in slice order") {
    val markers = Seq(2L, 0L, 3L, 1L)
    val slices = markers.map(m => spark.range(5).select(lit(m).as("marker"), col("id")))
    val seen = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val created = createdInTmpdir {
      CarbonStream.replaySlices(slices) { stream =>
        CarbonStream.runToEnd(stream) {
          _.foreachBatch { (batch: DataFrame, id: Long) =>
            seen.add(id -> batch.select("marker").distinct().collect().map(_.getLong(0)).toSeq)
            ()
          }.start()
        }
      }
    }
    assert(seen.asScala.toSeq == markers.zipWithIndex.map { case (m, i) => i.toLong -> Seq(m) })
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    assert(created.nonEmpty, "the replay stages its slices in a temp dir")
    assert(!created.exists(n => Files.exists(tmp.resolve(n))), s"replay left ${created}")
  }

  test("no replay operator leaves anything in java.io.tmpdir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val ops = Registry.select(TmpdirOps)
    assert(ops.size == TmpdirOps.size)
    ops.foreach { op =>
      val created = createdInTmpdir {
        op.run(spark, Sf).write.format("noop").mode("overwrite").save()
      }
      val left = created.filter(n => Files.exists(tmp.resolve(n)))
      assert(left.isEmpty, s"${op.name} left $left in java.io.tmpdir")
    }
  }
}
