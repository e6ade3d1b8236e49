package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{RollupConfig, Tables}
import graft.operators.Rollups
import graft.sources.{ParquetFiles, RollupStore}
import graft.streaming.CarbonStream

/** The shape of one flush cycle, whose files are written directly and
  * published by rename (`graft.sources.ParquetFiles`):
  *
  *  - a daemon TCP cycle stages its slice with no Spark job and appends
  *    it in at most two, leaving no `_temporary`, `_SUCCESS` or temp name
  *    behind, and the metric flush query deletes committed slices;
  *  - flush cycles, a maintenance pass and a stream replay start no
  *    `chmod` or `readlink` process (a JFR recording of `jdk.ProcessStart`
  *    in this JVM): their files and checkpoints go through
  *    `graft.sources.LocalFiles`;
  *  - staging creates nothing outside the staging directory;
  *  - the published store equals the one Spark's commit protocol writes
  *    ([[CommitterReference]]): directories, files per directory, merged
  *    answer and footer metadata;
  *  - maintenance sweeps an old orphaned temp and leaves a young one;
  *  - a flush batch's aggregation plans no exchange.
  */
class FlushCycleSpec extends AnyFunSuite with TestSpark {

  /** Every file and directory name under `root`, hidden ones included. */
  private def names(root: String): Seq[String] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString).toVector finally s.close()
  }

  private def send(port: Int, lines: Seq[String]): Unit = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try sock.getOutputStream.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally sock.close()
  }

  private def awaitAccepted(l: LineIngest, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (l.receivedOk.get < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    assert(l.receivedOk.get == n, s"listener accepted ${l.receivedOk.get} of $n lines")
  }

  /** Cycle `c`'s lines: 40 paths, 5 points each, one second apart. */
  private def cycleLines(c: Int): Seq[String] =
    (0 until 200).map(i => s"spec.flush.m${i % 40} ${c * 7 + i % 13}.25 ${1700000000L + c * 200 + i}")

  test("a daemon TCP cycle: staging runs no job, the flush batch at most 2, " +
      "no commit or temp names left, committed slices deleted") {
    val store = Files.createTempDirectory("flush_cycle_store").toString
    val src = Files.createTempDirectory("flush_cycle_src").toString
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val daemon = new Daemon(spark, store, Some(1700002000L))
    sc.addSparkListener(listener)
    try {
      val port = daemon.startTcpIngest(src)
      val cycles = 5
      (0 until cycles).foreach { c =>
        send(port, cycleLines(c))
        awaitAccepted(daemon.tcpListener, 200L * (c + 1))
        sc.setJobGroup("flush-cycle-stage", "staging", false)
        try assert(daemon.tcpFlush(f"slice_$c%03d.parquet") == 200)
        finally sc.clearJobGroup()
        daemon.ingestQuery.processAllAvailable()
      }
      // the listener bus is asynchronous: wait for it to drain
      sc.setJobGroup("flush-cycle-end", "marker", false)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("flush-cycle-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val seen = groups.asScala.toSeq
      assert(seen.count(_ == "flush-cycle-stage") == 0, "staging must run no Spark job")
      val batches = daemon.ingestQuery.recentProgress.count(_.numInputRows > 0)
      assert(batches == cycles)
      val flushJobs = seen.count(_ == daemon.ingestQuery.runId.toString)
      assert(flushJobs <= 2 * batches, s"$flushJobs jobs for $batches flush batches")

      val slices = names(src).count(_.endsWith(".parquet"))
      assert(slices <= 2, s"srcDir holds $slices staged slices after $cycles cycles")
      Seq(store, src).foreach { root =>
        val left = names(root).filter(n =>
          n == "_temporary" || n == "_SUCCESS" || ParquetFiles.isTemp(n) || n.endsWith(".tmp.crc"))
        assert(left.isEmpty, s"$root keeps $left")
      }

      import spark.implicits._
      val sent = (0 until cycles).flatMap(cycleLines).zipWithIndex.map { case (l, i) =>
        val f = l.split(" ")
        (f(0), f(1).toDouble, f(2).toLong, i.toLong)
      }
      val want = Rollups.finalize(Rollups.mergeableFrom(sent.toDF("path", "value", "ts", "event_id")))
        .collect().map(_.toString).sorted
      assert(RollupStore.readFinalized(spark, store).collect().map(_.toString).sorted === want)
    } finally {
      sc.removeSparkListener(listener)
      daemon.stop()
    }
  }

  test("flush cycles, maintenance and a replay start no chmod or readlink process") {
    val store = Files.createTempDirectory("flush_fork_store").toString
    val src = Files.createTempDirectory("flush_fork_src").toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val daemon = new Daemon(spark, store, Some(1700002000L))
    rec.start()
    try {
      val port = daemon.startTcpIngest(src)
      (0 until 3).foreach { c =>
        send(port, cycleLines(c))
        awaitAccepted(daemon.tcpListener, 200L * (c + 1))
        assert(daemon.tcpFlush(f"slice_$c%03d.parquet") == 200)
        daemon.ingestQuery.processAllAvailable()
      }
      daemon.maintain()
      assert(CarbonStream.rollupQuery(spark, Sf).count() > 0)
    } finally {
      daemon.stop()
      rec.stop()
    }
    assert(layout(store).values.forall(_.size == 1), "maintenance folded no directory")
    val dump = Files.createTempFile("flush_forks", ".jfr")
    try {
      rec.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(forks.size == 0, s"chmod/readlink process starts, e.g. ${forks.take(3)}")
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  test("staging creates nothing outside srcDir and leaves no temp behind") {
    val src = Files.createTempDirectory("flush_stage_src").toString
    val events = spark.read.parquet(s"$Sf/events.parquet")
    val l = new TcpListener
    try {
      send(l.port, cycleLines(0))
      awaitAccepted(l, 200)
      val created = createdInTmpdir {
        Daemon.stageSlice(events.filter(col("event_id") % 2 === 0), src, "a.parquet")
        Daemon.stageSlice(events.filter(lit(false)), src, "empty.parquet")
        assert(l.flush(spark, src, "wire.parquet") == 200)
      }
      assert(created.isEmpty, s"staging created $created in java.io.tmpdir")
    } finally l.stop()
    assert(names(src).filterNot(n => n.startsWith(".") && n.endsWith(".crc"))
      .toSet == Set(java.nio.file.Paths.get(src).getFileName.toString,
        "a.parquet", "empty.parquet", "wire.parquet"))
    assert(spark.read.parquet(s"$src/a.parquet").count() ==
      events.filter(col("event_id") % 2 === 0).count())
    assert(spark.read.parquet(s"$src/empty.parquet").schema == events.schema)
    assert(spark.read.parquet(s"$src/wire.parquet").count() == 200)
  }

  test("startIngest over a fixture directory deletes nothing") {
    val src = Files.createTempDirectory("flush_fixture_src").toString
    val store = Files.createTempDirectory("flush_fixture_store").toString
    val events = spark.read.parquet(s"$Sf/events.parquet")
    (0 until 2).foreach(i =>
      Daemon.stageSlice(events.filter(pmod(col("event_id"), lit(2)) === i), src, s"s$i.parquet"))
    val daemon = new Daemon(spark, store)
    try {
      val q = daemon.startIngest(src)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally daemon.stop()
    assert(names(src).count(_.endsWith(".parquet")) == 2, "the fixture lost a file")
  }

  /** Relative partition directory → its `.parquet` files. */
  private def layout(store: String): Map[String, Seq[JPath]] = {
    val root = java.nio.file.Paths.get(store)
    val s = Files.walk(root)
    try s.iterator().asScala.toVector
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .groupBy(p => root.relativize(p.getParent).toString)
    finally s.close()
  }

  private def rowMetadata(p: JPath): String = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(p.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally r.close()
  }

  test("the published store equals the committer-written one") {
    val staged = Files.createTempDirectory("flush_eq_src").toString
    Daemon.stageSlice(Tables.metrics(spark, Sf), staged, "m.parquet")
    // a multi-partition state, clustered by a shuffle, and a flush batch's
    // single-partition state, clustered in place
    val states = Seq(Rollups.mergeableFrom(Tables.metrics(spark, Sf)),
      CarbonStream.flushState(spark.read.parquet(s"$staged/m.parquet"), RollupConfig.reference))
    for (state <- states; cap <- Seq(RollupStore.DefaultMaxRowsPerFile, 10L)) {
      val published = Files.createTempDirectory("flush_eq_published").toString
      val committed = Files.createTempDirectory("flush_eq_committed").toString
      RollupStore.appendStateSlice(state, published, cap)
      CommitterReference.appendStateSlice(state, committed, cap)
      val (got, want) = (layout(published), layout(committed))
      assert(got.keySet == want.keySet, s"cap $cap: directory sets differ")
      assert(got.map { case (d, fs) => d -> fs.size } == want.map { case (d, fs) => d -> fs.size },
        s"cap $cap: files per directory differ")
      if (cap == 10L) assert(got.values.exists(_.size > 1), "the cap split no directory")
      val meta = got.values.flatten.map(rowMetadata).toSet
      assert(meta.size == 1 && meta.head != null, "footers must carry Spark's row metadata")
      assert(meta == want.values.flatten.map(rowMetadata).toSet)
      assert(RollupStore.readFinalized(spark, published).collect().map(_.toString).sorted ===
        RollupStore.readFinalized(spark, committed).collect().map(_.toString).sorted)
    }
  }

  test("compaction sweeps an old orphaned temp and leaves a young one") {
    val store = Files.createTempDirectory("flush_sweep_store").toString
    (0 until 2).foreach(i => RollupStore.appendStateSlice(Rollups.mergeableFrom(
      Tables.metrics(spark, Sf).filter(pmod(col("event_id"), lit(2)) === i)), store))
    val dir = layout(store).keys.min
    def plant(name: String): JPath = {
      val p = java.nio.file.Paths.get(store, dir, name)
      Files.write(p, Array[Byte](1, 2, 3))
      p
    }
    val old = plant(".part-00000-old-c000.snappy.parquet.tmp")
    val young = plant(".part-00000-young-c000.snappy.parquet.tmp")
    old.toFile.setLastModified(System.currentTimeMillis() - RollupStore.CompactLeaseMs - 60000)
    val before = RollupStore.readFinalized(spark, store).collect().map(_.toString).sorted
    RollupStore.compact(spark, store)
    assert(!Files.exists(old), "an orphan older than the lease must be swept")
    assert(Files.exists(young), "a young temp may belong to a live append")
    assert(RollupStore.readFinalized(spark, store).collect().map(_.toString).sorted === before)
  }

  test("a flush batch's aggregation plans no exchange") {
    val staged = Files.createTempDirectory("flush_plan_src").toString
    Daemon.stageSlice(Tables.metrics(spark, Sf), staged, "m.parquet")
    val batch = spark.read.parquet(s"$staged/m.parquet")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec => e }.size
    }
    assert(exchanges(CarbonStream.flushState(batch, RollupConfig.reference)) == 0)
    assert(exchanges(Rollups.mergeableWith(batch, RollupConfig.reference)) > 0,
      "control: the uncoalesced aggregation must plan an exchange")
  }
}
