package graft.perfbench

import java.io.OutputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Daemon, TcpListener}
import graft.api.MetricsApi
import graft.model.RollupConfig
import graft.operators.{Index, Rollups}

/** `daemon_ingest`: the write path under an open-loop Carbon feed.
  *
  * A hosted [[graft.Daemon]] listens on TCP; one generator thread sends
  * seeded lines over two connections on a fixed schedule (it does not slow
  * when the daemon does). Every `cycle_ms` the benchmark calls `tcpFlush`
  * (staging the cycle's slice for the flush query), every `compact_every`
  * cycles it runs `maintain` on a maintenance thread, and after each cycle
  * one probe client sends a `GET /metrics`. After the paced phase, short
  * firehose bursts into a bare [[graft.TcpListener]] give the listener
  * ceiling.
  *
  * Headline figures: flush→visible latency per cycle (from when the
  * cycle's last line was due to the flush batch's commit, seen through the
  * query's progress events) and the listener ceiling.
  */
final class DaemonIngest(spark: SparkSession, args: Main.Args, work: Path)
    extends Main.Workload {

  private val rate = args.int("rate")
  private val cycleMs = args.int("cycle_ms")
  private val compactEvery = args.int("compact_every")
  private val badShare = args.dbl("malformed_share")
  private val fireLines = args.int("firehose_lines")
  private val fireReps = args.int("firehose_reps")
  private val warmCycles = args.int("warmup_cycles")

  private val rnd = new Random(args.seed)
  private val linesPerCycle = rate * cycleMs / 1000
  private val cycles = math.max(1, args.seconds * 1000 / cycleMs)
  private val P = Catalog.paths.size
  /** Seeded virtual clock: epoch second of the first generated point. */
  private val vt0 = 1700000000L + (args.seed.abs % 1000) * 7919L
  private val passes = if (args.trace) 3 else 1
  private val totalLines = (warmCycles + passes * cycles).toLong * linesPerCycle
  /** The daemon's "now" for table selection: the end of the virtual clock. */
  private val vNow = vt0 + totalLines / P + 1

  private val store = work.resolve("store").toString
  private val src = work.resolve("src")
  private var daemon: Daemon = _
  private var api: ApiClient = _
  private val serverLog = new ServerLog

  // what was sent, for the checks
  private val valid = ArrayBuffer.empty[Point]
  private var malformedSent = 0L
  private var nextLine = 0L
  private var block = Vector.empty[String]

  // flush commits seen through the query's progress: batchId → (rows, wall ns)
  private val commits = new ConcurrentHashMap[Long, (Long, Long)]()
  private var slices = 0L

  /** The next `n` lines of the feed: each virtual second every catalog
    * path gets one point, in a seeded order; a seeded share is malformed.
    */
  private def nextLines(n: Int): Array[String] = Array.fill(n) {
    val g = nextLine
    nextLine += 1
    if (g % P == 0) block = rnd.shuffle(Catalog.paths)
    val path = block((g % P).toInt)
    val ts = vt0 + g / P
    if (rnd.nextDouble() < badShare) {
      malformedSent += 1
      Points.malformed(rnd, path, ts)
    } else {
      val p = Point(path, Points.value(rnd), ts, g)
      valid += p
      Points.line(p)
    }
  }

  private val commitListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (daemon != null && daemon.ingestQuery != null && p.id == daemon.ingestQuery.id &&
          p.numInputRows > 0)
        commits.put(p.batchId, (p.numInputRows, System.nanoTime()))
    }
  }

  def setup(): Unit = {
    Files.createDirectories(src)
    spark.streams.addListener(commitListener)
    daemon = new Daemon(spark, store, Some(vNow))
    val port = daemon.startHttp()
    ServerLog.attach(daemon, serverLog)
    api = new ApiClient(port)
    daemon.startTcpIngest(src.toString)
    Log.info("setup: daemon started")
    // warm-up: a few cycles through the whole path, one compaction, one probe
    val conn = new Socket("127.0.0.1", daemon.tcpListener.port)
    (0 until warmCycles).foreach { _ =>
      val before = received
      val ls = nextLines(linesPerCycle)
      conn.getOutputStream.write(ls.mkString.getBytes(UTF_8))
      conn.getOutputStream.flush()
      awaitReceived(before + ls.length)
      stage(None)
      awaitCommits()
    }
    conn.close()
    Log.info(s"setup: $warmCycles warm-up cycles committed")
    daemon.maintain()
    probe(None, new AtomicBoolean(false))
    firehose(1)
    Log.info("setup: warm-up compaction, probe and firehose done")
  }

  private def received: Long =
    daemon.tcpListener.receivedOk.get + daemon.tcpListener.receivedFail.get

  private def awaitReceived(n: Long): Unit =
    while (received < n) LockSupport.parkNanos(200000L)

  /** Stage the pending lines as one slice; (rows, end wall ms). */
  private def stage(rec: Option[Recorder]): (Int, Long) = {
    val name = f"slice_$slices%06d.parquet"
    val rows = rec.fold(daemon.tcpFlush(name))(_.span("stage", "stage")(daemon.tcpFlush(name)))
    if (rows > 0) slices += 1
    (rows, System.currentTimeMillis())
  }

  private def awaitCommits(timeoutMs: Long = 120000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (commits.size < slices && System.currentTimeMillis() < deadline) Thread.sleep(2)
    commits.size >= slices
  }

  /** The firehose's bytes, one buffer per connection. */
  private lazy val firePayload: Array[Array[Byte]] = Array.tabulate(2) { c =>
    val r = new Random(args.seed * 31 + c)
    val sb = new StringBuilder
    (0 until fireLines / 2).foreach { i =>
      sb.append(Catalog.paths(r.nextInt(P))).append(' ')
        .append(r.nextInt(1000000)).append(' ').append(vt0 + i).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Firehose bursts into a bare listener: lines/s over all `reps` bursts
    * together, so collector pauses count in proportion rather than by
    * whether a short burst happened to hit one.
    */
  private def firehose(reps: Int): Double = {
    val payload = firePayload
    val sent = 2L * (fireLines / 2)
    val seconds = (0 until reps).map { _ =>
      val l = new TcpListener
      try {
        val conns = Array.fill(2)(new Socket("127.0.0.1", l.port))
        val chunk = 64 * 1024
        val t0 = System.nanoTime()
        var off = 0
        while (off < payload(0).length || off < payload(1).length) {
          (0 until 2).foreach { c =>
            val n = math.min(chunk, payload(c).length - off)
            if (n > 0) conns(c).getOutputStream.write(payload(c), off, n)
          }
          off += chunk
        }
        conns.foreach(_.shutdownOutput())
        while (l.receivedOk.get + l.receivedFail.get < sent) LockSupport.parkNanos(100000L)
        val s = (System.nanoTime() - t0) / 1e9
        conns.foreach(_.close())
        s
      } finally l.stop()
    }
    reps * sent / seconds.sum
  }

  /** One read probe; (latency ms, ok, overlapped a compaction). */
  private def probe(rec: Option[Recorder], compacting: AtomicBoolean): (Double, Boolean, Boolean) = {
    val paths = Seq.fill(1 + rnd.nextInt(3))(Catalog.paths(rnd.nextInt(P))).distinct
    val during0 = compacting.get
    val r = api.get(ApiClient.metricsUrl(paths, vNow - 3600, vNow))
    val during = during0 || compacting.get
    rec.foreach(_.record("http.probe", r.startNs, r.endNs, "probe"))
    val ok = r.code == 200 && {
      try Json.fields(Json.parse(r.body).get("series")).map(_._1).toSet == paths.toSet
      catch { case _: Exception => false }
    }
    (r.ms, ok, during)
  }

  private def storeFiles(): Seq[Path] =
    if (!Files.exists(java.nio.file.Paths.get(store))) Nil
    else {
      val s = Files.walk(java.nio.file.Paths.get(store))
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_compact")).toVector
      finally s.close()
    }

  def measure(rec: Option[Recorder]): Main.Measured = {
    rec.foreach(_.start(Seq(daemon.ingestQuery)))
    val lines = Array.fill(cycles)(nextLines(linesPerCycle))
    val sentBase = received
    val okBase = daemon.tcpListener.receivedOk.get
    val failBase = daemon.tcpListener.receivedFail.get
    val total = cycles * linesPerCycle
    val nsPerLine = 1e9 / rate
    val conns = Array.fill(2)(new Socket("127.0.0.1", daemon.tcpListener.port))
    val outs: Array[OutputStream] = conns.map(_.getOutputStream)
    val sent = new AtomicLong(0)
    val late = ArrayBuffer.empty[Double]
    var backlogMax = 0L
    val tStart = System.nanoTime() + 20000000L

    // the open-loop generator: every line is due at tStart + i / rate
    val gen = new Thread(() => {
      var i = 0
      var chunkNo = 0
      while (i < total) {
        val now = System.nanoTime()
        val due = math.min(total.toLong, ((now - tStart) / nsPerLine).toLong + 1).toInt
        if (due > i) {
          val sb = new StringBuilder
          (i until due).foreach(j => sb.append(lines(j / linesPerCycle)(j % linesPerCycle)))
          late += (now - (tStart + i * nsPerLine)) / 1e6
          outs(chunkNo % 2).write(sb.toString.getBytes(UTF_8))
          chunkNo += 1
          i = due
          sent.set(i)
          backlogMax = math.max(backlogMax, sentBase + i - received)
        } else LockSupport.parkNanos(math.max(0L, (tStart + i * nsPerLine - now).toLong))
      }
      outs.foreach(_.flush())
    }, "perfbench-gen")
    gen.setDaemon(true)

    // maintenance thread: one `maintain` per signal
    val compacting = new AtomicBoolean(false)
    val maintQ = new LinkedBlockingQueue[Option[Int]]()
    final case class Compaction(startMs: Long, endMs: Long, before: Int, after: Int)
    val compactions = ArrayBuffer.empty[Compaction]
    val maint = new Thread(() => {
      spark.sparkContext.setJobGroup("compact", "compact", false)
      var go = true
      while (go) maintQ.take() match {
        case None => go = false
        case Some(_) =>
          compacting.set(true)
          val before = if (rec.isDefined) storeFiles().size else 0
          val t0 = System.currentTimeMillis()
          rec.fold(daemon.maintain())(_.span("compact", "compact")(daemon.maintain()))
          val t1 = System.currentTimeMillis()
          compacting.set(false)
          val after = if (rec.isDefined) storeFiles().size else 0
          compactions.synchronized(compactions += Compaction(t0, t1, before, after))
      }
    }, "perfbench-maintain")

    // read probe: one GET /metrics after each cycle
    val probeQ = new LinkedBlockingQueue[Option[Int]]()
    val probes = ArrayBuffer.empty[(Double, Boolean, Boolean)]
    val prober = new Thread(() => {
      var go = true
      while (go) probeQ.take() match {
        case None => go = false
        case Some(_) =>
          val p = probe(rec, compacting)
          probes.synchronized(probes += p)
      }
    }, "perfbench-probe")

    spark.sparkContext.setJobGroup("stage", "stage", false)
    val staged = ArrayBuffer.empty[(Long, Int, Long, Long)] // slice, rows, lastDueNs, stagedMs
    maint.start(); prober.start(); gen.start()
    (0 until cycles).foreach { k =>
      val lastDue = tStart + (((k + 1) * linesPerCycle - 1) * nsPerLine).toLong
      val wait = lastDue - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      while (sent.get < (k + 1) * linesPerCycle) LockSupport.parkNanos(100000L)
      awaitReceived(sentBase + (k + 1).toLong * linesPerCycle)
      val slice = slices
      val (rows, stagedMs) = stage(rec)
      if (rows > 0) staged += ((slice, rows, lastDue, stagedMs))
      probeQ.put(Some(k))
      if ((k + 1) % compactEvery == 0) maintQ.put(Some(k))
    }
    gen.join()
    val allCommitted = awaitCommits()
    probeQ.put(None); maintQ.put(None)
    prober.join(); maint.join()
    val endNs = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    conns.foreach(_.close())
    // the listener ceiling last, once the paced phase has warmed the line path
    val ceiling = firehose(fireReps)

    val visibleMs = staged.flatMap { case (slice, _, due, _) =>
      Option(commits.get(slice)).map { case (_, at) => (at - due) / 1e6 }
    }.toSeq
    val badCycles = staged.count { case (slice, rows, _, _) =>
      !Option(commits.get(slice)).exists(_._1 == rows)
    } + (if (allCommitted) 0 else 1)
    val (tail, q) = Stats.tail(visibleMs)
    Log.info(s"flush visible ms per cycle: ${visibleMs.map(v => f"$v%.0f").mkString(" ")}")
    val probeOk = probes.count(_._2)
    val storeBytes = storeFiles().map(Files.size).sum.toDouble
    val committedRows = commits.values.asScala.map(_._1).sum
    val lost = math.max(0L, valid.size - committedRows)

    val layers = rec.fold(Map.empty[String, Double]) { r =>
      r.stop()
      val wallS = (endNs - tStart) / 1e9
      val q = daemon.ingestQuery
      val flushP = r.progress.asScala.toSeq.map(_._1)
        .filter(p => p.id == q.id && p.numInputRows > 0)
      val stagedAt = staged.map { case (s, _, _, ms) => s -> ms }.toMap
      val queueWait = flushP.flatMap { p =>
        stagedAt.get(p.batchId).map(ms =>
          math.max(0L, java.time.Instant.parse(p.timestamp).toEpochMilli - ms) / 1000.0)
      }.sum
      val flushGroup = q.runId.toString
      val flushStages = r.stagesOf(_ == flushGroup)
      val storeRoot = java.nio.file.Paths.get(store).toUri.getPath.stripSuffix("/")
      val writes = r.allExecs.flatMap(e => e.writePath.map(w => (new java.net.URI(w).getPath.stripSuffix("/"), e)))
      val flushWrites = writes.collect { case (w, e) if w == storeRoot => e }
      val compactWrites = writes.collect { case (w, e) if w == storeRoot + "/_compact" => e }
      val stageSpans = r.spanList.filter(_.name == "stage")
      val cs = compactions.toSeq
      val (during, outside) = probes.toSeq.partition(_._3)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Map(
        "listener.lines_accepted" -> (daemon.tcpListener.receivedOk.get - okBase).toDouble,
        "listener.lines_rejected" -> (daemon.tcpListener.receivedFail.get - failBase).toDouble,
        "listener.backlog_lines_max" -> backlogMax.toDouble,
        "gen.late_ms_p50" -> Stats.median(late.toSeq),
        "gen.late_ms_max" -> late.max,
        "stage.calls" -> stageSpans.size.toDouble,
        "stage.busy_s" -> stageSpans.map(s => s.endNs - s.startNs).sum / 1e9,
        "stage.rows" -> staged.map(_._2.toDouble).sum,
        "flush.batches" -> flushP.size.toDouble,
        "flush.queue_wait_s" -> queueWait,
        "flush.add_batch_s" -> Recorder.durS(flushP, "addBatch"),
        "flush.query_planning_s" -> Recorder.durS(flushP, "queryPlanning"),
        "flush.latest_offset_s" -> Recorder.durS(flushP, "latestOffset"),
        "flush.wal_commit_s" -> Recorder.durS(flushP, "walCommit"),
        "flush.commit_offsets_s" -> Recorder.durS(flushP, "commitOffsets"),
        "flush.jobs" -> r.jobsOf(_ == flushGroup).size.toDouble,
        "flush.tasks" -> flushStages.map(_.tasks).sum.toDouble,
        "flush.task_run_s" -> flushStages.map(_.runMs).sum / 1000.0,
        "flush.files_written" -> flushWrites.map(_.writeFiles).sum.toDouble,
        "flush.dirs_touched" -> flushWrites.map(_.writeParts).sum.toDouble,
        "compact.calls" -> cs.size.toDouble,
        "compact.busy_s" -> cs.map(c => c.endMs - c.startMs).sum / 1000.0,
        "compact.files_before" -> cs.map(_.before.toDouble).sum,
        "compact.files_after" -> cs.map(_.after.toDouble).sum,
        "compact.bytes_rewritten" -> compactWrites.map(_.writeBytes).sum.toDouble,
        "compact.probe_stall_ms" ->
          (if (during.isEmpty) 0.0 else mean(during.map(_._1)) - mean(outside.map(_._1))),
        "store.bytes_per_point" -> storeBytes / valid.size,
        "spark.core_busy_ratio" -> r.coreBusyRatio(wallS)
      ) ++ ServerLog.layers(r, serverLog, probes.map(_._1).toSeq, Map.empty)
    }
    serverLog.clear()

    Main.Measured(
      p50Ms = Stats.median(visibleMs), tailMs = tail, tailQ = q, tailN = visibleMs.size,
      ratePerS = ceiling,
      named = Seq(
        ("listener_ceiling_lines_per_s", ceiling, "1/s"),
        ("flush_visible_p50_s", Stats.median(visibleMs) / 1000, "s"),
        ("flush_visible_tail_s", tail / 1000, "s"),
        ("ingest_loss_ratio", lost.toDouble / valid.size, "ratio"),
        ("store_bytes_per_point", storeBytes / valid.size, "bytes"),
        ("query_fail_ratio", (probes.size - probeOk).toDouble / math.max(1, probes.size), "ratio"),
        ("cycles", staged.size.toDouble, "count"),
        ("visible_ms_min", visibleMs.min, "ms"), ("visible_ms_max", visibleMs.max, "ms"),
        ("compactions", compactions.size.toDouble, "count")),
      attempted = probes.size + staged.size,
      failed = (probes.size - probeOk) + badCycles,
      layers = layers)
  }

  /** Served answers against a one-pass batch recomputation over the
    * accepted lines, and the listener's counters against what was sent.
    */
  def check(): (Long, Long) = {
    var attempted = 0L
    var failed = 0L
    def expect(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }
    expect(daemon.tcpListener.receivedFail.get == malformedSent,
      s"rejected ${daemon.tcpListener.receivedFail.get} != malformed sent $malformedSent")
    expect(daemon.tcpListener.receivedOk.get == valid.size,
      s"accepted ${daemon.tcpListener.receivedOk.get} != valid sent ${valid.size}")
    expect(commits.values.asScala.map(_._1).sum == valid.size,
      "flush batches did not commit every accepted line")

    spark.sparkContext.setJobGroup("check", "check", false)
    val truth = Rollups.finalize(Rollups.mergeAll(
      Rollups.mergeableWith(Points.frame(spark, valid.toSeq), RollupConfig.reference)))
    val local = spark.createDataFrame(truth.collect().toSeq.asJava, truth.schema)
    // ages that between them read every rollup table of the reference config
    Seq(1800L, 1000000L, 5000000L).foreach { age =>
      val want = MetricsApi.getMetricsFrom(local, Catalog.paths, vNow - age, vNow, vNow)
      val r = api.get(ApiClient.metricsUrl(Catalog.paths, vNow - age, vNow))
      expect(r.code == 200 && ApiClient.metricsMatch(r.body, want), s"GET /metrics age=$age")
    }
    val idx = Index.indexFrom(Points.frame(spark, valid.toSeq).select("path").distinct())
    Seq(("*.*", None), ("servers.*.*", None), ("apps.*.*.*", Some("apps"))).foreach { case (glob, tenant) =>
      val want = MetricsApi.getPathsFrom(idx, glob, tenant)
      val r = api.get(ApiClient.pathsUrl(glob, tenant))
      expect(r.code == 200 && ApiClient.pathsMatch(r.body, want), s"GET /paths $glob")
    }
    spark.sparkContext.clearJobGroup()
    (attempted, failed)
  }

  def close(): Unit = {
    spark.streams.removeListener(commitListener)
    if (daemon != null) daemon.stop()
  }
}
