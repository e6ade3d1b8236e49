package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer metric names a traced run emits, with units. */
object Layers {
  val modules: Seq[String] = Seq("Rollups", "Series", "Carbon", "Wire", "Index",
    "MetricQuery", "OpsStats", "Dedup", "TextOps", "Bpe", "Curate",
    "Similarity", "Multimodal", "Analytics", "CarbonStream", "DedupStream",
    "SessionStream", "WireStream", "AnnStream")

  private def serve(route: String): Seq[(String, String)] = Seq(
    s"serve.$route.planning_ms" -> "ms", s"serve.$route.exec_ms" -> "ms",
    s"serve.$route.jobs" -> "count", s"serve.$route.tasks" -> "count",
    s"serve.$route.files_read" -> "count", s"serve.$route.bytes_read" -> "bytes",
    s"serve.$route.rows_read_per_row_returned" -> "ratio")

  /** Layers of the hosted daemon (daemon_ingest, daemon_query). */
  val daemon: Seq[(String, String)] = Seq(
    "listener.lines_accepted" -> "count", "listener.lines_rejected" -> "count",
    "listener.backlog_lines_max" -> "count",
    "gen.late_ms_p50" -> "ms", "gen.late_ms_max" -> "ms",
    "stage.calls" -> "count", "stage.busy_s" -> "s", "stage.rows" -> "count",
    "flush.batches" -> "count", "flush.queue_wait_s" -> "s",
    "flush.add_batch_s" -> "s", "flush.query_planning_s" -> "s",
    "flush.latest_offset_s" -> "s", "flush.wal_commit_s" -> "s",
    "flush.commit_offsets_s" -> "s", "flush.jobs" -> "count",
    "flush.tasks" -> "count", "flush.task_run_s" -> "s",
    "flush.files_written" -> "count", "flush.dirs_touched" -> "count",
    "compact.calls" -> "count", "compact.busy_s" -> "s",
    "compact.files_before" -> "count", "compact.files_after" -> "count",
    "compact.bytes_rewritten" -> "bytes", "compact.probe_stall_ms" -> "ms",
    "store.bytes_per_point" -> "bytes",
    "http.client_ms" -> "ms", "http.server_ms" -> "ms",
    "http.queue_wait_ms" -> "ms") ++
    serve("metrics") ++ serve("paths")

  /** Layers of the operator registry (operator_suite). */
  val ops: Seq[(String, String)] =
    modules.map(m => s"ops.$m.wall_s" -> "s") ++
    Seq("ops.planning_s" -> "s", "ops.jobs" -> "count", "ops.stages" -> "count",
      "ops.tasks" -> "count", "ops.task_run_s" -> "s",
      "ops.driver_gap_s" -> "s", "ops.shuffle_read_bytes" -> "bytes",
      "ops.shuffle_write_bytes" -> "bytes", "ops.spill_bytes" -> "bytes",
      "ops.input_bytes" -> "bytes", "ops.checkpoint_rdds" -> "count",
      "ops.stream.batches_data" -> "count", "ops.stream.batches_nodata" -> "count",
      "ops.stream.add_batch_s" -> "s", "ops.stream.query_planning_s" -> "s",
      "ops.stream.wal_commit_s" -> "s", "ops.stream.commit_offsets_s" -> "s",
      "ops.stream.state_commit_s" -> "s", "ops.stream.state_rows" -> "count")

  val common: Seq[(String, String)] =
    Seq("spark.core_busy_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio")

  /** Every per-layer metric; each workload emits all of them, 0 for the
    * layers it does not load.
    */
  val all: Seq[(String, String)] = daemon ++ ops ++ common
}

/** One completed stage, tagged with the job group that submitted it. */
final case class StageRec(group: String, submitMs: Long, completeMs: Long,
    tasks: Long, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inputBytes: Long, inputRecords: Long)

/** One job: its group and wall interval (end -1 while running). */
final case class JobRec(group: String, startMs: Long, endMs: Long)

/** One finished SQL execution as the QueryExecutionListener saw it. */
final case class ExecRec(startMs: Long, planningMs: Double, scanFiles: Long,
    scanBytes: Long, writePath: Option[String], writeFiles: Long,
    writeParts: Long, writeBytes: Long)

/** A benchmark-side span: one call into a layer, on one thread. */
final case class Span(id: Long, parent: Long, name: String, group: String,
    startNs: Long, endNs: Long)

/** The traced run's observer, registered only by the benchmark: a
  * SparkListener (job/stage counters by job group), a
  * QueryExecutionListener (planning time, files scanned and written) and a
  * StreamingQueryListener (micro-batch progress), plus an in-memory span
  * recorder the workloads wrap around each call into a layer. Job groups
  * are set by the benchmark on its own threads, the flush query's jobs
  * carry its run id, and the HTTP server's jobs carry none
  * ([[ServerLog.Group]]).
  */
final class Recorder(spark: SparkSession, val cpus: Int) {
  private val sc = spark.sparkContext
  private val stageGroup = TrieMap.empty[Int, String]
  val jobs = TrieMap.empty[Int, JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val progress = new ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      jobs.put(e.jobId, JobRec(g, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val g = stageGroup.remove(si.stageId).getOrElse("none")
      val sub = si.submissionTime.getOrElse(0L)
      val done = si.completionTime.getOrElse(sub)
      stages.add(
        if (tm == null) StageRec(g, sub, done, si.numTasks, 0, 0, 0, 0, 0, 0)
        else StageRec(g, sub, done, si.numTasks, tm.executorRunTime,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled,
          tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead))
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val planning = phases.map(_.durationMs).sum.toDouble
      val startMs = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      var scanFiles, scanBytes, wFiles, wParts, wBytes = 0L
      var wPath: Option[String] = None
      def m(n: SparkPlan, k: String) = n.metrics.get(k).fold(0L)(_.value)
      planNodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          scanFiles += m(s, "numFiles"); scanBytes += m(s, "filesSize")
        case w: DataWritingCommandExec =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => wPath = Some(i.outputPath.toString)
            case _ =>
          }
          def cm(k: String) = w.cmd.metrics.get(k).fold(0L)(_.value)
          wFiles += cm("numFiles"); wParts += cm("numParts"); wBytes += cm("numOutputBytes")
        case _ =>
      }
      execs.add(ExecRec(startMs, planning, scanFiles, scanBytes, wPath, wFiles, wParts, wBytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress, System.currentTimeMillis()))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var sessions: Seq[SparkSession] = Nil

  /** Attach. A streaming query already running executes its batches in a
    * session cloned at its start; pass it in `running` so its SQL
    * executions are observed too (queries started later inherit the
    * listener from the session they clone).
    */
  def start(running: Seq[StreamingQuery] = Nil): Unit = {
    sessions = spark +: running.map {
      case w: StreamingQueryWrapper =>
        // the stream's own session is protected in Scala, public in bytecode
        w.streamingQuery.getClass.getMethod("sparkSessionForStream")
          .invoke(w.streamingQuery).asInstanceOf[SparkSession]
      case q => q.sparkSession
    }
    sc.addSparkListener(jobListener)
    sessions.foreach(_.listenerManager.register(qeListener))
    spark.streams.addListener(streamListener)
  }

  /** Deliver every pending event, then detach. */
  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    spark.streams.removeListener(streamListener)
    sessions.foreach(_.listenerManager.unregister(qeListener))
    sc.removeSparkListener(jobListener)
  }

  /** Time `body` as one span named `name`, nested under the thread's open span. */
  def span[A](name: String, group: String = "")(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(id, parent, name, group, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** Record a span measured elsewhere (e.g. by an HTTP client thread). */
  def record(name: String, startNs: Long, endNs: Long, group: String = ""): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, name, group, startNs, endNs))

  def spanList: Seq[Span] = spans.asScala.toSeq

  /** Seconds per span name, minus the time covered by its child spans. */
  def selfTimes: Map[String, Double] = {
    val all = spanList
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    all.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  def stagesOf(p: String => Boolean): Seq[StageRec] = stages.asScala.toSeq.filter(s => p(s.group))
  def jobsOf(p: String => Boolean): Seq[JobRec] = jobs.values.toSeq.filter(j => p(j.group))
  /** SQL executions that started inside `[startMs, endMs]`. Executions
    * are matched by time: the listener's records carry no job group.
    */
  def execsIn(startMs: Double, endMs: Double): Seq[ExecRec] =
    execs.asScala.toSeq.filter(e => e.startMs >= startMs - 1 && e.startMs <= endMs + 1)
  def allExecs: Seq[ExecRec] = execs.asScala.toSeq

  /** Total task run time, as a share of wall × cores. */
  def coreBusyRatio(wallS: Double): Double =
    stages.asScala.map(_.runMs).sum / 1000.0 / (wallS * cpus)

  def writeSpans(p: Path): Unit = {
    val lines = spanList.sortBy(_.startNs).map(s => Json.obj(
      "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
      "name" -> Json.str(s.name), "group" -> Json.str(s.group),
      "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble)))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Recorder {
  /** Sum of a progress's named duration over the given progresses, in s. */
  def durS(ps: Seq[StreamingQueryProgress], key: String): Double =
    ps.map(p => Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum / 1000.0

  /** Total ms of `[start, end]` intervals after merging overlaps. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
