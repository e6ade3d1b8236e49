package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.Daemon
import graft.api.MetricsHttpServer

/** The server-side view of the daemon's HTTP layer. The daemon's API
  * server writes one access-log line per request after the response
  * (`[status] METHOD /route (Nus)`); the benchmark points that sink at
  * this log instead of stderr, which gives each request's route and
  * server-side interval without touching the program.
  */
final class ServerLog {
  final case class Entry(route: String, code: Int, startMs: Double, endMs: Double)
  private val entries = new ConcurrentLinkedQueue[Entry]()
  private val Line = """\[(\d+)\] (\S+) /(\S*) \((\d+)us\)""".r

  def sink(line: String): Unit = line match {
    case Line(code, _, route, us) =>
      val end = System.currentTimeMillis().toDouble
      entries.add(Entry(route, code.toInt, end - us.toLong / 1000.0, end))
    case _ =>
  }

  def clear(): Unit = entries.clear()
  def all: Seq[Entry] = entries.asScala.toSeq
}

object ServerLog {
  /** Route the hosted daemon's access log into `log`. */
  def attach(daemon: Daemon, log: ServerLog): Unit = {
    val f = classOf[Daemon].getDeclaredFields
      .find(_.getType == classOf[MetricsHttpServer])
      .getOrElse(sys.error("Daemon holds no MetricsHttpServer field"))
    f.setAccessible(true)
    f.get(daemon).asInstanceOf[MetricsHttpServer].accessLogSink = log.sink
  }

  /** Job group of the Spark work the API server runs. The JDK server's
    * dispatcher thread is created without inheriting thread locals, so its
    * jobs carry no group; every other thread the benchmark drives sets one.
    */
  val Group = "none"

  /** `http.*` and `serve.<route>.*` layer metrics of one traced pass.
    * Spark work is attributed to a request when it starts inside that
    * request's server-side interval (the server handles one request at a
    * time); `rowsReturned` is per route, counted by the clients.
    */
  def layers(rec: Recorder, log: ServerLog, clientMs: Seq[Double],
      rowsReturned: Map[String, Long]): Map[String, Double] = {
    val served = log.all
    val jobs = rec.jobsOf(_ == Group)
    val stages = rec.stagesOf(_ == Group)
    // the server's executions write nothing; flush and compaction writes
    // running beside a probe are not serve work
    val execs = rec.allExecs.filter(_.writePath.isEmpty)
    def in(t: Double, e: ServerLog#Entry) = t >= e.startMs - 1 && t <= e.endMs + 1
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val serverMs = served.map(e => e.endMs - e.startMs)
    val perRoute = Seq("metrics", "paths").flatMap { route =>
      val reqs = served.filter(_.route == route)
      val rs = reqs.map { e =>
        val js = jobs.filter(j => in(j.startMs.toDouble, e))
        val ss = stages.filter(s => in(s.submitMs.toDouble, e))
        val xs = execs.filter(x => in(x.startMs.toDouble, e))
        (xs.map(_.planningMs).sum,
          Recorder.coveredMs(js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))).toDouble,
          js.size.toDouble, ss.map(_.tasks).sum.toDouble,
          xs.map(_.scanFiles).sum.toDouble, xs.map(_.scanBytes).sum.toDouble,
          ss.map(_.inputRecords).sum.toDouble)
      }
      val rows = rowsReturned.getOrElse(route, 0L)
      Seq(
        s"serve.$route.planning_ms" -> mean(rs.map(_._1)),
        s"serve.$route.exec_ms" -> mean(rs.map(_._2)),
        s"serve.$route.jobs" -> mean(rs.map(_._3)),
        s"serve.$route.tasks" -> mean(rs.map(_._4)),
        s"serve.$route.files_read" -> mean(rs.map(_._5)),
        s"serve.$route.bytes_read" -> mean(rs.map(_._6)),
        s"serve.$route.rows_read_per_row_returned" ->
          (if (rows == 0) 0.0 else rs.map(_._7).sum / rows))
    }
    (Seq(
      "http.client_ms" -> mean(clientMs),
      "http.server_ms" -> mean(serverMs),
      "http.queue_wait_ms" -> math.max(0.0, mean(clientMs) - mean(serverMs))) ++ perRoute).toMap
  }
}
