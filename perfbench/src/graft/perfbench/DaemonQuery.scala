package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.Daemon
import graft.api.MetricsApi
import graft.model.RollupConfig
import graft.operators.{Index, Rollups}
import graft.sources.RollupStore

/** `daemon_query`: the read path of a hosted [[graft.Daemon]].
  *
  * Set-up writes `slices` flush slices through the daemon's own write
  * functions (`Rollups.mergeableWith` → `RollupStore.appendStateSlice`),
  * un-compacted, so every partition directory holds several slices — the
  * state a live daemon serves between maintenance passes. Then `clients`
  * closed-loop HTTP clients cycle through a fixed block of requests:
  * `GET /metrics` with 1–4 Zipf-popular paths and `from` ages drawn across
  * every retention boundary, and `GET /paths` globs at depths 1–4, some
  * tenant-scoped. Every seed sends the same block; the seed picks the
  * stored points and the order of each pass through the block. No ingest
  * runs, so the write layers stay idle.
  */
final class DaemonQuery(spark: SparkSession, args: Main.Args, work: Path)
    extends Main.Workload {

  private val slices = args.int("slices")
  private val pointsPerPathSlice = args.int("points_per_path_slice")
  private val spanSec = args.int("span_s").toLong
  private val clients = args.int("clients")
  private val metricsShare = args.dbl("metrics_share")
  /** Self-test hook: alter one served answer before the checks see it. */
  private val corruptAnswer = args.params.get("corrupt_answer").contains("1")

  private val rnd = new Random(args.seed)
  /** Seeded "now", late in a UTC day so the last `span_s` seconds (and so
    * every slice) fall in one stat_date partition per table.
    */
  private val vNow = 1700006400L + (args.seed.abs % 1000) * 86400L + 80000L
  private val store = work.resolve("store").toString
  private var daemon: Daemon = _
  private var api: Array[ApiClient] = _
  private val serverLog = new ServerLog
  private var points: Seq[Point] = Nil

  /** Retention boundaries of the reference config; `from` ages are drawn
    * from each band between consecutive boundaries and beyond the last.
    */
  private val bands: Seq[(Long, Long)] = {
    val b = RollupConfig.reference.flatMap(_.windows.map(_.retentionSec)).distinct.sorted
    ((600L +: b) zip (b :+ b.last * 2)).map { case (lo, hi) => (lo, hi) }
  }

  sealed trait Req { def url: String; def route: String }
  final case class GetMetrics(paths: Seq[String], from: Long) extends Req {
    val url = ApiClient.metricsUrl(paths, from, vNow); val route = "metrics"
  }
  final case class GetPaths(glob: String, tenant: Option[String]) extends Req {
    val url = ApiClient.pathsUrl(glob, tenant); val route = "paths"
  }

  /** Globs at depths 1–4, three of them tenant-scoped. */
  private val globs: Seq[(String, Option[String])] = Seq(
    ("*", None), ("apps.*", Some("apps")), ("servers.*.u[0-3]", None),
    ("*.c1.*", Some("db")), ("*.*.*.*", None), ("apps.*.h01.*", Some("apps")))

  /** The request block, the same for every seed: twenty requests, so a
    * run makes a few passes through it. Stratified so each ten requests
    * hold `metrics_share` × 10 metrics requests, which cycle through 1–4
    * paths and every retention band (Zipf paths and ages inside a band
    * from a fixed generator), while path requests cycle through the globs.
    */
  private val block: Vector[Req] = {
    val rnd = new Random(0x5eed5L)
    val zipf = new Catalog.Zipf(Catalog.paths.size, rnd)
    val perTen = math.round(metricsShare * 10).toInt
    var m, g = 0
    Vector.fill(2)(rnd.shuffle(Seq.fill(perTen)(true) ++ Seq.fill(10 - perTen)(false)))
      .flatten.map { isMetrics =>
        if (isMetrics) {
          val paths = Iterator.continually(Catalog.paths(zipf.next())).distinct.take(1 + m % 4).toSeq
          val (lo, hi) = bands(m % bands.size)
          m += 1
          GetMetrics(paths, vNow - (lo + (hi - lo) / 4 * (1 + rnd.nextInt(3))))
        } else {
          g += 1
          val (glob, t) = globs(g % globs.size)
          GetPaths(glob, t)
        }
      }
  }

  /** Passes through the block, each in its own seeded order. */
  private def requests(rnd: Random): Vector[Req] =
    Vector.fill(200)(rnd.shuffle(block)).flatten

  private val seq = ArrayBuffer.empty[Req]
  private val served = ArrayBuffer.empty[(Req, Int, String)]

  def setup(): Unit = {
    // distinct (path, ts) per point, spread over the last `span_s` seconds
    val prng = new Random(args.seed ^ 0x5eedL)
    var id = 0L
    val bySlice = Catalog.paths.flatMap { path =>
      val offs = Iterator.continually(prng.nextLong(spanSec)).distinct
        .take(slices * pointsPerPathSlice).toVector
      offs.zipWithIndex.map { case (o, i) =>
        id += 1
        (i % slices, Point(path, Points.value(prng), vNow - o, id))
      }
    }.groupBy(_._1)
    points = bySlice.values.flatten.map(_._2).toSeq
    Log.info(s"setup: ${points.size} points generated")
    (0 until slices).foreach { s =>
      RollupStore.appendStateSlice(
        Rollups.mergeableWith(Points.frame(spark, bySlice(s).map(_._2)), RollupConfig.reference),
        store)
      Log.info(s"setup: slice $s appended")
    }
    daemon = new Daemon(spark, store, Some(vNow))
    val port = daemon.startHttp()
    ServerLog.attach(daemon, serverLog)
    api = Array.fill(clients)(new ApiClient(port))
    seq ++= requests(rnd)
    // warm-up: the same closed loop over one pass through the block, in its
    // own seeded order; a fixed amount of work, not of time
    val warm = closedLoop(requests(new Random(args.seed + 1)).take(block.size), 120, None)
    require(warm.forall(_._2.code == 200), "warm-up request failed")
    Log.info(s"setup: ${warm.size} warm-up requests served")
    serverLog.clear()
  }

  /** Every client sends the next request of `reqs` as soon as its last
    * answer arrived, until `seconds` have passed or `reqs` ran out.
    */
  private def closedLoop(reqs: IndexedSeq[Req], seconds: Int,
      rec: Option[Recorder]): Seq[(Req, Reply)] = {
    val next = new AtomicInteger(0)
    val deadline = System.nanoTime() + seconds * 1000000000L
    val replies = ArrayBuffer.empty[(Req, Reply)]
    val threads = api.map { client =>
      val t = new Thread(() => {
        val mine = ArrayBuffer.empty[(Req, Reply)]
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < reqs.size) {
          val req = reqs(i)
          val r = client.get(req.url)
          rec.foreach(_.record(s"http.${req.route}", r.startNs, r.endNs, "client"))
          mine += (req -> r)
          i = next.getAndIncrement()
        }
        replies.synchronized(replies ++= mine)
      }, "perfbench-client")
      t.start()
      t
    }
    threads.foreach(_.join())
    replies.toSeq
  }

  def measure(rec: Option[Recorder]): Main.Measured = {
    rec.foreach(_.start())
    val t0 = System.nanoTime()
    val replies = closedLoop(seq.toIndexedSeq, args.seconds, rec)
    val wallS = (System.nanoTime() - t0) / 1e9
    replies.foreach { case (req, r) => served += ((req, r.code, r.body)) }

    val ms = replies.map(_._2.ms).toSeq
    def route(r: String) = replies.filter(_._1.route == r).map(_._2.ms).toSeq
    val (tail, q) = Stats.tail(ms)
    val named = Seq("metrics", "paths").flatMap { r =>
      val xs = route(r)
      if (xs.isEmpty) Nil
      else Seq((s"get_${r}_p50_ms", Stats.median(xs), "ms"), (s"get_${r}_tail_ms", Stats.tail(xs)._1, "ms"),
        (s"get_${r}_samples", xs.size.toDouble, "count"))
    } :+ (("queries_per_s", replies.size / wallS, "1/s"))

    val layers = rec.fold(Map.empty[String, Double]) { r =>
      r.stop()
      val rows = replies.groupBy(_._1.route).view.mapValues(_.map { case (req, rep) =>
        rowsReturned(req, rep.body)
      }.sum).toMap
      ServerLog.layers(r, serverLog, ms, rows) + ("spark.core_busy_ratio" -> r.coreBusyRatio(wallS))
    }
    serverLog.clear()
    Main.Measured(Stats.median(ms), tail, q, ms.size, replies.size / wallS, named,
      attempted = 0, failed = 0, layers = layers)
  }

  private def rowsReturned(req: Req, body: String): Long =
    try {
      val j = Json.parse(body)
      req match {
        case _: GetMetrics => Json.fields(j.get("series")).map(_._2.size.toLong).sum
        case _: GetPaths => j.size.toLong
      }
    } catch { case _: Exception => 0L }

  /** Every served answer against a one-pass batch recomputation. */
  def check(): (Long, Long) = {
    spark.sparkContext.setJobGroup("check", "check", false)
    val truth = Rollups.finalize(Rollups.mergeAll(
      Rollups.mergeableWith(Points.frame(spark, points), RollupConfig.reference)))
    val local = spark.createDataFrame(truth.collect().toSeq.asJava, truth.schema)
    val idx = Index.indexFrom(Points.frame(spark, points).select("path").distinct()).cache()
    val want = mutable.HashMap.empty[Req, String => Boolean]
    def expected(req: Req): String => Boolean = want.getOrElseUpdate(req, req match {
      case GetMetrics(paths, from) =>
        val w = MetricsApi.getMetricsFrom(local, paths, from, vNow, vNow)
        (b: String) => ApiClient.metricsMatch(b, w)
      case GetPaths(glob, tenant) =>
        val w = MetricsApi.getPathsFrom(idx, glob, tenant)
        (b: String) => ApiClient.pathsMatch(b, w)
    })
    if (corruptAnswer && served.nonEmpty) {
      val (req, code, body) = served.head
      val i = body.indexWhere(_.isDigit)
      served(0) = (req, code, body.updated(i, ((body(i) - '0' + 1) % 10 + '0').toChar))
    }
    val failed = served.count { case (req, code, body) =>
      val ok = code == 200 && (try expected(req)(body) catch { case _: Exception => false })
      if (!ok) System.err.println(s"[perfbench] wrong answer: ${req.url} -> $code ${body.take(200)}")
      !ok
    }
    spark.sparkContext.clearJobGroup()
    (served.size.toLong, failed.toLong)
  }

  def close(): Unit = if (daemon != null) daemon.stop()
}
