package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** The daemon's live HTTP face (reference api/api.go:44-51), served for
  * real: the same six routes Goji mounts, over the JDK's built-in
  * `com.sun.net.httpserver` (zero added dependencies), delegating every
  * query to [[MetricsApi]] — so the HTTP layer is a thin faithful shell
  * and all semantics stay in the spec'd, oracle-adjacent library calls.
  *
  *   GET    /            info document (api.go rootHandler's shape)
  *   GET    /paths       ?query=glob       → index entries, sorted
  *   DELETE /paths       ?query=glob       → orphan-prune rebuild summary
  *   GET    /metrics     ?path=..&path=..&from=&to= → series on step grid
  *   DELETE /metrics     ?path=..&from=&to=&dryrun= → per-(path,table) counts
  *   GET    /healthcheck                   → ALIVE / DEAD plain text
  *   anything else                         → 404 JSON error (notFoundHandler)
  *
  * Serving model: queries the daemon answers from its in-memory rollup
  * accumulator are answered here by Spark jobs over the store — the API
  * collects only the final small payload (MetricsApi's contract). Each
  * request lists the store once; requests that see the same listing share
  * ONE merged view of it (checkpointed on first use, released when the
  * listing changes and no request holds it — see
  * [[MetricsHttpServer.StoreBackend]]), so a repeated query plans and runs
  * one scan of that view, not a read and merge of every slice.
  * A view built while a compaction swap was deleting its sources is never
  * served after the swap: no later listing names the files it deleted.
  * Requests are handled concurrently on a fixed pool of `handlers`
  * threads ([[start]]; the daemon passes its session's core count), like
  * the goroutine per request of the reference's `net/http` server, and
  * every connection runs with Nagle's algorithm off, `net/http`'s
  * default: the JDK server writes a response's headers and body apart,
  * and with Nagle on each keep-alive response waits for the client's
  * delayed ACK (tens of ms). A query parameter that does not parse
  * answers 400 naming it (a malformed %-escape never reaches a route: the
  * JDK server refuses the request URI with its own 400). [[stop]] drains
  * the pool, then closes the backend, which releases the cached views.
  */
final class MetricsHttpServer(backend: MetricsHttpServer.Backend,
    healthCheckFile: Option[java.nio.file.Path] = None) {

  /** The r10 shape: every route answered from the fixture-derived frames. */
  def this(spark: SparkSession, dir: String) =
    this(new MetricsHttpServer.FixtureBackend(spark, dir))

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Per-request access logging — the reference wraps every Goji route in
    * timing + status middleware (api/requestlogger.go:15-40: logs
    * `[status] METHOD /path (elapsed)` after ServeHTTP returns); same
    * here around [[handle]], so a user debugging a slow query path sees
    * each request's route, outcome and latency. The sink is pluggable
    * (default stderr, like the daemon's request logger) — specs capture
    * it, a deployment points it at its log pipeline.
    */
  @volatile private[graft] var accessLogSink: String => Unit =
    line => System.err.println(line)

  /** The OTHER half of requestlogger.go's middleware: a per-request
    * statsd TIMER beside the access-log line
    * (api/requestlogger.go:36-44 assembles `api.<route>.<method>` from
    * the first path segment — empty → "root" — and sends the elapsed
    * time through `Statsd.Client.TimingDuration`). Pluggable like the
    * log sink; default no-op (the reference's no-op statsd client).
    * [[statsdTimingSink]] wires a real UDP sender in statsd's timer
    * wire format `prefix.api.<route>.<method>:<ms>|ms`.
    */
  @volatile private[graft] var timingSink: (String, Long) => Unit =
    (_, _) => ()

  /** A fire-and-forget UDP statsd timing sender for [[timingSink]] —
    * loss acceptable, blocking not (the OpsStats.emit contract).
    */
  def statsdTimingSink(host: String, port: Int,
      prefix: String = "cassabon"): (String, Long) => Unit = {
    val addr = java.net.InetAddress.getByName(host)
    (stat, ms) => {
      val socket = new java.net.DatagramSocket()
      try {
        val line = s"$prefix.$stat:$ms|ms".getBytes("UTF-8")
        try socket.send(new java.net.DatagramPacket(line, line.length, addr, port))
        catch { case _: java.io.IOException => () }
      } finally socket.close()
    }
  }

  /** Bind (port 0 = ephemeral) and serve on `handlers` threads; returns
    * the bound port.
    */
  def start(port: Int = 0, handlers: Int = 1): Int = {
    // the JDK server reads this once, when its first instance is created;
    // the census in Round12Spec keeps every `HttpServer.create` in this file
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", handle _)
    pool = MetricsHttpServer.handlerPool(handlers)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Stop accepting, let in-flight requests finish, release the backend. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    backend.close()
  }

  // ------------------------------------------------------------ routing

  private def handle(ex: HttpExchange): Unit = {
    val (method, path) = (ex.getRequestMethod, ex.getRequestURI.getPath)
    val t0 = System.nanoTime()
    try {
      (method, path) match {
        case ("GET", "/")            => root(ex)
        case ("GET", "/healthcheck") => health(ex)
        case ("GET", "/paths")       => getPaths(ex)
        case ("DELETE", "/paths")    => deletePaths(ex)
        case ("GET", "/metrics")     => getMetrics(ex)
        case ("DELETE", "/metrics")  => deleteMetrics(ex)
        case _ => send(ex, 404,
          Json.obj("status" -> Json.str("not found"),
            "request" -> Json.str(ex.getRequestURI.toString)))
      }
    } catch {
      case e: MetricsHttpServer.BadParam =>
        send(ex, 400, Json.obj("status" -> Json.str("bad request"),
          "parameter" -> Json.str(e.name), "message" -> Json.str(e.getMessage)))
      case e: Throwable =>
        send(ex, 500, Json.obj("status" -> Json.str("error"),
          "message" -> Json.str(Option(e.getMessage).getOrElse(e.getClass.getName))))
    } finally {
      // requestlogger.go's line shape: status, route, elapsed — written
      // AFTER the response like the reference's deferred log call
      val code = Option(ex.getAttribute("graft.status"))
        .fold(200)(_.asInstanceOf[Int])
      val us = (System.nanoTime() - t0) / 1000
      try accessLogSink(s"[$code] $method $path (${us}us)")
      catch { case _: Throwable => () } // a broken log sink must not kill serving
      // requestlogger.go:36-44: stat name = api.<first path segment,
      // "root" when empty>.<lowercased method>, value = elapsed ms
      val route = path.split("/").find(_.nonEmpty).getOrElse("root")
      try timingSink(s"api.$route.${method.toLowerCase}", us / 1000)
      catch { case _: Throwable => () }
      ex.close()
    }
  }

  private def root(ex: HttpExchange): Unit =
    // rootHandler's document shape (message/github/version fields)
    send(ex, 200, Json.obj(
      "message" -> Json.str("graft. cassabon's queries, Spark's engine."),
      "github" -> Json.str("https://github.com/jeffpierce/cassabon"),
      "version" -> Json.str("r11")))

  /** The ops-controlled DEAD override — healthHandler's LB-drain knob
    * (api/api.go:65-80): when the configured healthcheck file reads
    * "DEAD" (trimmed, case-insensitive), the route answers DEAD whatever
    * the engine's own state, so an operator can drain a node from the
    * load balancer without stopping it. A missing/unreadable file means
    * no override (the reference ignores the read error).
    */
  private def drainFileSaysDead: Boolean =
    healthCheckFile.exists { p =>
      try new String(java.nio.file.Files.readAllBytes(p), UTF_8)
        .trim.toUpperCase == "DEAD"
      catch { case _: java.io.IOException => false }
    }

  private def health(ex: HttpExchange): Unit = {
    // healthHandler: plain-text ALIVE/DEAD for the load balancer
    val alive = !drainFileSaysDead && backend.healthcheck()
    val body = (if (alive) "ALIVE" else "DEAD").getBytes(UTF_8)
    ex.setAttribute("graft.status", 200)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
  }

  private def getPaths(ex: HttpExchange): Unit = {
    val q = params(ex)
    // &tenant= opts into tenant-scoped execution (see MetricsApi.getPaths)
    val entries = backend.getPaths(q.firstOr("query", "*"),
      q.all("tenant").headOption.filter(_.nonEmpty))
    send(ex, 200, Json.arr(entries.map(e => Json.obj(
      "path" -> Json.str(e.path),
      "depth" -> Json.num(e.depth.toLong),
      "tenant" -> Json.str(e.path.split("\\.")(0)),
      "leaf" -> Json.bool(e.leaf)))))
  }

  private def deletePaths(ex: HttpExchange): Unit = {
    val q = params(ex)
    val remaining = backend.deletePaths(q.firstOr("query", ""))
    send(ex, 200, Json.obj("remaining_nodes" -> Json.num(remaining)))
  }

  private def getMetrics(ex: HttpExchange): Unit = {
    val q = params(ex)
    val r = backend.getMetrics(q.all("path"), q.long("from"), q.long("to"))
    send(ex, 200, Json.obj(
      "from" -> Json.num(r.from),
      "to" -> Json.num(r.to),
      "step" -> Json.num(r.step),
      "series" -> Json.objOf(r.series.toSeq.sortBy(_._1).map { case (p, vs) =>
        p -> Json.arr(vs.map(v => v.map(Json.dbl).getOrElse(Json.nul)))
      })))
  }

  private def deleteMetrics(ex: HttpExchange): Unit = {
    val q = params(ex)
    // dryrun default TRUE; only explicit false/no disarms (api.go:186-190)
    val dr = q.firstOr("dryrun", "")
    val dryRun = !(dr.equalsIgnoreCase("false") || dr.equalsIgnoreCase("no"))
    val resp = backend.deleteMetrics(q.all("path"), q.long("from"), q.long("to"), dryRun)
    send(ex, 200, Json.obj(
      "dryrun" -> Json.bool(resp.dryrun),
      "total_deleted" -> Json.num(resp.totalDeleted),
      "by_path_table" -> Json.objOf(resp.byPathTable.toSeq
        .sortBy { case ((p, t), _) => (p, t) }
        .map { case ((p, t), n) => s"$p|$t" -> Json.num(n) })))
  }

  // ------------------------------------------------------------ plumbing

  private final case class Params(m: Map[String, Seq[String]]) {
    def all(k: String): Seq[String] = m.getOrElse(k, Nil)
    def firstOr(k: String, d: String): String = all(k).headOption.getOrElse(d)
    /** An integer parameter, 0 when absent. */
    def long(k: String): Long = all(k).headOption.fold(0L)(v => v.toLongOption
      .getOrElse(throw new MetricsHttpServer.BadParam(k, s"$k: not an integer: $v")))
  }

  private def params(ex: HttpExchange): Params = Params(
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap)

  private def send(ex: HttpExchange, code: Int, json: String): Unit = {
    ex.setAttribute("graft.status", code)
    val body = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
  }

  /** Minimal JSON writer — the payloads are flat and small, and the repo
    * adds no dependencies; strings are escaped per RFC 8259 minimum.
    */
  private object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(n: Long): String = n.toString
    def dbl(d: Double): String =
      if (d.isNaN || d.isInfinite) nul // NaN/Infinity are not JSON
      else if (d == d.floor)
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
      else d.toString // Double.toString is locale-independent by spec
    def bool(b: Boolean): String = b.toString
    val nul: String = "null"
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def obj(kvs: (String, String)*): String = objOf(kvs)
    def objOf(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }
}

object MetricsHttpServer {

  /** A query parameter that does not parse; answered 400 naming it. */
  private final class BadParam(val name: String, message: String)
      extends IllegalArgumentException(message)

  /** `width` daemon threads that inherit no thread locals, so a request's
    * Spark jobs never carry the job group of whichever thread started the
    * server.
    */
  private def handlerPool(width: Int): java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(width, { r =>
      val t = new Thread(null, r, s"graft-http-${n.incrementAndGet()}", 0, false)
      t.setDaemon(true)
      t
    })
  }

  /** What a route needs, source-agnostic: the five query surfaces. The
    * HTTP shell stays identical whichever backend answers — the
    * reference's api.go likewise doesn't care which manager goroutine
    * serves a channel request.
    */
  trait Backend {
    def healthcheck(): Boolean
    def getPaths(glob: String, tenant: Option[String]): Seq[MetricsApi.PathEntry]
    def deletePaths(glob: String): Long
    def getMetrics(paths: Seq[String], from: Long, to: Long): MetricsApi.MetricsResponse
    def deleteMetrics(paths: Seq[String], from: Long, to: Long,
        dryRun: Boolean): MetricsApi.DeleteResponse
    /** Release what the backend holds (cached frames); the server calls
      * it on [[MetricsHttpServer.stop]]. Stateless backends keep the no-op.
      */
    def close(): Unit = ()
  }

  /** Every answer derived from the raw fixture tables (the r10 server). */
  final class FixtureBackend(spark: SparkSession, dir: String) extends Backend {
    def healthcheck(): Boolean = MetricsApi.healthcheck(spark, dir)
    def getPaths(glob: String, tenant: Option[String]): Seq[MetricsApi.PathEntry] =
      MetricsApi.getPaths(spark, dir, glob, tenant)
    def deletePaths(glob: String): Long = MetricsApi.deletePaths(spark, dir, glob)
    def getMetrics(paths: Seq[String], from: Long, to: Long): MetricsApi.MetricsResponse =
      MetricsApi.getMetrics(spark, dir, paths, from, to)
    def deleteMetrics(paths: Seq[String], from: Long, to: Long,
        dryRun: Boolean): MetricsApi.DeleteResponse =
      MetricsApi.deleteMetrics(spark, dir, paths, from, to, dryRun)._1
  }

  /** The DAEMON's serving path: every answer comes from a live
    * [[graft.sources.RollupStore]] — merge-on-read over whatever ingest
    * has flushed SO FAR, correct before/during/after any maintenance by
    * the store's contracts (readers under a young compaction lease skip
    * recovery and fold the not-yet-compacted slices themselves; the
    * additive swap never destroys a mid-flight append). `nowSec` defaults
    * to wall clock, the live daemon's table-selection age; tests pin it.
    * `config` is the rollup config in force (the daemon's, which
    * [[graft.Daemon.reload]] swaps): it picks each path's table and step.
    *
    * ONE LISTING PER REQUEST, ONE VIEW PER SNAPSHOT. Every request (and
    * every retry attempt) takes a fresh [[RollupStore.snapshot]]. When it
    * equals the token of the current [[View]], the route runs over that
    * view (a hit); otherwise the caller builds a new view from exactly
    * the snapshot's files ([[RollupStore.readFinalizedResilient]]), while
    * hits keep serving the current one. Concurrent misses on one token
    * build it once: the others wait and then hit. A view is installed
    * only after its first action succeeds; the one it replaces is
    * released when the last request holding it finishes, and a new build
    * waits while two views are live, so at most two are ever in memory.
    * Its content is a function of its token, so any flush, compaction
    * swap or TTL drop changes the next listing and the next request
    * rebuilds. A view built inside a swap window (a listed fold source
    * deleted before the scan) undercounts, the documented transient
    * state, but its token names the deleted file, which no listing taken
    * after the swap contains, so it is never served past the swap.
    *
    * healthcheck reports the SERVICE, like the reference's healthHandler:
    * ALIVE whenever the session is up and the store lists (an empty,
    * pre-first-flush store answers queries with empty series), DEAD only
    * when the session or filesystem is broken. It runs no Spark job, so
    * a load-balancer poll never builds a view.
    */
  final class StoreBackend(spark: SparkSession, store: String,
      config: () => Seq[graft.model.RollupDef], nowSec: Option[Long] = None)
      extends Backend {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.operators.Index
    import graft.sources.RollupStore

    /** The merged, finalized store at one snapshot. Each frame is a lazy
      * local checkpoint: its first action computes it into the block
      * manager, and every later query plans one scan of those blocks and
      * never reads the slice files again. The path index is built only
      * when a `/paths` route asks for it.
      */
    private final class View(val token: Seq[RollupStore.SliceFile]) {
      lazy val finalized: DataFrame =
        checkpoint(RollupStore.readFinalizedResilient(spark, store, token))
      lazy val index: DataFrame =
        checkpoint(Index.indexFrom(finalized.select("path").distinct()))
      /** Requests holding the view, plus one while it is current;
        * guarded by the backend's `lock`.
        */
      var refs = 1
      private var frames = List.empty[DataFrame]
      private def checkpoint(df: DataFrame): DataFrame = synchronized {
        val c = df.localCheckpoint(eager = false, storageLevel = MEMORY_AND_DISK)
        frames ::= c
        c
      }
      def release(): Unit = synchronized {
        frames.foreach(_.queryExecution.logical
          .collectFirst { case r: LogicalRDD => r.rdd.unpersist() })
        frames = Nil
      }
    }

    private val lock = new Object
    private var current: View = _ // guarded by lock, as are the three below
    private var live = 0          // views built or building, not yet released
    private var building = false
    private var closed = false

    private[graft] val viewsBuilt = new java.util.concurrent.atomic.AtomicLong

    /** Drop one reference; the last one releases the view's blocks. */
    private def drop(v: View): Unit = lock.synchronized {
      v.refs -= 1
      if (v.refs == 0) { v.release(); live -= 1; lock.notifyAll() }
    }

    private def retire(v: View): Unit = lock.synchronized {
      if (current eq v) { current = null; drop(v) }
    }

    /** The current view when its token matches (one more holder), else
      * `None`: the caller builds. Waits while another build runs or two
      * views are live.
      */
    private def acquire(token: Seq[RollupStore.SliceFile]): Option[View] = lock.synchronized {
      def hit = current != null && current.token == token
      while (!closed && !hit && (building || live >= 2)) lock.wait()
      if (closed) throw new IllegalStateException("the serving backend is closed")
      if (hit) { current.refs += 1; Some(current) }
      else { building = true; live += 1; None }
    }

    /** A lost checkpoint block (an executor gone on a cluster, or the
      * blocks unpersisted from outside): the view cannot answer again.
      */
    private def lostBlock(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")))

    /** Run `f` over the view of a fresh listing, under the store's
      * optimistic read-retry: each attempt lists again, so a retry after a
      * swap-window read error re-plans from the new listing, and one after
      * a lost block rebuilds the view it retired.
      */
    private def withView[A](f: View => A): A =
      RollupStore.retryTransientReads(() => {
        val token = RollupStore.snapshot(spark, store)
        acquire(token) match {
          case Some(v) =>
            try f(v)
            catch { case e: Throwable if lostBlock(e) => retire(v); throw e }
            finally drop(v)
          case None =>
            val fresh = new View(token)
            viewsBuilt.incrementAndGet()
            try {
              val out = f(fresh)
              lock.synchronized {
                if (!closed) {
                  if (current != null) retire(current)
                  fresh.refs += 1
                  current = fresh
                }
              }
              out
            } finally lock.synchronized { building = false; drop(fresh); lock.notifyAll() }
        }
      }, lostBlock)

    def healthcheck(): Boolean =
      try { RollupStore.snapshot(spark, store); !spark.sparkContext.isStopped }
      catch { case _: Throwable => false }
    def getPaths(glob: String, tenant: Option[String]): Seq[MetricsApi.PathEntry] =
      withView(v => MetricsApi.getPathsFrom(v.index, glob, tenant))
    def deletePaths(glob: String): Long =
      withView(v => Index.deleteFrom(
        v.finalized.select("path").distinct(), glob, glob.split("\\.")(0)).count())
    def getMetrics(paths: Seq[String], from: Long, to: Long): MetricsApi.MetricsResponse =
      withView(v => MetricsApi.getMetricsFrom(v.finalized, paths, from, to,
        nowSec.getOrElse(System.currentTimeMillis() / 1000), config()))
    def deleteMetrics(paths: Seq[String], from: Long, to: Long,
        dryRun: Boolean): MetricsApi.DeleteResponse =
      withView(v => MetricsApi.deleteMetricsFrom(v.finalized, paths, from, to, dryRun, config())._1)

    override def close(): Unit = lock.synchronized {
      closed = true
      if (current != null) retire(current)
      lock.notifyAll()
    }
  }
}
