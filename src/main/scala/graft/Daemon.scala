package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.MetricsHttpServer
import graft.sources.RollupStore
import graft.streaming.CarbonStream

/** The full cassabon daemon composition, CONCURRENT like the reference:
  * cassabon.go's main wiring runs listener → accumulator → store and the
  * query API at the same time (listener/carbon_plaintext.go:65-120 feeding
  * the rollup accumulator while api/api.go:30-51 serves). Here the three
  * arms are:
  *
  *  - INGEST: `CarbonStream.startRollupFlush` — a live Structured
  *    Streaming query, one mergeable state slice appended to the store
  *    per flush cycle;
  *  - SERVE: `MetricsHttpServer` over a `StoreBackend` — every HTTP
  *    answer is merge-on-read over whatever ingest has flushed so far;
  *  - MAINTAIN: `RollupStore.compact` (fold accumulated slices) and
  *    `RollupStore.dropExpired` (physical TTL), safe to fire while the
  *    other two arms run: the compaction lease makes readers/appenders
  *    skip recovery, and the additive swap cannot touch a slice it
  *    didn't fold.
  *
  * No cross-arm locks — the store's own contracts (append-only slices,
  * lease, manifest swap) are the synchronization, exactly the property
  * Round11Spec drives over real sockets.
  */
final class Daemon(spark: SparkSession, store: String,
    nowSec: Option[Long] = None,
    healthCheckFile: Option[java.nio.file.Path] = None) {

  private val httpd = new MetricsHttpServer(
    new MetricsHttpServer.StoreBackend(spark, store, nowSec), healthCheckFile)
  @volatile private var ingestQ: StreamingQuery = _

  /** Bind the API (port 0 = ephemeral); returns the bound port. */
  def startHttp(port: Int = 0): Int = httpd.start(port)

  /** Start the live flush query over `srcDir` (the file-stream stand-in
    * for the carbon socket). Caller may `processAllAvailable()` to drain
    * deterministically; the daemon keeps serving while it runs.
    */
  def startIngest(srcDir: String, glob: String = "*.parquet"): StreamingQuery = {
    ingestQ = CarbonStream.startRollupFlush(spark, srcDir, store, glob,
      () => rollupDefs)
    ingestQ
  }

  /** The rollup dispatch config in force — every flush cycle reads it, so
    * [[reload]]'s swap takes effect at the next cycle boundary.
    */
  @volatile private var rollupDefs: Seq[graft.model.RollupDef] =
    graft.model.RollupConfig.reference

  def rollupConfig: Seq[graft.model.RollupDef] = rollupDefs

  /** The SIGHUP live-reload path (cassabon.go:86-180): re-read a cassabon
    * `rollups:` yaml ([[graft.model.RollupConfigFile]] — the reference's
    * LoadRollups edge cases included), and if it parses CLEAN swap the
    * dispatch config used by every SUBSEQUENT flush cycle; slices already
    * in the store keep the shape they were written with, exactly like the
    * reference re-dispatching only new metrics. A dirty config (any
    * rejected expression) is REFUSED and the old config stays in force —
    * the daemon's log-and-keep-running behavior. Returns the load result
    * so the caller can report what was rejected; pair with
    * [[graft.operators.Rollups.redispatchBetween]] for the impact table
    * (`rollup_redispatch`'s delta over explicit configs).
    */
  def reload(configPath: String): graft.model.RollupConfigFile.Loaded = {
    val loaded = graft.model.RollupConfigFile.load(configPath)
    if (loaded.clean) rollupDefs = loaded.defs
    // the reference's signal handler also reopens log files on reload
    // (logging/logger.go:39 — the logrotate handshake); ride the same path
    Logging.reopen()
    loaded
  }

  @volatile private var udp: UdpListener = _

  /** The real wire front door: bind a UDP socket whose datagrams are
    * remainder-carry reassembled and parsed on the listener thread
    * ([[UdpListener]]), with `srcDir` as the slice staging area the
    * metric flush query drains — the full cassabon listener arm. Returns
    * the bound port. `udpFlush(name)` drains accepted rows into one
    * staged slice = one flush cycle.
    */
  def startUdpIngest(srcDir: String): Int = {
    require(udp == null && tcp == null, "one wire arm per daemon")
    udp = new UdpListener
    ingestQ = CarbonStream.startMetricRollupFlush(spark, srcDir, store,
      config = () => rollupDefs)
    udpSrcDir = srcDir
    udp.port
  }
  @volatile private var udpSrcDir: String = _

  /** Drain the UDP listener's accepted rows into one flush slice; returns
    * rows flushed (0 = nothing pending, no slice staged).
    */
  def udpFlush(name: String): Int = {
    require(udp != null, "startUdpIngest first")
    udp.flush(spark, udpSrcDir, name)
  }

  def listener: UdpListener = udp

  @volatile private var tcp: TcpListener = _
  @volatile private var tcpSrcDir: String = _

  /** The reference's PRIMARY wire transport (carbonTCP,
    * carbon_plaintext.go:68-123): bind a TCP accept loop whose
    * per-connection byte streams are line-scanned with the shared
    * metricHandler ([[TcpListener]]); same staging/flush contract as the
    * UDP arm. One wire arm per daemon — both share `ingestQ`.
    */
  def startTcpIngest(srcDir: String): Int = {
    require(udp == null && tcp == null, "one wire arm per daemon")
    tcp = new TcpListener
    ingestQ = CarbonStream.startMetricRollupFlush(spark, srcDir, store,
      config = () => rollupDefs)
    tcpSrcDir = srcDir
    tcp.port
  }

  /** Drain the TCP listener's accepted rows into one flush slice; returns
    * rows flushed (0 = nothing pending, no slice staged).
    */
  def tcpFlush(name: String): Int = {
    require(tcp != null, "startTcpIngest first")
    tcp.flush(spark, tcpSrcDir, name)
  }

  def tcpListener: TcpListener = tcp

  private val reloadSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Peer the active wire arm: install the isMine split (owned lines
    * buffer locally, non-owned ship to the owning peer — the reference's
    * live forwarding, carbon_plaintext.go:246-252) and wire the
    * flush-on-peerlist-change contract: a valid CHANGED
    * `<<peerlist={json}>>` wire command first stages every pending
    * accepted row as one slice (accepted under the OLD ring, they must
    * land before routing changes — "flushing and reloading",
    * carbon_plaintext.go:269-280 → OnPeerChange), then the ring swaps for
    * subsequent lines. `peers` must include the listener's own
    * `selfHostPort` among its values.
    */
  def enablePeering(peers: Map[String, String]): Unit = {
    require(udp != null || tcp != null, "start a wire arm first")
    val (h, srcDir) =
      if (tcp != null) (tcp.handler, tcpSrcDir) else (udp.handler, udpSrcDir)
    h.onPeerChange = _ => {
      h.flush(spark, srcDir, s"peer_reload_${reloadSeq.incrementAndGet()}.parquet")
      ()
    }
    if (tcp != null) tcp.enablePeering(peers) else udp.enablePeering(peers)
  }

  def ingestQuery: StreamingQuery = ingestQ

  @volatile private var statsdTicker: Thread = _
  @volatile private var statsdStop = false

  /** Periodic statsd gauge emission while serving — the reference pushes
    * its memory/ops gauges through a statsd client on a 1 s ticker for as
    * long as the daemon runs (logging/stats.go:24-61 opens the client and
    * ticker; stats.go:77 sendMemoryStats is the per-tick body). Here the
    * tick body is [[graft.operators.OpsStats.emit]] — the same stats.go
    * gauge names in statsd's `prefix.name:value|g` wire format,
    * fire-and-forget UDP. An empty host is the reference's no-op-client
    * branch (stats.go:34-36): nothing is scheduled, the daemon runs
    * un-instrumented. Idempotence guard like the reference's isOpen;
    * [[stop]] closes the ticker (stats.go:66-73 Close).
    *
    * Pass a parsed `CassabonConfigFile.Statsd` host/port to ride the
    * config file exactly as cassabon.go wires logging.Statsd.Open from
    * config.Statsd.Host/Port.
    */
  def startStatsd(host: String, port: Int, prefix: String = "cassabon",
      intervalMs: Long = 1000L): Boolean = {
    require(statsdTicker == null, "statsd ticker already open")
    if (host.isEmpty) false
    else {
      // one statsd client serves BOTH halves of the reference's
      // instrumentation: the 1 s memory-gauge ticker (stats.go) and the
      // per-request API timers (api/requestlogger.go:36-44) — opening
      // the client wires them together exactly like cassabon.go
      httpd.timingSink = httpd.statsdTimingSink(host, port, prefix)
      statsdStop = false
      statsdTicker = new Thread(() => {
        while (!statsdStop) {
          try graft.operators.OpsStats.emit(spark, host, port, prefix)
          catch { case _: Exception => () } // loss acceptable, blocking not
          try Thread.sleep(intervalMs)
          catch { case _: InterruptedException => statsdStop = true }
        }
      }, "graft-statsd-ticker")
      statsdTicker.setDaemon(true)
      statsdTicker.start()
      true
    }
  }

  /** One maintenance pass: fold flush slices; optionally expire by TTL.
    * Fire-and-forget beside live ingest+serve (see class doc).
    */
  def maintain(ttlNowSec: Option[Long] = None): Unit = {
    RollupStore.compact(spark, store)
    ttlNowSec.foreach(RollupStore.dropExpired(spark, store, _))
  }

  def stop(): Unit = {
    if (statsdTicker != null) {
      statsdStop = true
      statsdTicker.interrupt()
      statsdTicker.join(2000)
      statsdTicker = null
    }
    if (udp != null) udp.stop()
    if (tcp != null) tcp.stop()
    if (ingestQ != null) ingestQ.stop()
    httpd.stop()
  }
}

object Daemon {

  /** Boot a daemon from a full cassabon.yaml — cassabon.go's main wiring
    * (cassabon.go:60-120: read config, open the stats writer against
    * `statsd.host:port`, install the rollup table, bind the API on
    * `api.listen`) driven by [[graft.model.CassabonConfigFile]] instead
    * of hand-assembled parts:
    *
    *  - `rollups:` (when it parsed CLEAN) becomes the dispatch config
    *    every flush cycle reads — a dirty table keeps the built-in
    *    reference config, the log-and-keep-running rule [[Daemon.reload]]
    *    applies mid-flight;
    *  - `statsd.host/port` open the gauge ticker ([[Daemon.startStatsd]];
    *    empty host = the no-op client, nothing scheduled);
    *  - `api.listen`'s port binds the HTTP API; `api.health_check_file`
    *    serves `/healthcheck` from disk exactly like the reference.
    *    `portOverride` exists for tests (a fixture yaml pins 8080; specs
    *    must bind ephemeral).
    *
    * Returns the daemon and its bound HTTP port.
    */
  def fromConfig(spark: SparkSession, store: String, configPath: String,
      nowSec: Option[Long] = None,
      portOverride: Option[Int] = None): (Daemon, Int) = {
    val cfg = graft.model.CassabonConfigFile.load(configPath)
    val healthFile = Option(cfg.api.healthCheckFile).filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_))
    val daemon = new Daemon(spark, store, nowSec, healthFile)
    if (cfg.rollups.clean) daemon.rollupDefs = cfg.rollups.defs
    daemon.startStatsd(cfg.statsd.host, cfg.statsd.port)
    val port = portOverride.getOrElse {
      val listen = cfg.api.listen
      val i = listen.lastIndexOf(':')
      if (i < 0) 0 else listen.substring(i + 1).toInt
    }
    (daemon, daemon.startHttp(port))
  }

  /** Stage one events slice as a single parquet FILE in `srcDir` — the
    * unit the flush query turns into one micro-batch (one file = one
    * flush cycle, `maxFilesPerTrigger = 1`).
    */
  def stageSlice(slice: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_slice")
    slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        java.nio.file.Files.move(f,
          java.nio.file.Paths.get(srcDir, name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        moved = true
      }
    }
    require(moved, s"no parquet part produced for slice $name")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** `runMain graft.Daemon [sfDir]`: the serve-while-ingesting lifecycle
    * on real sockets — three flush cycles dripped into a live daemon,
    * HTTP queries between and DURING a mid-ingest compaction, and a final
    * equivalence check: the daemon's `GET /metrics` answer must be
    * byte-identical to a fixture-backed server's answer for the same
    * query once all slices have flushed (store_lifecycle's gate, served
    * over HTTP).
    */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val store = java.nio.file.Files.createTempDirectory("graft_daemon_store").toString
    val src = java.nio.file.Files.createTempDirectory("graft_daemon_src").toString
    val spark = Harness.session(4, "graft-daemon")

    val now = graft.model.Tables.metrics(spark, dir).agg(max("ts")).head().getLong(0)
    val daemon = new Daemon(spark, store, Some(now))
    val port = daemon.startHttp()
    val http = java.net.http.HttpClient.newHttpClient()
    def get(p: String): String = http.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()

    println(s"[daemon] serving on :$port — pre-flush /healthcheck=${get("/healthcheck")}")
    val events = spark.read.parquet(s"$dir/events.parquet")
    (0 until 3).foreach(i => stageSlice(
      events.filter(pmod(col("event_id"), lit(3)) === i), src, s"slice$i.parquet"))

    val q = daemon.startIngest(src)
    q.processAllAvailable() // three flush cycles land while the API serves
    println(s"[daemon] 3 flush cycles in — /healthcheck=${get("/healthcheck")}")
    val metricsQ = s"/metrics?path=servers.view.u5&from=${now - 172800}&to=$now"
    val live = get(metricsQ)
    println(s"[daemon] live GET /metrics bytes=${live.length}")
    // compaction mid-serve: queries keep answering while slices fold
    val t = new Thread(() => daemon.maintain(ttlNowSec = Some(now)))
    t.start()
    val during = get(metricsQ)
    t.join()
    val after = get(metricsQ)
    println(s"[daemon] query during maintenance ok=${during == live}, after=${after == live}")

    // equivalence: a fixture-backed server must produce the same bytes
    val fixtureHttpd = new MetricsHttpServer(spark, dir)
    val fp = fixtureHttpd.start()
    val want = http.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$fp$metricsQ")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    fixtureHttpd.stop()
    println(s"[daemon] store-served == fixture-served: ${after == want}")

    daemon.stop()
    spark.stop()
  }
}
