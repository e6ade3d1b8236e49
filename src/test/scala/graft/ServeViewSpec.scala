package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit, max, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{MetricsApi, MetricsHttpServer}
import graft.model.{RollupConfig, RollupDef, Tables}
import graft.operators.{Index, Rollups}
import graft.sources.RollupStore

/** The daemon's serving view: `StoreBackend` answers every request that
  * sees the same store listing from one checkpointed merged frame.
  *
  *  - Invalidation: repeated GETs build one view; an appended slice or a
  *    compaction changes the listing and the next GET rebuilds; every
  *    answer is byte-equal to a server that reads and merges the store
  *    afresh per request.
  *  - Concurrency: four clients racing appends, a compaction and a TTL
  *    pass only ever see answers of a store state the test passed through.
  *  - `/healthcheck` runs no Spark job.
  *  - `daemon.stop()` releases every checkpointed block and cache entry,
  *    and a replaced view releases its own with no warning logged; a
  *    view whose blocks are lost is rebuilt.
  *  - `/metrics` picks tables and steps by the daemon's live rollup config.
  *  - A query parameter that does not parse answers 400, and keep-alive
  *    responses do not wait on a delayed ACK.
  *  - `getPathsFrom`'s driver-side sort equals `orderBy("node")` on
  *    non-ASCII and supplementary characters, where UTF-8 byte order and
  *    UTF-16 (`String.compareTo`) order disagree.
  */
class ServeViewSpec extends AnyFunSuite with TestSpark {

  private val http = java.net.http.HttpClient.newHttpClient()

  private def send(port: Int, method: String, p: String): (Int, String) = {
    val r = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$p"))
        .timeout(java.time.Duration.ofSeconds(60)) // a hung server fails the spec
        .method(method, java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** One request over a raw socket, so the target may be a URI the JDK
    * client refuses to build.
    */
  private def sendRaw(port: Int, method: String, target: String): (Int, String) = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(60000)
      sock.getOutputStream.write(
        s"$method $target HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n"
          .getBytes("UTF-8"))
      val reply = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      (reply.split(" ")(1).toInt, reply.substring(reply.indexOf("\r\n\r\n") + 4))
    } finally sock.close()
  }

  private def now: Long = Tables.metrics(spark, Sf).agg(max("ts")).head().getLong(0)

  /** Flush slice `i` of 3 (by event id) of the fixture's metrics. */
  private def appendSlice(store: String, i: Int): Unit =
    RollupStore.appendStateSlice(Rollups.mergeableFrom(
      Tables.metrics(spark, Sf).filter(pmod(col("event_id"), lit(3)) === i)), store)

  /** Spark jobs started while `body` runs. Listener events arrive in job
    * order, so the jobs between a start and an end marker job are exactly
    * the ones `body` ran.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def mark(name: String): Unit = {
      sc.setJobDescription(name)
      try spark.range(1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      mark("serve-view:start")
      body
      mark("serve-view:end")
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("serve-view:end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val s = seen.asScala.toSeq
      assert(s.contains("serve-view:end"), "end marker job never reached the listener")
      s.indexOf("serve-view:end") - s.lastIndexOf("serve-view:start") - 1
    } finally sc.removeSparkListener(listener)
  }

  /** The reference answer: a server that reads and merges `store` afresh
    * on every request, under rollup config `config`.
    */
  private def freshServer(store: String, t: Long,
      config: Seq[RollupDef] = RollupConfig.reference): MetricsHttpServer = {
    def merged = RollupStore.readFinalized(spark, store)
    new MetricsHttpServer(new MetricsHttpServer.Backend {
      def healthcheck(): Boolean = true
      def getPaths(glob: String, tenant: Option[String]): Seq[MetricsApi.PathEntry] =
        MetricsApi.getPathsFrom(Index.indexFrom(merged.select("path").distinct()), glob, tenant)
      def deletePaths(glob: String): Long =
        Index.deleteFrom(merged.select("path").distinct(), glob, glob.split("\\.")(0)).count()
      def getMetrics(paths: Seq[String], from: Long, to: Long): MetricsApi.MetricsResponse =
        MetricsApi.getMetricsFrom(merged, paths, from, to, t, config)
      def deleteMetrics(paths: Seq[String], from: Long, to: Long,
          dryRun: Boolean): MetricsApi.DeleteResponse =
        MetricsApi.deleteMetricsFrom(merged, paths, from, to, dryRun, config)._1
    })
  }

  /** One request of every route shape over the fixture at `now` = `t`. */
  private def requests(t: Long): Seq[(String, String)] = Seq(
    "GET" -> s"/metrics?path=servers.view.u5&path=servers.click.u2&from=${t - 172800}&to=$t",
    "GET" -> "/paths?query=servers.*.u3",
    "GET" -> "/paths?query=*.*&tenant=servers",
    "DELETE" -> s"/metrics?path=servers.view.u5&from=${t - 172800}&to=$t",
    "DELETE" -> "/paths?query=servers.view.*")

  test("serving view: one build per listing; append and compact rebuild; " +
      "answers byte-equal a fresh read-and-merge per request") {
    val store = Files.createTempDirectory("serve_view_store").toString
    val t = now
    appendSlice(store, 0)
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    val fresh = freshServer(store, t)
    val freshPort = fresh.start()
    val requests = this.requests(t)
    /** Serve every request twice; each answer must equal the fresh one. */
    def serveAll(): Seq[String] = (requests ++ requests).map { case (m, p) =>
      val (code, body) = send(port, m, p)
      assert(code == 200, s"$m $p: $code $body")
      assert(body == send(freshPort, m, p)._2, s"$m $p diverged from a fresh read")
      body
    }
    try {
      val first = serveAll()
      assert(daemon.backend.viewsBuilt.get == 1, "repeated requests must share one view")

      appendSlice(store, 1)
      val appended = serveAll()
      assert(daemon.backend.viewsBuilt.get == 2, "an appended slice must rebuild the view")
      assert(appended.head != first.head, "GET /metrics did not reflect the appended slice")

      RollupStore.compact(spark, store)
      val compacted = serveAll()
      assert(daemon.backend.viewsBuilt.get == 3, "a compaction must rebuild the view")
      assert(compacted == appended, "compaction changed a served answer")
    } finally { fresh.stop(); daemon.stop() }
  }

  test("/healthcheck runs no Spark job; ALIVE on an empty store") {
    val store = Files.createTempDirectory("serve_view_health").toString
    val daemon = new Daemon(spark, store, Some(now))
    val port = daemon.startHttp()
    try {
      assert(jobsDuring(assert(send(port, "GET", "/healthcheck") == ((200, "ALIVE")))) == 0)
      appendSlice(store, 0)
      assert(jobsDuring((1 to 3).foreach(_ =>
        assert(send(port, "GET", "/healthcheck") == ((200, "ALIVE"))))) == 0,
        "a health poll must not build or scan the serving view")
      // the counter sees serving work when there is some
      assert(jobsDuring(send(port, "GET", s"/metrics?path=servers.view.u5&from=0&to=1")) > 0)
    } finally daemon.stop()
  }

  /** Entries in the session's CacheManager (`numCachedEntries` is
    * package-private in Scala, public in bytecode).
    */
  private def cacheEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("daemon.stop() leaves no persisted RDD and no cache entry behind") {
    val store = Files.createTempDirectory("serve_view_leak").toString
    appendSlice(store, 0)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val entriesBefore = cacheEntries
    val t = now
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    try {
      assert(send(port, "GET", s"/metrics?path=servers.view.u5&from=${t - 7200}&to=$t")._1 == 200)
      assert(send(port, "GET", "/paths?query=servers.*")._1 == 200)
      appendSlice(store, 1) // the next request replaces the view
      assert(send(port, "GET", "/paths?query=servers.*")._1 == 200)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).size == 2,
        "the live view should checkpoint its merged frame and its index")
    } finally daemon.stop()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"serving view leaked persistent RDDs: $leaked")
    assert(cacheEntries == entriesBefore,
      "serving view left cache entries behind")
  }

  test("concurrent clients across appends, compaction and TTL: every answer is a " +
      "state's fresh answer; stop releases everything") {
    val store = Files.createTempDirectory("serve_view_concurrent").toString
    val t = now
    appendSlice(store, 0)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val entriesBefore = cacheEntries
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    val fresh = freshServer(store, t)
    val freshPort = fresh.start()
    val reqs = requests(t)
    def freshAnswers(): Map[(String, String), String] =
      reqs.map { case (m, p) => (m, p) -> send(freshPort, m, p)._2 }.toMap
    val states = scala.collection.mutable.ArrayBuffer(freshAnswers())
    val answers = new ConcurrentLinkedQueue[((String, String), Int, String)]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    // single flight: four simultaneous misses on one listing build one view
    val go = new java.util.concurrent.CountDownLatch(1)
    val misses = (0 until 4).map { _ =>
      val th = new Thread(() => try {
        go.await()
        val (m, p) = reqs.head
        val (code, body) = send(port, m, p)
        answers.add(((m, p), code, body))
      } catch { case e: Throwable => errors.add(e) })
      th.start()
      th
    }
    go.countDown()
    misses.foreach(_.join(120000))
    assert(misses.forall(!_.isAlive), "a first request never returned")
    assert(daemon.backend.viewsBuilt.get == 1, "concurrent misses on one listing built twice")
    // at most two views (two checkpointed frames each) are ever live
    var maxLive = 0
    val sampler = new Thread(() => while (!done.get) {
      maxLive = math.max(maxLive,
        (spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).size)
      Thread.sleep(5)
    })
    sampler.setDaemon(true)
    sampler.start()
    val clients = (0 until 4).map { c =>
      val th = new Thread(() => {
        var k = c
        try while (!done.get) {
          val (m, p) = reqs(k % reqs.size)
          val (code, body) = send(port, m, p)
          answers.add(((m, p), code, body))
          k += 1
        } catch { case e: Throwable => errors.add(e) }
      }, s"serve-view-client-$c")
      th.setDaemon(true)
      th.start()
      th
    }
    /** Let the clients finish `n` more requests in the current state. */
    def served(n: Int): Unit = {
      val want = answers.size + n
      val deadline = System.currentTimeMillis() + 120000
      while (answers.size < want && errors.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(errors.isEmpty, s"client failed: ${errors.peek()}")
      assert(answers.size >= want, "clients stalled")
    }
    try {
      served(8)
      appendSlice(store, 1); states += freshAnswers(); served(8)
      appendSlice(store, 2); states += freshAnswers(); served(8)
      RollupStore.compact(spark, store); states += freshAnswers(); served(8)
      RollupStore.dropExpired(spark, store, t); states += freshAnswers(); served(8)
    } finally {
      done.set(true)
      clients.foreach(_.join(120000))
      sampler.join(10000)
      fresh.stop()
      daemon.stop()
    }
    assert(clients.forall(!_.isAlive), "a client thread never returned")
    assert(maxLive <= 4, s"$maxLive checkpointed frames live at once: more than two views")
    assert(errors.isEmpty, s"client failed: ${errors.peek()}")
    answers.asScala.foreach { case (req, code, body) =>
      assert(code == 200, s"$req: $code $body")
      assert(states.exists(_(req) == body), s"$req: answer matches no store state: $body")
    }
    assert(states.map(_(reqs.head)).distinct.size > 1, "the appends must change GET /metrics")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"serving view leaked persistent RDDs: $leaked")
    assert(cacheEntries == entriesBefore, "serving view left cache entries behind")
  }

  test("a view whose checkpoint blocks are lost is rebuilt on the next request") {
    val store = Files.createTempDirectory("serve_view_lost").toString
    val t = now
    appendSlice(store, 0)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    val fresh = freshServer(store, t)
    val freshPort = fresh.start()
    val (m, p) = requests(t).head
    try {
      assert(send(port, m, p) == send(freshPort, m, p))
      assert(daemon.backend.viewsBuilt.get == 1)
      // what an executor loss does on a cluster: the view's blocks are gone
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!rddsBefore(id)) rdd.unpersist()
      }
      assert(send(port, m, p) == send(freshPort, m, p), "no correct answer after the loss")
      assert(daemon.backend.viewsBuilt.get == 2, "the lost view must be rebuilt")
      assert(send(port, m, p) == send(freshPort, m, p))
      assert(daemon.backend.viewsBuilt.get == 2, "the rebuilt view must be served again")
    } finally { fresh.stop(); daemon.stop() }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty)
  }

  test("GET and DELETE /metrics follow the daemon's reloaded rollup config") {
    val store = Files.createTempDirectory("serve_view_config").toString
    val cfg = Files.createTempDirectory("serve_view_config_yaml").resolve("rollups.yaml")
    Files.writeString(cfg,
      "rollups:\n  default:\n    retention: [ 1m:14d ]\n    aggregation: average\n")
    val t = now
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    assert(daemon.reload(cfg.toString).clean)
    val defs = daemon.rollupConfig
    RollupStore.appendStateSlice(Rollups.mergeableWith(Tables.metrics(spark, Sf), defs), store)
    // the two paths with the newest points, over the last three days
    val paths = Tables.metrics(spark, Sf).orderBy(col("ts").desc).limit(50)
      .collect().map(_.getString(0)).distinct.take(2).toSeq
    val from = t - 259200
    val want = MetricsApi.getMetricsFrom(RollupStore.readFinalized(spark, store),
      paths, from, t, t, defs)
    assert(want.step == 60 && want.series.values.exists(_.exists(_.isDefined)),
      "the fixture must hold points in range")
    val fresh = freshServer(store, t, defs)
    val freshPort = fresh.start()
    try {
      val q = s"/metrics?${paths.map("path=" + _).mkString("&")}&from=$from&to=$t"
      val (code, body) = send(port, "GET", q)
      assert(code == 200 && body.contains("\"step\":60,"), s"the 1m:14d step: $body")
      assert(body == send(freshPort, "GET", q)._2, "values diverge from the config's table")
      val dq = s"/metrics?path=${paths.head}&from=$from&to=$t"
      val (dcode, dbody) = send(port, "DELETE", dq)
      assert(dcode == 200 && dbody.contains(s"${paths.head}|rollup_001209600"), dbody)
      assert(dbody == send(freshPort, "DELETE", dq)._2)
    } finally { fresh.stop(); daemon.stop() }
  }

  test("a query parameter that does not parse answers 400 naming it, logged as [400]") {
    val httpd = new MetricsHttpServer(spark, Sf)
    val logged = new ConcurrentLinkedQueue[String]()
    httpd.accessLogSink = l => logged.add(l)
    val port = httpd.start()
    try {
      Seq("from" -> "/metrics?path=a.b&from=abc&to=10",
        "to" -> "/metrics?path=a.b&from=0&to=1x",
        "from" -> "/metrics?path=a.b&from=&to=10").foreach { case (param, q) =>
        Seq("GET", "DELETE").foreach { m =>
          val (code, body) = sendRaw(port, m, q)
          assert(code == 400, s"$m $q: $code $body")
          assert(body.contains(s"\"parameter\":\"$param\""), s"$m $q: $body")
        }
      }
      assert(logged.asScala.count(_.startsWith("[400] ")) == 6, logged.asScala.mkString("\n"))
      // a malformed %-escape: the JDK server refuses the URI before any route
      assert(sendRaw(port, "GET", "/metrics?path=%zz&from=0&to=10")._1 == 400)
    } finally httpd.stop()
  }

  test("50 sequential keep-alive GET / on one connection finish in under 1 s") {
    val httpd = new MetricsHttpServer(spark, Sf)
    httpd.accessLogSink = _ => ()
    val port = httpd.start()
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(10000)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      val length = "(?i)content-length: *(\\d+)".r
      def get(): String = {
        out.write("GET / HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes("UTF-8"))
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) {
          val b = in.read()
          assert(b >= 0, "the server closed the connection")
          head += b.toChar
        }
        val n = length.findFirstMatchIn(head).map(_.group(1).toInt).getOrElse(0)
        assert(in.readNBytes(n).length == n)
        head.takeWhile(_ != '\r').toString
      }
      assert(get().endsWith(" 200 OK"))
      val t0 = System.nanoTime()
      (1 to 50).foreach(_ => assert(get().endsWith(" 200 OK")))
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < 1000, s"50 keep-alive requests took $ms ms: a Nagle / delayed-ACK stall")
    } finally { sock.close(); httpd.stop() }
  }

  test("replacing a view logs no warning for the checkpoints it releases") {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("serve-view-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    val store = Files.createTempDirectory("serve_view_release_log").toString
    appendSlice(store, 0)
    val t = now
    val daemon = new Daemon(spark, store, Some(t))
    try {
      val port = daemon.startHttp()
      assert(send(port, "GET", s"/metrics?path=servers.view.u5&from=${t - 7200}&to=$t")._1 == 200)
      assert(send(port, "GET", "/paths?query=servers.*")._1 == 200)
      appendSlice(store, 1) // the next request replaces the view, releasing both frames
      assert(send(port, "GET", "/paths?query=servers.*")._1 == 200)
      assert(daemon.backend.viewsBuilt.get == 2)
      org.apache.logging.log4j.LogManager.getLogger("graft.serve-view-spec").warn("capture-check")
    } finally {
      daemon.stop()
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val seen = lines.asScala.toSeq
    assert(seen.exists(_.contains("capture-check")), "the capture saw no WARN at all")
    assert(!seen.exists(_.contains("locally checkpointed")),
      s"an intended release logged: ${seen.filter(_.contains("locally checkpointed"))}")
  }

  test("getPathsFrom sorts like orderBy(node) on non-ASCII and supplementary nodes") {
    import spark.implicits._
    // U+1F600 is a surrogate pair in UTF-16 (0xD83D…) and sorts BELOW
    // U+FF21 there; in UTF-8 (0xF0…) it sorts above — Spark uses UTF-8
    val leaves = Seq("a", "Z", "é", "Ａ", "😀", "😀x", "ß", "z", "0")
    val paths = leaves.flatMap(l => Seq(s"t.$l", s"u.$l"))
    val idx = Index.indexFrom(paths.toDF("path")).cache()
    try {
      Seq("*.*" -> None, "*.*" -> Some("t"), "t.*" -> None, "*" -> None).foreach {
        case (glob, tenant) =>
          val got = MetricsApi.getPathsFrom(idx, glob, tenant).map(_.path)
          val want = Index.globMatches(idx, glob, tenant).orderBy("node")
            .collect().map(_.getString(0)).toSeq
          assert(got == want, s"glob $glob tenant $tenant")
      }
      val ordered = MetricsApi.getPathsFrom(idx, "t.*").map(_.path)
      assert(ordered != ordered.sorted,
        "the fixture must hold nodes whose UTF-8 and UTF-16 orders differ")
      assert(Index.globNodes(idx, "*.*", "t").collect().map(_.getString(0)).toSeq ==
        MetricsApi.getPathsFrom(idx, "*.*", Some("t")).map(_.path))
    } finally idx.unpersist()
  }
}
