package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit, max, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{MetricsApi, MetricsHttpServer}
import graft.model.Tables
import graft.operators.{Index, Rollups}
import graft.sources.RollupStore

/** The daemon's serving view: `StoreBackend` answers every request that
  * sees the same store listing from one cached merged frame.
  *
  *  - Invalidation: repeated GETs build one view; an appended slice or a
  *    compaction changes the listing and the next GET rebuilds; every
  *    answer is byte-equal to a server that reads and merges the store
  *    afresh per request.
  *  - `/healthcheck` runs no Spark job.
  *  - `daemon.stop()` releases every cached block and cache entry.
  *  - `getPathsFrom`'s driver-side sort equals `orderBy("node")` on
  *    non-ASCII and supplementary characters, where UTF-8 byte order and
  *    UTF-16 (`String.compareTo`) order disagree.
  */
class ServeViewSpec extends AnyFunSuite with TestSpark {

  private val http = java.net.http.HttpClient.newHttpClient()

  private def send(port: Int, method: String, p: String): (Int, String) = {
    val r = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$p"))
        .method(method, java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
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

  test("serving view: one build per listing; append and compact rebuild; " +
      "answers byte-equal a fresh read-and-merge per request") {
    val store = Files.createTempDirectory("serve_view_store").toString
    val t = now
    appendSlice(store, 0)
    val daemon = new Daemon(spark, store, Some(t))
    val port = daemon.startHttp()
    // the reference answer: read and merge the store on every request
    def merged = RollupStore.readFinalized(spark, store)
    val fresh = new MetricsHttpServer(new MetricsHttpServer.Backend {
      def healthcheck(): Boolean = true
      def getPaths(glob: String, tenant: Option[String]): Seq[MetricsApi.PathEntry] =
        MetricsApi.getPathsFrom(Index.indexFrom(merged.select("path").distinct()), glob, tenant)
      def deletePaths(glob: String): Long =
        Index.deleteFrom(merged.select("path").distinct(), glob, glob.split("\\.")(0)).count()
      def getMetrics(paths: Seq[String], from: Long, to: Long): MetricsApi.MetricsResponse =
        MetricsApi.getMetricsFrom(merged, paths, from, to, t)
      def deleteMetrics(paths: Seq[String], from: Long, to: Long,
          dryRun: Boolean): MetricsApi.DeleteResponse =
        MetricsApi.deleteMetricsFrom(merged, paths, from, to, dryRun)._1
    })
    val freshPort = fresh.start()
    val metricsQ = s"/metrics?path=servers.view.u5&path=servers.click.u2&from=${t - 172800}&to=$t"
    val requests = Seq(
      "GET" -> metricsQ,
      "GET" -> "/paths?query=servers.*.u3",
      "GET" -> "/paths?query=*.*&tenant=servers",
      "DELETE" -> s"/metrics?path=servers.view.u5&from=${t - 172800}&to=$t",
      "DELETE" -> "/paths?query=servers.view.*")
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
      assert(cacheEntries == entriesBefore + 2,
        "the live view should cache its merged frame and its index")
    } finally daemon.stop()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"serving view leaked persistent RDDs: $leaked")
    assert(cacheEntries == entriesBefore,
      "serving view left cache entries behind")
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
