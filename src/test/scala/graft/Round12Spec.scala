package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Dedup, Partitioning}

/** Round-12 gates: the scale fixes the r11 verdict mandated.
  *
  *  1. Partition-less data-sized windows are BANNED in engine code — a
  *     `Window.orderBy(...)` / `Window.partitionBy()` with no keys plans
  *     as ONE task holding the whole frame, the classic 100×-scale
  *     killer (`user_rfm`'s three global rank sorts and
  *     `perplexity_filter`'s histogram cumsum were the last two on a
  *     data-sized frame). The scan pins every remaining occurrence to an
  *     audited allowlist of bounded frames.
  *  2. `rfmFrom`'s broadcast cut-point scoring must equal the rank-window
  *     DEFINITION exactly (the oracle already gates it cross-engine at
  *     both scales; this pins the algebra on adversarial ties).
  *  3. `componentsFrom`'s pointer doubling must converge a 64-vertex PATH
  *     (worst-case diameter) in ≤ 2·log₂(64) rounds — plain min-label
  *     propagation needs 63.
  *  4. `withGlobalRank` must assign exactly 1..n across range partitions.
  *  5. Finite stream replays use `CarbonStream.runToEnd` / `replay`; a
  *     source scan fails on a hand-rolled start/drain/stop block.
  *  6. Mains build their session through `Harness.session` and tune
  *     through the one `graft.Tune` main; a source scan fails on a new
  *     hand-built session or a new `*Tune` main.
  *  7. `Registry.select` rejects an empty or typo'd op filter, which
  *     would otherwise run nothing and report that as a result.
  */
class Round12Spec extends AnyFunSuite with TestSpark {

  /** Trimmed code lines of one source file. Comment lines are stripped:
    * scaladoc bodies and line comments may legitimately DISCUSS the
    * pattern a census bans.
    */
  private def codeLines(p: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
  }

  // ------------------------------------------------------------- window ban

  /** Engine-code occurrences of partition-less windows, per file. Every
    * entry is audited bounded:
    *  - Similarity: pq codebook rank over a `.limit(PqCodebookK)` frame
    *    (K = 32 rows, constant);
    *  - Series: series_top's rank over the per-path aggregate (the metric
    *    path catalog — the store's key universe, not the point stream);
    *  - TextOps orderBy: `packSequencesGlobal`, the SPEC-ONLY reference
    *    form SamplePackSpec compares the sharded engine form against
    *    (its scaladoc says "never run this at scale");
    *  - TextOps partitionBy(): five global scalars over the mixing
    *    families' per-language rate/count frames (config-sized);
    *  - Analytics partitionBy(): funnel's step-1 denominator over the
    *    |steps|-row funnel frame (3 rows).
    */
  private val WindowAllowlist: Map[String, Int] = Map(
    "Similarity.scala" -> 1,
    "Series.scala" -> 1,
    "TextOps.scala" -> 6,
    "Analytics.scala" -> 1)

  test("partition-less windows only on audited bounded frames") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = codeLines(p).count(l =>
          l.contains("Window.orderBy(") || l.contains("Window.partitionBy()"))
        if (n == 0) None else Some(p.getFileName.toString -> n)
      }.toMap
    assert(hits == WindowAllowlist,
      s"partition-less window census drifted: got $hits, audited $WindowAllowlist — " +
        "a new Window.orderBy/empty partitionBy funnels a data-sized frame " +
        "through ONE task; use Partitioning.withGlobalRank (exact distributed " +
        "rank) or aggregate+broadcast instead, or audit the bound here")
  }

  // ----------------------------------------------- replay lifecycle census

  /** The finite-replay lifecycle lives in ONE place: in the streaming
    * package (comment lines stripped), `processAllAvailable`, a memory
    * sink and a `withStreamPartitions(` call appear only inside the
    * `CarbonStream.runToEnd` / `replay` definitions. Each hit is attributed
    * to the nearest enclosing `def`, so a hand-rolled start/drain/stop
    * block in any operator body fails here.
    */
  test("finite stream replays go through CarbonStream.runToEnd / replay") {
    import scala.jdk.CollectionConverters._
    val patterns = Seq("processAllAvailable", ".format(\"memory\")",
      "withStreamPartitions(")
    val defName = """\bdef\s+(\w+)""".r
    val root = java.nio.file.Paths.get("src/main/scala/graft/streaming")
    val hits = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        var enclosing = ""
        codeLines(p).flatMap { l =>
          defName.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
          patterns.filter(l.contains).map(pat => (p.getFileName.toString, enclosing, pat))
        }
      }.sorted
    val want = Seq(
      ("CarbonStream.scala", "replay", ".format(\"memory\")"),
      ("CarbonStream.scala", "runToEnd", "processAllAvailable"),
      ("CarbonStream.scala", "runToEnd", "withStreamPartitions(")).sorted
    assert(hits == want,
      s"replay lifecycle census drifted: got $hits, want $want — run a finite " +
        "stream through CarbonStream.replay (memory sink) or runToEnd (any " +
        "other sink) instead of hand-rolling start/processAllAvailable/stop")
  }

  // ------------------------------------------- session + tuning-main census

  /** Session conventions (local width, shuffle width, UTC, no UI, log
    * level) are decided in `Harness.session`; the only other builder in
    * `src/main` is ClusterSmoke's `local-cluster` master. Tuning sweeps
    * are rows of `graft.Tune`'s dial table, not mains of their own.
    */
  test("mains build sessions through Harness and tune through graft.Tune") {
    import scala.jdk.CollectionConverters._
    val tuneObject = """\bobject\s+(\w*Tune)\b""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> codeLines(p))
    val builders = sources.collect {
      case (f, code) if code.exists(_.contains("SparkSession.builder")) => f
    }.sorted
    assert(builders.toSet.subsetOf(Set("ClusterSmoke.scala", "Harness.scala")),
      s"SparkSession.builder outside Harness: $builders — build the session " +
        "with Harness.session(cores, appName)")
    val tunes = sources.flatMap { case (_, code) =>
      code.flatMap(l => tuneObject.findAllMatchIn(l).map(_.group(1)))
    }
    assert(tunes == Seq("Tune"),
      s"tuning mains: $tunes — add a sweep to graft.Tune's dial table instead")
  }

  test("Registry.select fails on unknown or empty op filters, keeps Registry order") {
    val typo = intercept[IllegalArgumentException](
      Registry.select(Set("rollup_multi", "dedup_clustr", "ann_ivff")))
    assert(typo.getMessage.contains("dedup_clustr") && typo.getMessage.contains("ann_ivff"),
      typo.getMessage)
    assert(!typo.getMessage.contains("rollup_multi"), typo.getMessage)
    intercept[IllegalArgumentException](Registry.select(Set.empty))
    val names = Registry.ops.map(_.name)
    assert(names.indexOf("rollup_multi") < names.indexOf("dedup_cluster"))
    assert(Registry.select(Set("dedup_cluster", "rollup_multi")).map(_.name) ==
      Seq("rollup_multi", "dedup_cluster"))
  }

  // ------------------------------------------------- rfm cut-point algebra

  test("rfmFrom broadcast cut-points equal the rank-window definition on ties") {
    import spark.implicits._
    // 37 users (n not divisible by 4), heavy ties on every dimension so the
    // user_id tiebreak decides scores at the quartile boundaries
    val users = (1 to 37).map { i =>
      (i.toLong * 7 % 37, (i % 5).toLong, (i % 3).toLong, (i % 4).toLong)
    }
    val pu = users.toDF("user_id", "r_v", "f_v", "m_v")
    val got = Analytics.rfmFrom(pu)
      .select("user_id", "r_score", "f_score", "m_score", "segment")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(_._1)
    // the definition, computed directly on the driver
    val n = users.size
    def scores(v: Seq[(Long, Long)]): Map[Long, Int] =
      v.sortBy(identity).zipWithIndex.map { case ((_, uid), i) =>
        uid -> (i * 4 / n + 1)
      }.toMap
    val rs = scores(users.map(u => (u._2, u._1)))
    val fs = scores(users.map(u => (u._3, u._1)))
    val ms = scores(users.map(u => (u._4, u._1)))
    val want = users.map(_._1).sorted.map { uid =>
      (uid, rs(uid), fs(uid), ms(uid), s"${rs(uid)}${fs(uid)}${ms(uid)}")
    }
    assert(got.toSeq == want)
  }

  // ------------------------------------------- pointer-doubling components

  test("componentsFrom converges a 64-vertex path in <= 2*log2(64) rounds") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val universe = (0L until 64L).toDF("id")
    val out = Dedup.componentsFrom(spark, Sf, pairs, "a", "b",
      universe, "id", "r12_chain_labels")
    val rows = out.collect()
    assert(rows.length == 64)
    assert(rows.forall(_.getLong(1) == 0L), "path graph must collapse to component 0")
    assert(rows.forall(_.getLong(2) == 64L))
    val iters = Dedup.lastIterations.get()
    assert(iters <= 12,
      s"pointer doubling should need <= 12 rounds on a 64-path, took $iters " +
        "(plain min-label propagation needs 63 — the doubling join regressed)")
  }

  // --------------------------------------------------- daemon: LB drain

  test("healthcheck DEAD-file override drains the node without stopping it") {
    val store = java.nio.file.Files.createTempDirectory("r12_health_store").toString
    val drain = java.nio.file.Files.createTempDirectory("r12_health").resolve("healthcheck.txt")
    val daemon = new Daemon(spark, store, Some(0L), healthCheckFile = Some(drain))
    try {
      val port = daemon.startHttp()
      val http = java.net.http.HttpClient.newHttpClient()
      def health(): String = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/healthcheck")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(health() == "ALIVE", "missing drain file = no override (api.go:70)")
      java.nio.file.Files.writeString(drain, " dead \n")
      assert(health() == "DEAD", "trimmed case-insensitive DEAD drains (api.go:71-74)")
      java.nio.file.Files.writeString(drain, "anything else")
      assert(health() == "ALIVE", "only the exact word DEAD drains")
      java.nio.file.Files.delete(drain)
      assert(health() == "ALIVE")
    } finally daemon.stop()
  }

  // ------------------------------------- daemon: peerlist command mid-ingest

  test("a wire <<peerlist>> mid-ingest flushes pending as a slice and reroutes") {
    val store = java.nio.file.Files.createTempDirectory("r12_peer_store").toString
    val src = java.nio.file.Files.createTempDirectory("r12_peer_src")
    val daemon = new Daemon(spark, store, Some(0L))
    try {
      val port = daemon.startTcpIngest(src.toString)
      val self = daemon.tcpListener.selfHostPort
      daemon.enablePeering(Map("a" -> self)) // 1-ring: everything owned
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = sock.getOutputStream
      def send(l: String): Unit = { out.write((l + "\n").getBytes("UTF-8")); out.flush() }
      (1 to 3).foreach(i => send(s"servers.reload.p$i $i.0 ${600 * i}"))
      send(s"""<<peerlist={"a":"$self","b":"127.0.0.1:1"}>>""")
      val end = System.currentTimeMillis() + 8000
      while (daemon.tcpListener.handler.peerRing.forall(_.ring.length != 2)
        && System.currentTimeMillis() < end) Thread.sleep(20)
      assert(daemon.tcpListener.handler.peerRing.exists(_.ring.length == 2),
        "the ring must swap to the wire-delivered list")
      assert(daemon.tcpListener.pending == 0,
        "pending rows accepted under the old ring must have flushed")
      import scala.jdk.CollectionConverters._
      val staged = java.nio.file.Files.list(src).iterator().asScala.map(_.getFileName.toString).toSet
      assert(staged.contains("peer_reload_1.parquet"), s"flush slice missing: $staged")
      sock.close()
      // the flushed slice drains into the store like any other cycle
      daemon.ingestQuery.processAllAvailable()
      val paths = graft.sources.RollupStore.readFinalized(spark, store)
        .select("path").distinct().collect().map(_.getString(0)).toSet
      assert(paths == (1 to 3).map(i => s"servers.reload.p$i").toSet)
    } finally {
      daemon.stop()
    }
  }

  // ------------------------------------------- daemon: SIGHUP config reload

  test("Daemon.reload swaps the rollup dispatch for subsequent flush cycles only") {
    import graft.model.RollupConfig
    import graft.operators.Rollups
    val store = java.nio.file.Files.createTempDirectory("r12_reload_store").toString
    val src = java.nio.file.Files.createTempDirectory("r12_reload_src")
    val cfg = java.nio.file.Files.createTempDirectory("r12_reload_cfg").resolve("rollups.yaml")
    val daemon = new Daemon(spark, store, Some(0L))
    try {
      val port = daemon.startTcpIngest(src.toString)
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = sock.getOutputStream
      def send(l: String): Unit = { out.write((l + "\n").getBytes("UTF-8")); out.flush() }
      val batch1 = Seq(("servers.click.u1", 2.0, 60L), ("servers.click.u1", 4.0, 80L),
        ("servers.error.u2", 9.0, 120L))
      val batch2 = Seq(("servers.click.u1", 6.0, 200L), ("servers.signup.u5", 3.0, 260L))
      batch1.foreach { case (p, v, t) => send(s"$p $v $t") }
      val end1 = System.currentTimeMillis() + 8000
      while (daemon.tcpListener.pending < 3 && System.currentTimeMillis() < end1) Thread.sleep(20)
      daemon.tcpFlush("b1.parquet")
      daemon.ingestQuery.processAllAvailable()

      // a DIRTY config is refused: the old dispatch stays in force
      java.nio.file.Files.writeString(cfg,
        "rollups:\n  default:\n    retention: [ 1m:2h ]\n    aggregation: mode\n")
      assert(!daemon.reload(cfg.toString).clean)
      assert(daemon.rollupConfig == RollupConfig.reference)

      // a CLEAN default-only config swaps for the NEXT cycle
      java.nio.file.Files.writeString(cfg,
        "rollups:\n  default:\n    retention: [ 1m:2h ]\n    aggregation: average\n")
      val loaded = daemon.reload(cfg.toString)
      assert(loaded.clean && daemon.rollupConfig == loaded.defs)
      batch2.foreach { case (p, v, t) => send(s"$p $v $t") }
      val end2 = System.currentTimeMillis() + 8000
      while (daemon.tcpListener.pending < 2 && System.currentTimeMillis() < end2) Thread.sleep(20)
      daemon.tcpFlush("b2.parquet")
      daemon.ingestQuery.processAllAvailable()
      sock.close()

      // stored rows == batch write set of cycle 1 under the OLD config
      // merged with cycle 2 under the NEW config (event_id = arrival index)
      import spark.implicits._
      def metricDf(rows: Seq[(String, Double, Long)], idBase: Long) =
        rows.zipWithIndex.map { case ((p, v, t), i) => (p, v, t, idBase + i) }
          .toDF("path", "value", "ts", "event_id")
      val want = Rollups.finalize(Rollups.mergeAll(
        Rollups.mergeableWith(metricDf(batch1, 0), RollupConfig.reference)
          .unionByName(Rollups.mergeableWith(metricDf(batch2, 3), loaded.defs))))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2, t._3))
      val got = graft.sources.RollupStore.readFinalized(spark, store)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2, t._3))
      assert(got.toSeq == want.toSeq)
    } finally {
      daemon.stop()
    }
  }

  // ------------------------------------------- production sketch widths

  test("production sketch widths: widening the dial shrinks crowding and error") {
    import graft.operators.{Carbon, OpsStats, Sketch}
    val occ = Sketch.occupancy(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // the dial law, measured (Round8Spec pattern): the production width's
    // bucket/register crowding sits below the demo width's. The hll half
    // runs at sf0.01 — sf0.001 has only 15 users per type, so both widths
    // can land the identical one-birthday-pair census.
    assert(occ("cms_bucket_prod")._1 < occ("cms_bucket")._1,
      s"cms: prod max_occ ${occ("cms_bucket_prod")._1} !< demo ${occ("cms_bucket")._1}")
    assert(occ("hll_register_prod")._1 <= occ("hll_register")._1)
    val Sf01 = "/root/testdata/sf0.01"
    val hllDemo = graft.operators.Sketch.occupancyOf(
      OpsStats.hllRegisterAssign(spark, Sf01, OpsStats.HllRegs),
      "d", Seq("event_type", "r")).head()
    val hllProd = graft.operators.Sketch.occupancyOf(
      OpsStats.hllRegisterAssign(spark, Sf01, OpsStats.HllRegsProd),
      "p", Seq("event_type", "r")).head()
    assert(hllProd.getLong(2) < hllDemo.getLong(2),
      s"hll sf0.01: prod max_occ ${hllProd.getLong(2)} !< demo ${hllDemo.getLong(2)}")
    assert(hllProd.getDouble(3) < hllDemo.getDouble(3))
    // and the crowding translates to answers: production CMS overestimates
    // vanish on this catalog; production HLL is strictly more accurate
    val overDemo = Carbon.heavyHittersWith(spark, Sf, Carbon.CmsBucketBits)
      .agg(sum("over_est")).head().getLong(0)
    val overProd = Carbon.heavyHittersWith(spark, Sf, Carbon.CmsBucketBitsProd)
      .agg(sum("over_est")).head().getLong(0)
    assert(overProd == 0 && overDemo > overProd,
      s"cms over_est: demo $overDemo, prod $overProd")
    val errDemo = OpsStats.cardinalitySketchWith(spark, Sf01, OpsStats.HllRegs)
      .agg(max("rel_err")).head().getDouble(0)
    val errProd = OpsStats.cardinalitySketchWith(spark, Sf01, OpsStats.HllRegsProd)
      .agg(max("rel_err")).head().getDouble(0)
    assert(errProd < errDemo && errProd < 0.02,
      s"hll rel_err: demo $errDemo, prod $errProd")
  }

  // ------------------------------------------ in-order ingest is a contract

  test("the write-once stream machines fail loudly on out-of-order ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionStream
    implicit val sq = spark.sqlContext
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

    implicit val fe = org.apache.spark.sql.Encoders.product[SessionStream.FunnelEvent]
    val fms = MemoryStream[SessionStream.FunnelEvent]
    val fq = SessionStream.funnelMachine(fms.toDS())
      .writeStream.format("memory").queryName("r12_ooo_funnel")
      .outputMode("append").start()
    try {
      fms.addData(SessionStream.FunnelEvent(1L, "view", 100L))
      fq.processAllAvailable()
      fms.addData(SessionStream.FunnelEvent(1L, "click", 50L)) // late: k regresses
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        fq.processAllAvailable()
      }
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${chain(ex)}")
    } finally {
      fq.stop(); spark.catalog.dropTempView("r12_ooo_funnel")
    }

    implicit val he = org.apache.spark.sql.Encoders.product[SessionStream.HoltEvt]
    val hms = MemoryStream[SessionStream.HoltEvt]
    val hq = SessionStream.holtMachine(hms.toDS()).toDF()
      .writeStream.format("memory").queryName("r12_ooo_holt")
      .outputMode("append").start()
    try {
      hms.addData(SessionStream.HoltEvt("p", 100L, 1L, 500L))
      hq.processAllAvailable()
      hms.addData(SessionStream.HoltEvt("p", 50L, 0L, 500L)) // late point
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        hq.processAllAvailable()
      }
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${chain(ex)}")
    } finally {
      hq.stop(); spark.catalog.dropTempView("r12_ooo_holt")
    }
  }

  // ----------------------------------------------------- r12 new operators

  test("series_linreg recovers an exact line and nulls zero-variance paths") {
    import spark.implicits._
    import graft.operators.Series
    // value = 2t + 3 (cents = 200t + 300): slope 2 value/s = 2_000_000
    // micro-units/s, fit at the last point t=4 is 11 value-units =
    // 11_000_000 micro-units, forecast at t = 4 + LinregAheadSec is exact
    val a = (0L to 4L).map(t => ("a", t, t + 1, 200L * t + 300L))
    val b = Seq(("b", 7L, 9L, 500L)) // single point: den = 0, no line
    val cents = (a ++ b).toDF("path", "ts", "event_id", "cents")
    val got = Series.linregFrom(Series.linregMomentsFrom(cents))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getLong(1) == 5L)
    assert(got("a").getLong(2) == 2000000L)
    assert(got("a").getLong(3) == 11000000L)
    assert(got("a").getLong(4) == (2 * (4 + Series.LinregAheadSec) + 3) * 1000000L)
    assert(got("b").isNullAt(2) && got("b").isNullAt(3) && got("b").isNullAt(4))
  }

  test("series_remove_outliers: verdict is exactly the nearest-rank p90 cut") {
    import graft.operators.Series
    val rows = Series.removeOutliers(spark, Sf).collect()
      .map(r => (r.getString(0), r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
    assert(rows.exists(_._2), "the fixture must clip something")
    rows.groupBy(_._1).foreach { case (path, g) =>
      val n = g.length
      val maxRemovable = n - (n * Series.RemovePercentile + 99) / 100
      val removed = g.count(_._2)
      assert(removed <= maxRemovable,
        s"$path: removed $removed > ${maxRemovable} of $n")
      g.foreach { case (_, rem, kept, cut) =>
        if (rem) assert(kept.isEmpty)
        else assert(kept.nonEmpty && kept.get <= cut + 1e-9)
      }
    }
  }

  test("series_hitcount equals a driver-side lag recomputation") {
    import graft.operators.Series
    val pts = graft.model.Tables.metrics(spark, Sf)
      .select("path", "ts", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val contrib: Seq[((String, Long), Long)] =
      pts.groupBy(_._1).toSeq.flatMap { case (path, g) =>
        val sorted = g.sortBy(p => (p._2, p._3))
        sorted.zipWithIndex.map { case ((_, ts, _, v), i) =>
          val dt = if (i == 0) 0L else ts - sorted(i - 1)._2
          ((path, ts - ts % Series.SummarizeBucketSec), dt * math.round(v * 100))
        }.toSeq
      }
    val want = contrib.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val got = Series.hitcount(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), math.round(r.getDouble(3) * 100)))
      .toMap
    assert(got == want)
  }

  test("quality_select cut pairs equal the per-lang rank definition on ties") {
    import spark.implicits._
    import graft.operators.TextOps
    // lang x: three-way score tie straddles the keep boundary (n=4, keep
    // 2 — the doc_id tiebreak decides); lang y: a full tie (n=2, keep 1)
    val scored = Seq(
      (1L, "x", 5.0), (2L, "x", 5.0), (3L, "x", 5.0), (4L, "x", 1.0),
      (10L, "y", 2.0), (11L, "y", 2.0)).toDF("doc_id", "lang", "score")
    val got = TextOps.qualitySelectFrom(scored).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(got(1L) == ((4L, 5.0, true)))
    assert(got(2L) == ((4L, 5.0, true)))
    assert(got(3L) == ((4L, 5.0, false)))
    assert(got(4L) == ((4L, 5.0, false)))
    assert(got(10L) == ((2L, 2.0, true)))
    assert(got(11L) == ((2L, 2.0, false)))
  }

  test("chunk_knn: contiguous ranks, self-exclusion, cosine ordered") {
    import graft.operators.TextOps
    val rows = TextOps.chunkKnn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.forall(_._2 != q), s"query $q retrieved its own chunk")
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to g.length), s"query $q ranks not contiguous")
      assert(byRank.length <= TextOps.ChunkKnnK)
      val cs = byRank.map(_._5)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b - 1e-9 },
        s"query $q cosine not non-increasing across ranks")
    }
  }

  test("stream_pack fails loudly on out-of-order ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DedupStream
    implicit val sq = spark.sqlContext
    implicit val pe = org.apache.spark.sql.Encoders.product[DedupStream.PackDoc]
    val ms = MemoryStream[DedupStream.PackDoc]
    val q = DedupStream.packMachine(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("r12_ooo_pack")
      .outputMode("append").start()
    try {
      ms.addData(DedupStream.PackDoc(10L, 5L, 0L))
      q.processAllAvailable()
      ms.addData(DedupStream.PackDoc(9L, 5L, 0L)) // regression in shard 0
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(e: Throwable): Seq[String] =
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).toSeq
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${chain(ex)}")
    } finally {
      q.stop(); spark.catalog.dropTempView("r12_ooo_pack")
    }
  }

  test("multimodal_phash: every planted 1-bit perturbation recalled at hamming 1") {
    import graft.operators.Multimodal
    val rows = Multimodal.phashPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val planted = rows.filter(p => p._2 - p._1 == Multimodal.PhashPlantBase)
    val nPlants = graft.model.Tables.documents(spark, Sf)
      .filter(col("doc_id") % Multimodal.PhashPlantMod === 0).count()
    assert(planted.length == nPlants,
      s"${planted.length} of $nPlants planted near-dups recalled")
    assert(planted.forall(_._3 == 1), "a 1-bit lane perturbation must read hamming 1")
    assert(rows.forall(_._3 <= Multimodal.PhashMaxHam))
  }

  test("multimodal_phash banding is pigeonhole-complete: equals the all-pairs recount") {
    import graft.operators.Multimodal
    // drive the hashes the op derives, then brute-force every same-kind
    // pair on the driver — the banded join must find EXACTLY these
    val lanes = Multimodal.features(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        (0 until Multimodal.FeatureDims).map(k => r.getLong(2 + k)).toArray))
    val all = lanes ++ lanes.filter(_._1 % Multimodal.PhashPlantMod == 0)
      .map { case (id, kind, f) =>
        val p = f.clone(); p(3) = p(3) ^ 256L
        (id + Multimodal.PhashPlantBase, kind, p)
      }
    def phash(f: Array[Long]): Long =
      (0 until Multimodal.PhashLanes).map(k => (f(k) / 256) << (8 * k)).sum
    val hashed = all.map { case (id, kind, f) => (id, kind, phash(f)) }
    val want = (for {
      a <- hashed; b <- hashed
      if a._2 == b._2 && a._1 < b._1
      ham = java.lang.Long.bitCount(a._3 ^ b._3)
      if ham <= Multimodal.PhashMaxHam
    } yield (a._1, b._1, a._2, ham)).toSet
    val got = Multimodal.phashPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
    assert(got == want, s"banded pairs ${got.size} != brute-force ${want.size}")
  }

  test("series_holt_deviation: forecast matches series_holt_forecast; one open verdict per path") {
    import graft.operators.Series
    val fc = Series.holtForecast(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    val rows = Series.holtDeviation(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) == fc((r.getString(0), r.getLong(1), r.getLong(2))),
        "the deviation fold must carry the forecast fold unchanged")
      assert(r.getDouble(5) >= 0.0)
    }
    // exactly the first point of each path has no band to test against
    rows.groupBy(_.getString(0)).foreach { case (p, g) =>
      assert(g.count(_.isNullAt(6)) == 1, s"path $p: expected one null verdict")
    }
  }

  test("curation_report reconciles with the flat six-gate verdict per source") {
    import graft.operators.Curate
    val verdict = Curate.curate(spark, Sf).select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val src = graft.model.Tables.documents(spark, Sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = src.groupBy(_._2).map { case (s, docs) =>
      s -> (docs.size.toLong, docs.keys.count(verdict).toLong)
    }
    val got = Curate.report(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("event_transitions equals a driver-side consecutive-pair recount") {
    import graft.operators.Analytics
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = graft.model.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(_._3).map(_._2)
      sorted.zip(sorted.tail)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Analytics.eventTransitions(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == want)
    // probabilities sum to 1 per source type
    val sums = Analytics.eventTransitions(spark, Sf).collect()
      .groupBy(_.getString(0)).map { case (_, g) => g.map(_.getDouble(3)).sum }
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-4))
  }

  test("lang_confusion: rows partition per-language mass; the heuristic is measured") {
    import graft.operators.TextOps
    val rows = TextOps.langConfusion(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // shares sum to 1 per true language, and the matrix totals the corpus
    rows.groupBy(_._1).foreach { case (l, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-4, s"$l shares don't partition")
    }
    val total = rows.map(_._3).sum
    val nDocs = graft.model.Tables.documents(spark, Sf).count()
    assert(total == nDocs)
    // what the harness MEASURES here: the fixture's texts are
    // English-vocabulary word soup under every label, and the matrix
    // exposes exactly that — the dominant prediction is 'en' for every
    // labeled language (a label/content mismatch the report makes
    // visible; on a real multilingual corpus the diagonal dominates)
    assert(rows.map(_._2).toSet.subsetOf(Set("en", "de", "es", "fr", "other")))
    rows.groupBy(_._1).foreach { case (l, g) =>
      val top = g.maxBy(_._3)._2
      assert(top == "en", s"$l: dominant prediction $top — fixture content drifted")
    }
  }

  test("stream_transitions fails loudly on out-of-order ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionStream
    implicit val sq = spark.sqlContext
    implicit val te = org.apache.spark.sql.Encoders.product[SessionStream.TransEvent]
    val ms = MemoryStream[SessionStream.TransEvent]
    val q = SessionStream.transitionsMachine(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("r12_ooo_trans")
      .outputMode("append").start()
    try {
      ms.addData(SessionStream.TransEvent(1L, "view", 100L))
      q.processAllAvailable()
      ms.addData(SessionStream.TransEvent(1L, "click", 50L)) // late event
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(e: Throwable): Seq[String] =
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).toSeq
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${chain(ex)}")
    } finally {
      q.stop(); spark.catalog.dropTempView("r12_ooo_trans")
    }
  }

  // ------------------------------------------------ serving-path read retry

  test("retryTransientReads: swap-window read races retry, real errors propagate") {
    import graft.sources.RollupStore
    // the wrapped form ignoreMissingFiles can NOT catch (parquet re-opens a
    // fold source mid-swap): retried until the fresh listing succeeds
    var n = 0
    val got = RollupStore.retryTransientReads { () =>
      n += 1
      if (n < 3) throw new RuntimeException("query failed",
        new RuntimeException(
          "[FAILED_READ_FILE.NO_HINT] Encountered error while reading file x"))
      42
    }
    assert(got == 42 && n == 3)
    // a non-read error is NOT swallowed — fails on the first attempt
    var m = 0
    intercept[IllegalStateException] {
      RollupStore.retryTransientReads { () =>
        m += 1; throw new IllegalStateException("real corruption")
      }
    }
    assert(m == 1)
    // attempts are bounded: a persistent miss still fails loudly
    var k = 0
    intercept[RuntimeException] {
      RollupStore.retryTransientReads { () =>
        k += 1
        throw new RuntimeException(new java.io.FileNotFoundException("gone"))
      }
    }
    assert(k == RollupStore.ReadRetryAttempts)
  }

  // ----------------------------------------------------- global rank exact

  test("withGlobalRank assigns exactly 1..n and respects the sort order") {
    import spark.implicits._
    // duplicates + skew: values i % 17, 1000 rows over 4 shuffle partitions
    val df = (1 to 1000).map(i => (i % 17).toLong).toDF("v")
    val (ranks, ordered) = Partitioning.withGlobalRank(df, Seq("v")) { g =>
      val rows = g.select("grank", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      (rows.map(_._1).sorted.toSeq, rows.sortBy(_._1).map(_._2).toSeq)
    }
    assert(ranks == (1L to 1000L))
    assert(ordered == ordered.sorted, "values must be non-decreasing in rank order")
  }
}
