package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions.{col, max, timestamp_seconds, to_date}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Rollups
import graft.sources.RollupStore

/** Round-11 gates: the store survives maintenance racing live ingest.
  *
  *  - ADDITIVE swap (r10 advice, medium): a slice appended AFTER a
  *    compactor's staged read used to be silently destroyed when the swap
  *    replaced the whole partition directory; the fold manifest limits the
  *    swap's deletes to exactly the files it folded.
  *  - Lease hardening: the heartbeat survives `setTimes` failure (object
  *    stores without mtime updates) and acquisition is atomic
  *    create-if-absent, so two compactors passing the same young-lease
  *    check resolve to one winner.
  *  - Physical TTL ([[RollupStore.dropExpired]]): the
  *    `default_time_to_live` half of the reference's retention
  *    (datastore/metricmanager.go:166-171) that read-filtering doesn't
  *    cover — whole expired date partitions are deleted, the per-table
  *    boundary day is rewritten exactly, and afterwards the retention
  *    filter has nothing left to remove.
  */
class Round11Spec extends AnyFunSuite with TestSpark {

  private def hfs(store: String): (FileSystem, Path) = {
    val root = new Path(store)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("additive swap: a slice appended after the staged read survives the swap") {
    val store = Files.createTempDirectory("round11_additive").toString
    val (fs, root) = hfs(store)
    val state = Rollups.rollupsMergeable(spark, Sf)
    RollupStore.appendStateSlice(state, store)
    RollupStore.appendStateSlice(state, store)
    // the compactor's staged read: fold the multi-file dirs, commit to _compact
    val multi = fs.globStatus(new Path(root, "tbl=*/stat_date=*")).map(_.getPath)
      .filter(d => fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")) > 1)
    assert(multi.nonEmpty)
    val folded = multi.flatMap(d =>
      fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${d.getParent.getName}/${d.getName}/${f.getPath.getName}"))
    Rollups.mergeAll(spark.read.option("basePath", store)
        .parquet(multi.map(_.toString).toIndexedSeq: _*).drop("stat_date"))
      .withColumn("stat_date", to_date(timestamp_seconds(col("stat_time"))))
      .repartition(col("tbl"), col("stat_date"))
      .write.mode("overwrite").partitionBy("tbl", "stat_date")
      .parquet(new Path(root, "_compact").toString)
    // the manifest the compactor records BEFORE staging (its on-disk format
    // is part of the recovery contract: relative paths, one per line)
    val out = fs.create(RollupStore.manifestPath(root), true)
    out.write(folded.mkString("\n").getBytes("UTF-8")); out.close()
    // live ingest lands a THIRD slice mid-compaction — after the staged
    // read, before the swap; pre-manifest this slice was silently deleted
    RollupStore.appendStateSlice(state, store)
    // compactor crashed post-commit pre-swap; recovery (no lease) finishes
    val got = rows(RollupStore.readFinalized(spark, store))
    val want = rows(Rollups.finalize(Rollups.mergeAll(
      state.unionByName(state).unionByName(state))))
    assert(got == want, "mid-compaction appended slice was lost or double-counted by the swap")
    assert(!fs.exists(new Path(root, "_compact")), "staging not drained")
    assert(!fs.exists(RollupStore.manifestPath(root)), "manifest not cleaned up")
    // and the next compact() folds the surviving slice in normally
    RollupStore.compact(spark, store)
    assert(rows(RollupStore.readFinalized(spark, store)) == want)
  }

  test("compact() itself is additive: a slice appended DURING the staged write survives") {
    val store = Files.createTempDirectory("round11_additive2").toString
    val (fs, root) = hfs(store)
    val state = Rollups.rollupsMergeable(spark, Sf).cache()
    RollupStore.appendStateSlice(state, store)
    RollupStore.appendStateSlice(state, store)
    // race a real appender against the real compactor; the additive swap
    // guarantees whichever interleaving the scheduler picks, nothing is
    // lost and nothing double-counts
    val appender = new Thread(() => RollupStore.appendStateSlice(state, store))
    appender.start()
    RollupStore.compact(spark, store)
    appender.join()
    val got = rows(RollupStore.readFinalized(spark, store))
    val want = rows(Rollups.finalize(Rollups.mergeAll(
      state.unionByName(state).unionByName(state))))
    assert(got == want, "append racing compact() lost or doubled rows")
    state.unpersist()
  }

  test("lease acquisition is create-if-absent: exactly one of two compactors wins") {
    val store = Files.createTempDirectory("round11_acquire").toString
    val (fs, root) = hfs(store)
    fs.mkdirs(root)
    assert(RollupStore.acquireLease(fs, root), "first compactor must win the lease")
    assert(!RollupStore.acquireLease(fs, root), "second compactor in the same window must bail")
  }

  test("lease heartbeat survives setTimes failure via delete+recreate") {
    val store = Files.createTempDirectory("round11_heartbeat").toString
    val (fs, root) = hfs(store)
    fs.mkdirs(root)
    // an object store that refuses mtime updates: setTimes always throws
    val noMtime: FileSystem = new FilterFileSystem(fs) {
      override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
        throw new java.io.IOException("mtime updates not supported")
    }
    assert(RollupStore.acquireLease(noMtime, root))
    val before = fs.getFileStatus(new Path(root, "_compact.lease")).getModificationTime
    val hb = RollupStore.startHeartbeat(noMtime, root, leaseMs = 150)
    try {
      Thread.sleep(600)
      val lease = new Path(root, "_compact.lease")
      assert(fs.exists(lease), "heartbeat died and the lease vanished")
      val after = fs.getFileStatus(lease).getModificationTime
      assert(after > before || System.currentTimeMillis() - after < 150,
        s"lease aged out under a failing setTimes (mtime $after, started $before)")
    } finally { hb.interrupt(); fs.delete(new Path(root, "_compact.lease"), false) }
  }

  test("dropExpired: expired partitions physically gone; read == readRetained row-for-row") {
    val store = Files.createTempDirectory("round11_ttl").toString
    val (fs, root) = hfs(store)
    val state = Rollups.rollupsMergeable(spark, Sf)
    RollupStore.appendStateSlice(state, store)
    // "now" two hours past the newest point: the 2h-retention table expires
    // all but its newest sliver, the long-retention tables keep everything
    val now = Rollups.finalize(Rollups.mergeAll(state))
      .agg(org.apache.spark.sql.functions.max("stat_time")).head().getLong(0) + 7200
    val retainedBefore = rows(RollupStore.readRetained(spark, store, now).drop("stat_date"))
    val allBefore = rows(RollupStore.read(spark, store).drop("stat_date"))
    assert(retainedBefore.size < allBefore.size, "fixture must have something to expire")
    RollupStore.dropExpired(spark, store, now)
    assert(rows(RollupStore.readRetained(spark, store, now).drop("stat_date")) == retainedBefore,
      "physical expiry changed what the retention filter returns")
    assert(rows(RollupStore.read(spark, store).drop("stat_date")) == retainedBefore,
      "expired rows still physically present after dropExpired")
    // idempotent: a second pass deletes nothing more
    RollupStore.dropExpired(spark, store, now)
    assert(rows(RollupStore.read(spark, store).drop("stat_date")) == retainedBefore)
  }

  test("dropExpired defers to a live compaction lease, like compact()") {
    val store = Files.createTempDirectory("round11_ttl_lease").toString
    val (fs, root) = hfs(store)
    val state = Rollups.rollupsMergeable(spark, Sf)
    RollupStore.appendStateSlice(state, store)
    val now = Rollups.finalize(Rollups.mergeAll(state))
      .agg(org.apache.spark.sql.functions.max("stat_time")).head().getLong(0) + 7200
    val allBefore = rows(RollupStore.read(spark, store).drop("stat_date"))
    fs.create(new Path(root, "_compact.lease"), true).close()
    RollupStore.dropExpired(spark, store, now) // must be a no-op under the live lease
    assert(rows(spark.read.parquet(store).drop("stat_date")) == allBefore,
      "dropExpired ran maintenance under another writer's live lease")
    fs.delete(new Path(root, "_compact.lease"), false)
    RollupStore.dropExpired(spark, store, now)
    assert(rows(spark.read.parquet(store).drop("stat_date")).size < allBefore.size)
  }

  test("TTL covers a table outside the reference config: dropExpired and readRetained agree") {
    val store = Files.createTempDirectory("round11_ttl_yaml").toString
    val weekTbl = "rollup_000604800" // a reference table (7 d)
    val yamlTbl = graft.model.RollupWindow(60, 1209600).table // a yaml-only `1m:14d` arm
    val week = Rollups.rollupsMergeable(spark, Sf).filter(col("tbl") === weekTbl)
    RollupStore.appendStateSlice(
      week.unionByName(week.withColumn("tbl", org.apache.spark.sql.functions.lit(yamlTbl))), store)
    val times = week.select("stat_time").distinct().orderBy("stat_time")
      .collect().map(_.getLong(0))
    // "now" puts the 14-day horizon mid-fixture: both tables straddle their cutoff
    val now = times(times.length / 2) + 1209600
    def table(t: String, df: org.apache.spark.sql.DataFrame) =
      rows(df.filter(col("tbl") === t).drop("stat_date"))
    val live = RollupStore.read(spark, store)
    val want = Map(
      weekTbl -> table(weekTbl, live.filter(col("stat_time") > now - 604800)),
      yamlTbl -> table(yamlTbl, live.filter(col("stat_time") > now - 1209600)))
    Seq(weekTbl, yamlTbl).foreach { t =>
      assert(want(t).nonEmpty && want(t).size < table(t, live).size,
        s"fixture must straddle $t's horizon")
      assert(table(t, RollupStore.readRetained(spark, store, now)) == want(t),
        s"readRetained dropped or kept the wrong rows of $t")
    }
    RollupStore.dropExpired(spark, store, now)
    Seq(weekTbl, yamlTbl).foreach { t =>
      assert(table(t, RollupStore.read(spark, store)) == want(t),
        s"expired rows of $t still physically present after dropExpired")
    }
    assert(rows(RollupStore.read(spark, store).drop("stat_date")) ==
      rows(RollupStore.readRetained(spark, store, now).drop("stat_date")),
      "after dropExpired, read != readRetained")
  }

  // --------------------------------------------- peer wire payload (r10 advice)

  test("parseWirePayload: comma-in-value is legal, trailing comma is malformed") {
    import graft.model.PeerList
    assert(PeerList.parseWirePayload("""{"a":"x,y:1","b":"10.0.0.2:2003"}""")
      == Some(Map("a" -> "x,y:1", "b" -> "10.0.0.2:2003")),
      "a comma inside a quoted value must not be read as a pair separator")
    assert(PeerList.parseWirePayload("""{"a":"10.0.0.1:2003",}""").isEmpty,
      "a trailing comma is malformed JSON (String.split used to drop the empty token)")
    assert(PeerList.parseWirePayload("{}") == Some(Map.empty))
    assert(PeerList.parseWirePayload("""{"a":"1" junk}""").isEmpty)
    assert(PeerList.parseWirePayload("""{"a":"1"; "b":"2"}""").isEmpty)
  }

  test("peer_reload derives the ring from entry count, not comma count; empty map = no change") {
    import spark.implicits._
    import graft.operators.Carbon
    val cases = Seq(
      ("""{"a":"10.0.0.1:2003","b":"10.0.0.2:2003"}""", 2),
      ("""{"a":"a,b:1","b":"c:2"}""", 2), // comma-splitting would read 3 peers
      ("{}", Carbon.PeerCount),          // ValidatePeerList rejects empty: ring unchanged
      (null.asInstanceOf[String], Carbon.PeerCount)) // feed with no command at all
    cases.foreach { case (p, want) =>
      val got = Seq(Tuple1(p)).toDF("payload")
        .select(Carbon.newPeersFromPayload(col("payload"))).head().getInt(0)
      assert(got == want, s"payload: $p")
    }
  }

  // ------------------------------- the daemon: serve while ingesting (r10 item 1)

  test("daemon: flush cycles, mid-serve maintenance and HTTP queries interleave on real sockets") {
    import org.apache.spark.sql.functions.{max => smax, pmod, lit => slit}
    val store = Files.createTempDirectory("round11_daemon_store").toString
    val src = Files.createTempDirectory("round11_daemon_src").toString
    val now = graft.model.Tables.metrics(spark, Sf).agg(smax("ts")).head().getLong(0)
    val daemon = new graft.Daemon(spark, store, Some(now))
    val port = daemon.startHttp()
    val http = java.net.http.HttpClient.newHttpClient()
    def getR(p: String): (Int, String) = {
      val r = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // the API is up BEFORE any data: ALIVE (service healthy, store empty —
    // the reference's healthHandler reports the service, not the data),
    // and a query against the empty store answers with an empty series
    assert(getR("/healthcheck") == ((200, "ALIVE")))
    val (c0, b0) = getR(s"/metrics?path=servers.view.u5&from=${now - 7200}&to=$now")
    assert(c0 == 200 && b0.contains("\"series\""), s"empty-store query: $c0 $b0")
    val events = spark.read.parquet(s"$Sf/events.parquet")
    def slice(i: Int) = events.filter(pmod(col("event_id"), slit(3)) === i)
    graft.Daemon.stageSlice(slice(0), src, "s0.parquet")
    val q = daemon.startIngest(src)
    try {
      q.processAllAvailable() // flush cycle 1
      assert(getR("/healthcheck") == ((200, "ALIVE")))
      val metricsQ = s"/metrics?path=servers.view.u5&from=${now - 172800}&to=$now"
      val (c1, b1) = getR(metricsQ)
      assert(c1 == 200 && b1.contains("\"series\""), s"live query after cycle 1: $c1 $b1")
      val (cp, bp) = getR("/paths?query=servers.*.u3")
      assert(cp == 200 && bp.startsWith("["), s"live /paths: $cp $bp")

      graft.Daemon.stageSlice(slice(1), src, "s1.parquet")
      q.processAllAvailable() // flush cycle 2: server stayed up throughout

      // maintenance (compaction + physical TTL) fires MID-SERVE; queries
      // keep answering, none may error — the lease + additive swap +
      // resilient read close every crash window a racing reader had
      val compactor = new Thread(() => daemon.maintain(ttlNowSec = Some(now)))
      compactor.start()
      var served = 0
      while (compactor.isAlive || served < 3) {
        val (c, b) = getR(if (served % 2 == 0) metricsQ else "/paths?query=servers.*.u3")
        assert(c == 200, s"query #$served errored mid-maintenance: $c $b")
        served += 1
      }
      compactor.join()

      graft.Daemon.stageSlice(slice(2), src, "s2.parquet")
      q.processAllAvailable() // flush cycle 3, AFTER the compaction

      // the gate: the daemon's HTTP answer over the sliced+compacted store
      // is BYTE-IDENTICAL to a fixture-backed server's answer (the
      // store_lifecycle equivalence, served over real sockets)
      val fixture = new graft.api.MetricsHttpServer(spark, Sf)
      val fport = fixture.start()
      def want(p: String): String = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$fport$p")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      try {
        assert(getR(metricsQ) == ((200, want(metricsQ))),
          "store-served GET /metrics diverged from the batch-oracle series")
        val pathsQ = "/paths?query=servers.*.u3"
        assert(getR(pathsQ) == ((200, want(pathsQ))),
          "store-served GET /paths diverged from the fixture index")
      } finally fixture.stop()
    } finally daemon.stop()
  }

  // ------------------------------------------------- IVF train-once cache

  test("IVF training memoizes per (dir, iters): callers share one trajectory") {
    import graft.operators.Similarity
    val a = Similarity.trainedCents(spark, Sf)
    val b = Similarity.trainedCents(spark, Sf)
    assert(a eq b, "second trainedCents call must return the cached instance")
    val c = Similarity.trainedCentsBalanced(spark, Sf)
    val d = Similarity.trainedCentsBalanced(spark, Sf)
    assert(c eq d, "second trainedCentsBalanced call must return the cached instance")
  }

  // ------------------- adversarial inputs through the five streaming paths

  test("streaming twelve pass the DuckDB oracle gate on the adversarial fixture") {
    // Round9 gated the BATCH text/doc ops on non-ASCII/empty/missing-key
    // inputs; this replays the same fixture through every Structured
    // Streaming path (r10 advice item 7). The fixture's shape also forces
    // an EMPTY micro-batch through stream_dedup_watermark: its replay file
    // selects doc_id % 10 == 0 and the fixture has none, so batch2 is a
    // zero-row parquet the watermark machinery must cross without emitting
    // or crashing. Gate = Verify.dump + the REAL oracle_check pipeline, so
    // any cross-engine divergence on these inputs fails `sbt test`.
    import scala.sys.process._
    val fixtureDir = AdversarialFixture.dir(spark)
    val out = "/root/repo/target/round11_stream_verify"
    Verify.dump(spark, fixtureDir, out, Some(Set(
      "stream_rollup", "stream_rollup_append", "stream_dedup_exact",
      "stream_dedup_watermark", "stream_sessionize", "stream_cardinality",
      "stream_index", "stream_top_paths", "stream_decontaminate",
      "stream_heavy_hitters", "stream_chunk", "stream_anomaly")))
    val log = new StringBuilder
    val exit = Process(
      Seq("python3", "tools/oracle_check.py", fixtureDir, out),
      new java.io.File("/root/repo")).!(ProcessLogger(s => log.append(s).append('\n')))
    assert(exit == 0, s"oracle_check failed on the adversarial streaming gate:\n$log")
  }

  // ------------------------------------------------- statsd push emitter

  test("OpsStats.emit pushes every live gauge as a statsd UDP gauge line") {
    import graft.operators.OpsStats
    val sink = new java.net.DatagramSocket(0, java.net.InetAddress.getByName("127.0.0.1"))
    sink.setSoTimeout(5000)
    try {
      val wanted = OpsStats.liveGauges(spark).map(_._1).toSet
      OpsStats.emit(spark, "127.0.0.1", sink.getLocalPort, prefix = "cassabon")
      val gaugeLine = """cassabon\.([a-z_.]+):(-?\d+)\|g""".r
      val got = (1 to wanted.size).map { _ =>
        val buf = new Array[Byte](512)
        val pkt = new java.net.DatagramPacket(buf, buf.length)
        sink.receive(pkt)
        new String(pkt.getData, 0, pkt.getLength, "UTF-8")
      }
      got.foreach(l => assert(gaugeLine.matches(l), s"not a statsd gauge line: $l"))
      assert(got.map { case gaugeLine(n, _) => n }.toSet == wanted,
        "every liveGauges name must arrive exactly once")
    } finally sink.close()
  }

  // --------------------------------------------- streaming HLL registers

  test("stream_cardinality: registers merge across micro-batches to the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.OpsStats
    import graft.streaming.CarbonStream
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = graft.model.Tables.events(spark, Sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // three interleaved chunks, one micro-batch each: any register whose
    // max-rank event lands in an earlier chunk only survives if complete-
    // mode state genuinely MERGES (max) across batches
    val chunks = (0 until 3).map(k => events.zipWithIndex.collect {
      case (e, i) if i % 3 == k => e
    })
    val in = MemoryStream[(String, Long)]
    val sink = "r11_hll_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = OpsStats.hllRegisterRows(in.toDF().toDF("event_type", "user_id"))
      .groupBy(col("event_type"), col("r")).agg(max("rank").as("m"))
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val streamed = rows(CarbonStream.drainMemorySink(spark, sink))
    val batch = rows(OpsStats.hllRegisterRows(graft.model.Tables.events(spark, Sf))
      .groupBy("event_type", "r").agg(max("rank").as("m")))
    assert(streamed == batch,
      "3-chunk replay must finalize to the single-pass register frame")
  }

  test("stream_index: prefix-then-full-path arrival converges to leaf=true") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CarbonStream
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val sink = "r11_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.operators.Index.indexFrom(in.toDF().toDF("path"))
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      // batch 1: "a.b" exists only as a PREFIX of a deeper path
      in.addData("a.b.c"); q.processAllAvailable()
      // batch 2: the same node arrives as a FULL path — leaf must flip
      // to true by max-merge, never flop back
      in.addData("a.b"); q.processAllAvailable()
    } finally q.stop()
    val leaf = CarbonStream.drainMemorySink(spark, sink).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Boolean]("leaf")).toMap
    assert(leaf == Map("a" -> false, "a.b" -> true, "a.b.c" -> true))
  }

  // ---------------------------------------------- decontaminate_bloom

  test("decontaminate_bloom: no false negatives at any width; wider slices shed false positives") {
    import graft.operators.Dedup
    val docs = graft.model.Tables.documents(spark, Sf)
    def stats(bits: Int): (Long, Long) = {
      val rows = Dedup.decontaminateBloomFrom(docs, bits).collect()
      // the Bloom guarantee: every exactly-contaminated doc is flagged
      rows.foreach { r =>
        if (r.getAs[Boolean]("contaminated"))
          assert(r.getAs[Boolean]("bloom_flagged"),
            s"false NEGATIVE at $bits bits: doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("n_bloom") >= r.getAs[Long]("n_shared"),
          "bloom can only over-count shared shingles, never under")
      }
      (rows.count(_.getAs[Boolean]("false_pos")).toLong, rows.length.toLong)
    }
    val (fpNarrow, n) = stats(4)   // m = 16: saturated filter, everything positive
    val (fpWide, _) = stats(Dedup.BloomSliceBits) // m = 2^20: fp rate ~(nk/m)^k
    assert(fpNarrow > fpWide,
      s"widening the slice dial must shed false positives ($fpNarrow -> $fpWide of $n)")
    assert(fpWide == 0, s"at 2^20 positions the fixture's fp count must be 0, got $fpWide")
  }

  // -------------------------------------------------- token_surprisal

  test("token_surprisal: planted corpus scores exactly in whole bits") {
    import spark.implicits._
    // tf: a=5, b=1, c=1, N=7. bits = floor(log2(N/tf)):
    //   a -> 7 DIV 5 = 1  -> 0 bits (corpus-universal: free)
    //   b, c -> 7 DIV 1 = 7 -> 2 bits (rare: expensive)
    val docs = Seq(
      (1L, "a a a a"), // all boilerplate: 0 bits total
      (2L, "a b"),     // mixed: 2 bits over 2 tokens
      (3L, "c")        // pure rare: 2 bits over 1 token
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.tokenSurprisalFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("bits"),
          r.getAs[Double]("mean_bits")))).toMap
    assert(got(1L) == ((4L, 0L, 0.0)))
    assert(got(2L) == ((2L, 2L, 1.0)))
    assert(got(3L) == ((1L, 2L, 2.0)))
    // the log scale is the point: doc 3's mean dominates even though
    // text_commonness-style linear DF means would rank 2 and 3 equal-rarest
    assert(got(3L)._3 > got(2L)._3 && got(2L)._3 > got(1L)._3)
  }
}
