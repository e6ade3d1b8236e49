package graft

import org.apache.spark.sql.functions._

import graft.api.MetricsApi
import graft.model.Tables
import graft.operators.{Curate, Dedup, Multimodal, Rollups, Similarity, TextOps}
import graft.sources.RollupStore
import graft.streaming.{CarbonStream, DedupStream}

/** End-to-end lifecycle demo: everything a cassabon user does, plus the
  * training-data pipeline, in one run. `runMain graft.Demo [sfDir]`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val store = java.nio.file.Files.createTempDirectory("graft_demo_store").toString
    val spark = Harness.session(4, "graft-demo")

    // 1. ingest: the streaming path (file source standing in for the
    //    carbon socket), complete-mode windowed rollup
    val streamed = CarbonStream.rollupQuery(spark, dir)
    println(s"[demo] streaming ingest: ${streamed.count()} open rollup windows")

    // 2. the full multi-window write set, flushed to the partitioned store
    RollupStore.write(Rollups.rollups(spark, dir), store)
    val now = Tables.metrics(spark, dir).agg(max("ts")).collect().head.getLong(0)
    val retained = RollupStore.readRetained(spark, store, now).count()
    println(s"[demo] store flush: $retained rows retained under TTL at $store")

    // 2b. the same store fed the streaming way: append-only mergeable
    //     state per flush cycle, merge-on-read finalization — equal to the
    //     single-pass batch by the associativity of the state algebra
    val store2 = java.nio.file.Files.createTempDirectory("graft_demo_flush").toString
    CarbonStream.streamRollupsToStore(spark, dir, store2, glob = "events.parquet")
    RollupStore.compact(spark, store2) // fold the flush slices; readers unchanged
    val finalized = RollupStore.readFinalized(spark, store2).count()
    println(s"[demo] streaming flush + compaction: $finalized finalized rollup rows " +
      s"(batch pass wrote ${Rollups.rollups(spark, dir).count()})")
    val lifecycle = Rollups.storeLifecycle(spark, dir).count()
    println(s"[demo] store_lifecycle (sliced append -> compact -> merge-on-read): " +
      s"$lifecycle rows, oracle-equal to the single pass")
    // 2c. maintenance is crash-safe: a staging dir a previous compaction
    //     left behind (here: an uncommitted write, no _SUCCESS) is
    //     recovered before the next one stages — see RollupStore.recover
    val hp = new org.apache.hadoop.fs.Path(store2, "_compact")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(hp)
    RollupStore.compact(spark, store2)
    println(s"[demo] compaction self-heal: stale staging drained=${!hfs.exists(hp)}, " +
      s"rows unchanged=${RollupStore.readFinalized(spark, store2).count() == finalized}")

    // 2d. config front door: the same rollup semantics loaded from a
    //     cassabon-format yaml file, driving the reload diff a SIGHUP
    //     handler ships (RollupConfigFile mirrors LoadRollups exactly)
    val cfgFile = java.nio.file.Files.createTempFile("demo_rollups", ".yaml")
    java.nio.file.Files.write(cfgFile,
      """rollups:
        |  '^servers\.click\..*':
        |    retention: [ 1m:2h, 1h:1w ]
        |    aggregation: sum
        |  default:
        |    retention: [ 10m:1d, 1h:30d ]
        |    aggregation: average
        |""".stripMargin.getBytes("UTF-8"))
    val loaded = graft.model.RollupConfigFile.load(cfgFile.toString)
    val moved = Rollups.redispatchBetween(spark, dir,
        graft.model.RollupConfig.reference, loaded.defs)
      .filter(col("old_expr") =!= col("new_expr"))
      .agg(coalesce(sum("paths"), lit(0L))).collect().head.getLong(0)
    println(s"[demo] config reload from file: clean=${loaded.clean}, " +
      s"${loaded.defs.size} defs, $moved paths would re-dispatch")
    val wirePeers = graft.model.PeerList
      .parseWirePayload(graft.operators.Carbon.PeerlistWirePayload).get
    val peerCheck = graft.model.PeerList.validate("10.0.0.1:2003", wirePeers)
    println(s"[demo] wire peerlist command: ${wirePeers.size} peers, " +
      s"validate-as-10.0.0.1:2003=${peerCheck.isRight}")

    // 3. the query API
    val paths = MetricsApi.getPaths(spark, dir, "servers.*.u3")
    println(s"[demo] GET /paths servers.*.u3 -> ${paths.map(_.path).mkString(", ")}")
    val resp = MetricsApi.getMetrics(spark, dir, Seq("servers.view.u5"), now - 172800, now)
    val series = resp.series("servers.view.u5")
    println(s"[demo] GET /metrics: step=${resp.step}s slots=${series.size} " +
      s"gaps=${series.count(_.isEmpty)}")
    val (dry, _) = MetricsApi.deleteMetrics(spark, dir,
      Seq("servers.error.u1"), now - 604800, now - 86400, dryRun = true)
    println(s"[demo] DELETE /metrics dry-run: ${dry.totalDeleted} rows would go")
    // ...and the same surface served LIVE over a real socket (r10)
    val httpd = new graft.api.MetricsHttpServer(spark, dir)
    val port = httpd.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(p: String) = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      println(s"[demo] live HTTP on :$port — /healthcheck=${get("/healthcheck")}, " +
        s"/paths?query=servers.*.u3 -> ${"\"path\"".r.findAllIn(get("/paths?query=servers.*.u3")).size} entries")
    } finally httpd.stop()
    val ledger = graft.operators.OpsStats.runtimeStats(spark, dir).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[demo] self-telemetry ledger: $ledger")
    val gauges = graft.operators.OpsStats.liveGauges(spark).toMap
    println(f"[demo] live gauges: heap ${gauges("memory.alloc") / 1048576}%d MiB used, " +
      s"${gauges("memory.gc")} GCs, ${gauges("executors")} executor(s)")
    val card = graft.operators.OpsStats.cardinalitySketch(spark, dir).collect()
      .map(r => f"${r.getString(0)}=${r.getDouble(2)}%.0f±${r.getDouble(3) * 100}%.1f%%")
      .sorted.mkString(", ")
    println(s"[demo] HLL distinct users per event type (64 registers): $card")
    val hh = graft.operators.Carbon.heavyHittersSketch(spark, dir).collect()
    println(s"[demo] count-min heavy hitters (3x16 counters): top=" +
      hh.take(3).map(r => s"${r.getString(0)} est=${r.getLong(2)}/exact=${r.getLong(1)}")
        .mkString(", ") + s", overestimated=${hh.count(_.getLong(3) > 0)}/10")

    // 4. the training-data pipeline over documents
    val nearDups = Dedup.minhashLsh(spark, dir).count()
    val sampled = TextOps.sampleStratified(spark, dir).count()
    val bins = TextOps.packSequences(spark, dir).agg(max("bin")).collect().head.getLong(0) + 1
    val repetitive = TextOps.textRepetition(spark, dir)
      .filter(col("rep2") > 0.1).count()
    println(s"[demo] pipeline: $nearDups near-dup pairs, $sampled docs sampled, " +
      s"$bins context bins, $repetitive docs flagged repetitive (rep2 > 0.1)")
    val rare = TextOps.textCommonness(spark, dir)
      .agg(min("rarest_df")).collect().head.getLong(0)
    val contaminated = Dedup.decontaminate(spark, dir)
      .filter(col("contaminated")).count()
    println(s"[demo] pipeline filters: rarest token df=$rare, " +
      s"$contaminated train docs share a 3-gram with the eval holdout")
    val bloom = Dedup.decontaminateBloom(spark, dir)
      .agg(sum(when(col("bloom_flagged"), 1).otherwise(0)),
        sum(when(col("false_pos"), 1).otherwise(0))).head()
    println(s"[demo] decontaminate_bloom: ${bloom.getLong(0)} flagged by the " +
      s"2^${Dedup.BloomSliceBits}-bit filter, ${bloom.getLong(1)} false positives")
    val surpr = TextOps.tokenSurprisal(spark, dir)
      .agg(min("mean_bits"), max("mean_bits")).head()
    println(f"[demo] token_surprisal: mean bits/token spans " +
      f"${surpr.getDouble(0)}%.2f (boilerplate) .. ${surpr.getDouble(1)}%.2f (rare)")
    val chunks = TextOps.chunkDocuments(spark, dir).count()
    val shared = TextOps.boilerplateShare(spark, dir)
      .agg(sum("shared_chunks"), max("shared_frac")).head()
    println(s"[demo] chunking: $chunks retrieval windows " +
      s"(${TextOps.ChunkTokens} tok, overlap ${TextOps.ChunkOverlap}); " +
      s"${shared.getLong(0)} chunk instances shared across docs " +
      f"(worst doc ${shared.getDouble(1) * 100}%.0f%% boilerplate)")
    val kw = TextOps.textTfidf(spark, dir).filter(col("rank") === 1)
      .agg(max("score")).head().getLong(0)
    println(s"[demo] text_tfidf: per-doc keywords extracted, max salience $kw tf-bits")
    val mix = TextOps.mixRebalance(spark, dir).collect()
      .map(r => f"${r.getString(0)}=${r.getDouble(5) * 100}%.1f%%(goal ${r.getInt(2)}%%)")
      .sorted.mkString(", ")
    println(s"[demo] mix_rebalance: $mix")

    // 4b. pre-flight the sketch dials: measured bucket occupancy per
    //     family — the number that says when a width must widen (~log n)
    //     BEFORE committing to a full dedup pass at a new corpus scale
    val occ = graft.operators.Sketch.occupancy(spark, dir).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(2)}").sorted.mkString(", ")
    println(s"[demo] sketch_occupancy max bucket per family: $occ")

    // 5. pair candidates alone can't be acted on: collapse transitive
    //    chains to one kept doc per cluster
    val dropped = Dedup.cluster(spark, dir).filter(!col("keep")).count()
    println(s"[demo] dedup_cluster: $dropped docs dropped as transitive near-dups")

    // 5b. the composed verdict: every gate in ONE query, per-filter
    //     booleans as the audit trail
    val verdict = Curate.curate(spark, dir)
    val survived = verdict.filter(col("keep")).count()
    println(s"[demo] curate: $survived/${verdict.count()} docs survive " +
      "quality+repetition+decontamination+dedup in one query")

    // 5c. the live decontamination twin: the same Bloom verdict while
    //     docs stream in — the eval suite is fixed, so every probe is a
    //     stateless stream-static broadcast join
    val live = DedupStream.decontaminateQuery(spark, dir)
    val flagged = live.filter(col("bloom_flagged")).count()
    val fps = live.filter(col("false_pos")).count()
    println(s"[demo] stream_decontaminate: $flagged docs flagged live, " +
      s"$fps bloom false positives")

    // 6. the multimodal columns ride the same pipeline: typed metadata,
    //    deterministic frame sampling, exact aspect-fit resize planning,
    //    fixed-point feature lanes behind the (stubbed) decode seam
    val nBlobs = Multimodal.meta(spark, dir).count()
    val plan = Multimodal.resize(spark, dir)
      .agg(max("out_w").as("w"), max("out_h").as("h")).collect().head
    val lanes = Multimodal.features(spark, dir).columns.count(_.startsWith("f"))
    println(s"[demo] multimodal: $nBlobs blobs -> resize fits ${plan.getInt(0)}x${plan.getInt(1)} " +
      s"in ${Multimodal.ResizeBox}^2, $lanes feature lanes per blob")

    // 7. train the ANN quantizer and verify every sketch against brute
    //    force — the dial check a pipeline runs before trusting any
    //    approximate path at scale (kmeans_train feeds ann_ivf_trained;
    //    ann_recall reports it next to the seed quantizer and LSH)
    val rec = Similarity.recall(spark, dir).collect()
      .map(r => s"${r.getString(0)}=${r.getDouble(3)}").sorted.mkString(", ")
    println(s"[demo] ann recall@5 vs brute force: $rec")

    // 8. continuous ingest twin: bounded-state streaming dedup (the
    //    RocksDB state store is one conf away for unbounded key spaces:
    //    CarbonStream.RocksDbFlag)
    val kept = DedupStream.dedupWatermarkQuery(spark, dir).count()
    println(s"[demo] stream_dedup_watermark: $kept docs admitted within the horizon")

    // 9. the tokenizer loop (r11): train the BPE merge table, encode the
    //    corpus with it — the train→apply pair a data pipeline ships
    val merges = graft.operators.Bpe.bpeTrain(spark, dir).collect()
    val enc = graft.operators.Bpe.bpeEncode(spark, dir)
      .agg(sum("n_tokens"), sum("n_words")).head()
    println(s"[demo] bpe: merges=${merges.map(_.getString(3)).mkString(",")} " +
      s"-> ${enc.getLong(0)} tokens over ${enc.getLong(1)} words")

    // 10. the REAL wire front door (r11): datagrams split mid-line into a
    //     live UDP socket, remainder-carry reassembled, flushed as one
    //     slice, merged on read — the listener arm end to end
    val udpStore = java.nio.file.Files.createTempDirectory("demo_udp_store").toString
    val udpSrc = java.nio.file.Files.createTempDirectory("demo_udp_src").toString
    val daemon = new Daemon(spark, udpStore)
    val udpPort = daemon.startUdpIngest(udpSrc)
    val lines = graft.operators.Carbon.lines(spark, dir).orderBy("line_id")
      .select("line").collect().map(_.getString(0))
    val payload = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    val sock = new java.net.DatagramSocket()
    try {
      var off = 0
      while (off < payload.length) {
        val len = math.min(512, payload.length - off)
        sock.send(new java.net.DatagramPacket(payload, off, len,
          java.net.InetAddress.getByName("127.0.0.1"), udpPort))
        off += len
        if (off % 8192 == 0) Thread.sleep(5)
      }
    } finally sock.close()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def seen = daemon.listener.receivedOk.get + daemon.listener.receivedFail.get +
      daemon.listener.peerCmds.get
    while (seen < lines.length && System.nanoTime() < deadline) Thread.sleep(20)
    val flushed = daemon.udpFlush("udp0.parquet")
    daemon.ingestQuery.processAllAvailable()
    val stored = graft.sources.RollupStore.readFinalized(spark, udpStore).count()
    println(s"[demo] udp listener: ok=${daemon.listener.receivedOk.get} " +
      s"fail=${daemon.listener.receivedFail.get} cmds=${daemon.listener.peerCmds.get} " +
      s"-> $flushed rows flushed -> $stored finalized rollup rows")
    daemon.stop()

    // ------------------------- TCP front door: the reference's primary arm
    val tcpStore = java.nio.file.Files.createTempDirectory("demo_tcp_store").toString
    val tcpSrc = java.nio.file.Files.createTempDirectory("demo_tcp_src").toString
    val tcpd = new Daemon(spark, tcpStore)
    val tcpPort = tcpd.startTcpIngest(tcpSrc)
    val conn = new java.net.Socket(java.net.InetAddress.getByName("127.0.0.1"), tcpPort)
    try {
      val out = conn.getOutputStream
      var off = 0
      while (off < payload.length) {
        val len = math.min(512, payload.length - off)
        out.write(payload, off, len); out.flush()
        off += len
      }
    } finally conn.close()
    val tdl = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def tseen = tcpd.tcpListener.receivedOk.get + tcpd.tcpListener.receivedFail.get +
      tcpd.tcpListener.peerCmds.get
    while (tseen < lines.length && System.nanoTime() < tdl) Thread.sleep(20)
    val tFlushed = tcpd.tcpFlush("tcp0.parquet")
    tcpd.ingestQuery.processAllAvailable()
    val tStored = graft.sources.RollupStore.readFinalized(spark, tcpStore).count()
    println(s"[demo] tcp listener: conns=${tcpd.tcpListener.connections.get} " +
      s"ok=${tcpd.tcpListener.receivedOk.get} -> $tFlushed rows flushed " +
      s"-> $tStored finalized rollup rows (same metricHandler as UDP)")
    tcpd.stop()

    // ----------------- graphite series functions + cluster-scoped sem-dedup
    import graft.operators.Series
    val outliers = Series.anomaly(spark, dir).filter(col("anomaly")).count()
    val topPathsKept = Series.topSeries(spark, dir)
      .select("path").distinct().collect().map(_.getString(0)).sorted
    val repaired = Series.fillLast(spark, dir)
      .filter(col("stat").isNull && col("filled").isNotNull).count()
    println(s"[demo] series functions: $outliers z>3 outliers, " +
      s"top-${Series.TopSeriesK} series=${topPathsKept.mkString(",")}, " +
      s"$repaired fetch-grid gaps repaired with keepLastValue")
    val sem = Similarity.semanticDedup(spark, dir)
    val semDropped = sem.filter(!col("kept")).count()
    println(s"[demo] dedup_semantic: $semDropped/${sem.count()} vectors dropped " +
      s"as in-cell duplicates (SemDeDup over the IVF cells)")

    // --------------------- dashboard reads: summarize / percentile / shares
    val buckets = Series.summarize(spark, dir).select("bucket_ts").distinct().count()
    val p = Series.percentileOfSeries(spark, dir)
      .agg(max("p90").as("hi"), max("n_series").as("w")).head()
    val sigma = Series.movingStdDev(spark, dir).agg(max("stddev")).head().getDouble(0)
    println(f"[demo] dashboard reads: $buckets%d summarize buckets, " +
      f"widest percentile bucket spans ${p.getLong(1)}%d series (max p90=${p.getDouble(0)}%.2f), " +
      f"max moving sigma=$sigma%.3f over ${Series.StdDevPoints}%d points")

    // ------------------ tokenizer audit + perplexity gate + graph clusters
    import graft.operators.TextOps
    val oov = TextOps.vocabCoverage(spark, dir)
      .agg(round(avg("oov_rate"), 4).as("m")).head().getDouble(0)
    val ppl = TextOps.perplexityFilter(spark, dir)
    val pplFail = ppl.filter(!col("perplexity_ok")).count()
    val med = ppl.select("corpus_median").head().getDouble(0)
    println(s"[demo] tokenizer coverage: mean OOV rate $oov vs the top-" +
      s"${TextOps.VocabTopN} vocab; perplexity gate: $pplFail docs outside " +
      s"+-${TextOps.PerplexityBand} bits of the corpus median ($med)")
    val comps = Similarity.knnComponents(spark, dir)
    val multi = comps.filter(col("n_members") > 1)
    println(s"[demo] knn graph: ${multi.select("cluster_id").distinct().count()} " +
      s"multi-vector components over ${comps.count()} vertices " +
      s"(mutual-kNN closure; ${comps.filter(col("keep")).count()} representatives kept)")

    // ------------- product-analytics reads + centrality + the text embedder
    import graft.operators.Analytics
    val funnel = Analytics.funnelSteps(spark, dir).orderBy("step").collect()
    println(s"[demo] funnel: " + funnel.map(r =>
      s"${r.getString(1)}=${r.getLong(2)} (${r.getDouble(4)}%)").mkString(" -> "))
    val coh = Analytics.cohortRetention(spark, dir)
      .filter(col("week_offset") > 0)
      .agg(round(avg("retention_pct"), 2)).head()
    println(s"[demo] cohort retention beyond week 0 averages ${coh.get(0)}%")
    val pr = Similarity.knnPagerank(spark, dir)
      .orderBy(col("pr_ppm").desc).limit(1).head()
    println(s"[demo] knn_pagerank: most central vector ${pr.getLong(0)} " +
      s"(degree ${pr.getLong(1)}, ${pr.getLong(2)} ppm over ${Similarity.PrIters} rounds)")
    val emb = TextOps.embedHashing(spark, dir)
    println(s"[demo] embed_hashing: ${emb.count()} sparse coordinates over " +
      s"${emb.select("doc_id").distinct().count()} docs, ${TextOps.EmbedDims} dims")

    spark.stop()
  }
}
