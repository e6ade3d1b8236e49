package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 gates: the trained-quantizer scale levers (r13 verdict items
  * 1/4/8), the real-codec oracle promotion (item 5), the buffered funnel
  * (item 6), and the refinedKnnLists spill-tag isolation (r13 advice).
  *
  *  1. `assignTopN` (the membership multi-assignment every graph op rides)
  *     must equal the window top-N of (ccos desc, c_id asc) — the exact
  *     equivalence the `crn <= nprobe` oracle window depends on.
  *  2. `trainedPqCodebook` must keep the full M×k codebook shape (empty
  *     cells KEEP their centroid) and must not INCREASE total quantization
  *     error vs the seed sample (Lloyd's descent property, the reason the
  *     training is worth its cost).
  *  3. `multimodal_decode_real` pins against an independent driver-side
  *     decode of the planted PNGs — dims, solid color, both upscale flags
  *     present (the fixture crosses the 224 box by construction).
  *  4. `funnelBufferedMachine` absorbs the cross-batch disorder
  *     `funnelMachine` rejects loudly, and finalizes the SAME write-once
  *     triple in-order ingest would produce.
  *  5. Two `refinedKnnLists` calls with different tags must not serve each
  *     other's rows through the shared spill (the r13 advice scenario:
  *     lazily-read final spills under undiscriminated tags).
  */
class Round14Spec extends AnyFunSuite with TestSpark {
  import graft.operators.Similarity

  // ------------------------------------------------- assignTopN window law

  test("assignTopN equals the window top-N of (ccos desc, c_id asc)") {
    graft.functions.GraftExtensions.register(spark)
    val vecs = Similarity.fixedVecs(spark, Sf)
    val cents = Similarity.centsFor(spark, Sf, "trained", Similarity.CentroidMod)
    val got = Similarity.assignTopN(vecs, cents, 3)
      .select("vec_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr("vec_dot(v, cv)") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("crn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") <= 3)
      .select("vec_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"chained max_by diverges from the window: ${(got diff want).take(5)} vs " +
        s"${(want diff got).take(5)}")
    // every vector holds min(nprobe, k) memberships — k cells exist
    val k = cents.count()
    val perVec = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perVec.values.toSet == Set(math.min(3L, k).toInt),
      s"membership counts drifted: ${perVec.values.toSet} (k=$k)")
  }

  // ------------------------------------------- PQ Lloyd descent + shape law

  test("trainedPqCodebook keeps the M×k shape and does not increase qerr") {
    graft.functions.GraftExtensions.register(spark)
    val vecs = Similarity.fixedVecs(spark, Sf)
    val seedCb = Similarity.pqCodebook(vecs)
    val trainedCb = Similarity.trainedPqCodebook(spark, Sf, vecs)
    assert(trainedCb.count() == Similarity.PqSubs.toLong * Similarity.PqCodebookK,
      "trained codebook lost entries — empty cells must keep their centroid")
    val perSub = trainedCb.groupBy("sub").agg(countDistinct("code").as("k"))
      .collect().map(_.getLong(1)).toSet
    assert(perSub == Set(Similarity.PqCodebookK.toLong),
      s"per-subspace code count drifted: $perSub")
    def totalQerr(cb: org.apache.spark.sql.DataFrame): Long =
      Similarity.pqCodesFrom(vecs, cb).agg(sum("qerr")).head().getLong(0)
    val (seedE, trainedE) = (totalQerr(seedCb), totalQerr(trainedCb))
    assert(trainedE <= seedE,
      s"Lloyd increased total quantization error: seed $seedE -> trained $trainedE")
    assert(trainedE < seedE,
      "training moved nothing on the fixture — dial or seeds are degenerate")
  }

  // --------------------------------------- real-codec oracle: planted PNGs

  test("multimodal_decode_real matches an independent driver-side decode") {
    val out = graft.operators.Multimodal.decodeReal(spark, Sf)
    val rows = out.collect()
    assert(rows.length == 500, s"expected 500 docs, got ${rows.length}")
    // the fixture must CROSS the resize box: both flags present
    val flags = rows.map(_.getAs[Boolean]("upscaled")).toSet
    assert(flags == Set(true, false),
      s"planted dims no longer cross ResizeBox=${graft.operators.Multimodal.ResizeBox}")
    // independent recount on a sample: decode the planted blob bytes here
    // on the driver and compare every gated column
    val blobs = graft.operators.Multimodal.plantedPngBlobs(spark, Sf)
      .filter(col("doc_id") % 97 === 0)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toMap
    assert(blobs.nonEmpty)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    blobs.foreach { case (id, png) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val r = byId(id)
      assert(r.getAs[Int]("width") == img.getWidth &&
        r.getAs[Int]("height") == img.getHeight, s"dims drifted for doc $id")
      val p = img.getRGB(img.getWidth / 2, img.getHeight / 2)
      assert(r.getAs[Long]("mean_r") == ((p >> 16) & 0xff).toLong &&
        r.getAs[Long]("mean_g") == ((p >> 8) & 0xff).toLong &&
        r.getAs[Long]("mean_b") == (p & 0xff).toLong,
        s"solid-color means drifted for doc $id")
      assert(r.getAs[Long]("f0") == r.getAs[Long]("mean_r") * 257,
        s"feature lane drifted for doc $id")
    }
  }

  // ------------------------------- buffered funnel: absorb what funnel rejects

  test("funnelBufferedMachine absorbs the disorder funnelMachine rejects") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionStream
    implicit val sq = spark.sqlContext
    implicit val be = org.apache.spark.sql.Encoders.product[SessionStream.BufEvent]
    implicit val fe = org.apache.spark.sql.Encoders.product[SessionStream.FunnelEvent]
    val steps = graft.operators.Analytics.FunnelSteps // (view, click, purchase)
    val shift = graft.model.RollupConfig.LastKeyShift
    def ev(u: Long, t: String, sec: Long) =
      SessionStream.BufEvent(u, t, sec * shift, new java.sql.Timestamp(sec * 1000L))

    // the write-once machine FAILS on the same cross-batch regression
    val msStrict = MemoryStream[SessionStream.FunnelEvent]
    val qs = SessionStream.funnelMachine(msStrict.toDS())
      .writeStream.format("memory").queryName("r14_funnel_strict")
      .outputMode("append").start()
    try {
      msStrict.addData(SessionStream.FunnelEvent(1L, steps.head, 100L * shift),
        SessionStream.FunnelEvent(1L, steps(2), 300L * shift))
      qs.processAllAvailable()
      msStrict.addData(SessionStream.FunnelEvent(1L, steps(1), 200L * shift))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qs.processAllAvailable()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).toSeq
      assert(msgs.exists(m => m != null && m.contains("out-of-order")),
        s"write-once funnel accepted disorder: $msgs")
    } finally {
      qs.stop(); spark.catalog.dropTempView("r14_funnel_strict")
    }

    // the buffered machine orders the same events once the watermark passes:
    // view@100, purchase@300 land first, click@200 arrives LATE — the
    // finalized order is view->click->purchase, a completed funnel
    val ms = MemoryStream[SessionStream.BufEvent]
    val q = SessionStream.funnelBufferedMachine(
        ms.toDS().withWatermark("et", "250 seconds")
          .as[SessionStream.BufEvent])
      .writeStream.format("memory").queryName("r14_funnel_buf")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, steps.head, 100), ev(1, steps(2), 300))
      q.processAllAvailable()
      ms.addData(ev(1, steps(1), 200))
      q.processAllAvailable()
      ms.addData(ev(2, "zz", 3000)) // watermark past every event of user 1
      q.processAllAvailable()
      val fin = spark.table("r14_funnel_buf")
        .groupBy("user_id")
        .agg(max("k1").as("k1"), max("k2").as("k2"), max("k3").as("k3"))
        .filter(col("user_id") === 1L).head()
      assert(fin.getLong(1) == 100L * shift && fin.getLong(2) == 200L * shift &&
        fin.getLong(3) == 300L * shift,
        s"buffered funnel triple drifted: $fin")
    } finally {
      q.stop(); spark.catalog.dropTempView("r14_funnel_buf")
    }
  }

  // ------------------------- row-local chunk embedding == the groupBy form

  test("chunkDenseRowLocal equals chunkDense exactly") {
    val docs = graft.model.Tables.documents(spark, Sf)
    val a = graft.operators.TextOps.chunkDenseRowLocal(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toList, r.getLong(3))).toSet
    val b = ChunkDenseReference.chunkDenseGroupBy(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toList, r.getLong(3))).toSet
    assert(a.nonEmpty && a == b,
      s"row-local chunk embedding diverges: ${(a diff b).take(2)} vs ${(b diff a).take(2)}")
  }

  // --------------------------- stored IVF index: pruned read, equal answer

  test("ann_ivf_stored prunes partitions and matches ann_ivf_trained") {
    graft.functions.GraftExtensions.register(spark)
    val stored = Similarity.ivfStored(spark, Sf)
    val plan = stored.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*c_id".r
      .findFirstIn(plan).isDefined
    assert(pruned,
      s"probe scan is not partition-pruned on c_id:\n${plan.take(3000)}")
    val got = stored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfTrained(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == want, s"stored-index serve diverges from the in-memory plan")
  }

  // ----------------------------- write batching: the batchwriter.go knob

  test("appendStateSlice batch-size knob bounds the unit of write") {
    import graft.sources.RollupStore
    import org.apache.hadoop.fs.Path
    val state = graft.operators.Rollups.mergeableFrom(
      graft.model.Tables.metrics(spark, Sf))
    val rows = state.count()
    assert(rows > 40, s"fixture too small to batch: $rows")
    val store = java.nio.file.Files.createTempDirectory("r14_batch").toString
    // batch size far below the slice: one flush must land as SEVERAL
    // bounded files in its partition directory (batchwriter.go's
    // stmtCount >= batchSize flush, re-expressed as maxRecordsPerFile)
    RollupStore.appendStateSlice(state, store, maxRowsPerFile = 10L)
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(new Path(root, "tbl=*/stat_date=*")).map(_.getPath)
    val multi = dirs.filter(d =>
      fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")) > 1)
    assert(multi.nonEmpty,
      "a 10-row batch cap produced single-file partitions — the knob is dead")
    // bounded units must not change the read: merge-on-read equals the
    // unbatched single-pass finalize
    val got = RollupStore.readFinalized(spark, store)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = graft.operators.Rollups.finalize(
        graft.operators.Rollups.mergeAll(state))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want, "batched write changed the finalized read")
  }

  // --------------------------- full cassabon.yaml parity (config_parser.go)

  test("CassabonConfigFile parses the reference's own test config") {
    import graft.model.CassabonConfigFile
    // the fixture is a verbatim copy of the reference repo's
    // config/config_test.yaml (BSD-licensed public repo), vendored into
    // src/test/resources so the suite runs without the reference checkout;
    // it exercises every sanitation branch: below-minimum channel lengths
    // clamp, garbage aggregations and malformed pairs reject, the
    // default's duplicate retention table rejects it into the injected
    // fallback
    val cfg = CassabonConfigFile.load(
      getClass.getResource("/config_test.yaml").getPath)
    assert(cfg.loglevel == "info" && cfg.logdir == "")
    assert(cfg.statsd == CassabonConfigFile.Statsd(
      "127.0.0.1", 8125, "carbon.received.success", 1.0,
      "carbon.received.failure", 1.0))
    assert(cfg.channels == CassabonConfigFile.Channels(10, 10, 10, 10))
    assert(cfg.carbon.listen == "127.0.0.1:2003" && cfg.carbon.protocol == "tcp")
    assert(cfg.carbon.tcpTimeoutSec == 5 && cfg.carbon.udpTimeoutSec == 5)
    assert(cfg.carbon.peers == Seq("127.0.0.1:2003"))
    assert(cfg.api.listen == "127.0.0.1:8080" &&
      cfg.api.healthCheckFile == "config/healthcheckfile")
    // api timeouts absent -> floor at 1 (the reference's < 1 guard)
    assert(cfg.api.getIndexSec == 1L && cfg.api.deleteMetricSec == 1L)
    assert(cfg.cassandra.keyspace == "cassabon_dev" &&
      cfg.cassandra.batchSize == 2 && cfg.cassandra.hosts == Seq("127.0.0.1"))
    assert(cfg.elasticSearch.isEmpty) // no ES section in that config
    // rollups: the garbage aggregation, the 10q windows and the
    // unparseable regex reject their expressions; `default`'s three
    // malformed pairs reject at PAIR level (config dirty) while the
    // expression itself survives with its three well-formed windows —
    // the reference's LoadRollups keeps an expression whose window list
    // is non-empty even when some pairs failed
    val rej = cfg.rollups.rejected.map(_.expression).toSet
    assert(rej.contains("^bar.zoom1.*") && rej.contains("^bar.zoom2.*") &&
      rej.contains("^bar.(zoom2.*") && rej.contains("default"), s"rejects: $rej")
    assert(!cfg.rollups.clean)
    val default = cfg.rollups.defs.find(_.isCatchall).get
    assert(default.windows.map(w => (w.windowSec, w.retentionSec)) ==
      Seq((15L, 86400L), (3600L, 2592000L), (3600L, 1814400L)),
      "default must keep its three well-formed windows")
    // peer-list validation semantics (ValidatePeerList)
    assert(CassabonConfigFile.validatePeerList(
      cfg.carbon.listen, cfg.carbon.peers).isRight)
    assert(CassabonConfigFile.validatePeerList(
      "10.0.0.9:2003", cfg.carbon.peers).swap.exists(_.contains("not in peer list")))
    assert(CassabonConfigFile.validatePeerList(
      "x:1", Seq.empty).swap.exists(_ == "No peers in peer list"))
    assert(CassabonConfigFile.validatePeerList(
      "x:1", Seq("nonsense")).swap.exists(_.contains("Invalid host:port")))
    // sanitation bounds on a synthetic config
    val syn = CassabonConfigFile.parse(
      """channels:
        |    metricstorechanlen: 3
        |    metricrequestchanlen: 5000
        |carbon:
        |    parameters:
        |        tcptimeout: 0
        |        udptimeout: 99
        |cassandra:
        |    keyspace: ""
        |elasticsearch:
        |    baseurl: "http://es:9200"
        |rollups:
        |  default:
        |    retention:
        |      - 10s:1h
        |    aggregation: average
        |""".stripMargin)
    assert(syn.channels.metricStore == 10 && syn.channels.metricRequest == 1000)
    assert(syn.carbon.tcpTimeoutSec == 1 && syn.carbon.udpTimeoutSec == 30)
    assert(syn.cassandra.keyspace == "cassabon")
    val es = syn.elasticSearch.get
    assert(es.index == "cassabon" &&
      es.mapUrl == "http://es:9200/cassabon" &&
      es.putUrl == "http://es:9200/cassabon/path" &&
      es.searchUrl == "http://es:9200/cassabon/path/_search" &&
      es.countUrl == "http://es:9200/cassabon/path/_search?search_type=count")
    // 0.0.0.0 resolves to a local non-loopback IPv4; specific hosts pass through
    assert(CassabonConfigFile.resolveUnspecified("127.0.0.1:2003") == "127.0.0.1:2003")
    val r = CassabonConfigFile.resolveUnspecified("0.0.0.0:2003")
    assert(r.endsWith(":2003") && !r.startsWith("0.0.0.0") && !r.startsWith("127."),
      s"unspecified listen resolved to $r")
  }

  // ------------------------------------ refinedKnnLists spill-tag isolation

  test("refinedKnnLists spills are tag-isolated across interleaved calls") {
    graft.functions.GraftExtensions.register(spark)
    val all = Similarity.fixedVecs(spark, Sf)
    val slice = all.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.centsFor(spark, Sf, "seed", Similarity.CentroidMod)
    // call A built but NOT materialized yet (the lazy final-spill read)
    val a = Similarity.refinedKnnLists(spark, Sf, slice, cents, 2, 1, "r14_a")
    // call B runs to completion in between — under undiscriminated tags its
    // overwrite would replace A's final spill before A is ever read
    val b = Similarity.refinedKnnLists(spark, Sf, all, cents, 2, 1, "r14_b")
    val bCount = b.count()
    val aIds = a.select("q_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(aIds.nonEmpty && aIds.forall(_ % 5 == 0),
      "call A served call B's rows — spill tags are not isolating")
    assert(bCount > aIds.size, "full-corpus call should dominate the slice")
  }
}
