package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.model.Portable.md5Hex

/** Streaming exact dedup — the continuous-ingest twin of
  * `operators/Dedup.exact`, for pipelines that dedup documents AS they
  * arrive rather than in a nightly batch.
  *
  * The streaming aggregation keys on `md5(text)` (16 bytes of state per
  * distinct document, never the body) and maintains (min doc_id, copy
  * count) per key; on a finite stream the complete-mode result must equal
  * the batch dedup exactly, which is what the DuckDB oracle checks. The
  * same planted duplicates as the batch operator (every 10th doc re-sent
  * as doc_id+1000000) make keep/drop observable on the dup-free fixture.
  *
  * Scale posture: keyed state grows with the distinct-document count, so
  * an unbounded 100 TB ingest pairs this with either a RocksDB state
  * store or `dropDuplicatesWithinWatermark` (state bounded by the
  * ingest-time horizon instead) — the spec exercises the watermarked
  * variant's first-wins/state-eviction semantics via MemoryStream.
  */
object DedupStream {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** doc stream -> (text_hash, keep_id, n_copies) streaming aggregation. */
  def dedupAgg(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    base.union(planted)
      .groupBy(md5Hex(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Run the streaming dedup over the documents fixture (file source,
    * memory sink, complete mode), block until drained, return the table.
    */
  def dedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    CarbonStream.replay(dedupAgg(docs), "complete")
  }

  /** Oracle: identical to the batch exact dedup — finite stream in
    * complete mode must equal the batch aggregation (Dedup.exactSql).
    */
  private val dedupSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |)
      |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM all_docs GROUP BY 1""".stripMargin

  // ------------------------------------------- watermark-bounded dedup

  val Horizon = 97    // seconds of dedup-state retention (watermark delay)
  val ReplayGap = 300 // event-time delay of the replayed duplicate copies
  val TsOffset = 1000 // keeps every event time above the initial watermark (0),
                      // which the late filter treats NON-strictly (ts <= wm is
                      // late) — without it the doc at ts=0 is dropped before
                      // any data has even set a watermark. A constant shift
                      // leaves every keep/drop inequality invariant, so the
                      // oracle needs no ts at all.

  /** The STATE-BOUNDED form — the only dedup that can run FOREVER:
    * `dropDuplicatesWithinWatermark` keeps a key only until the watermark
    * passes its expiry (event time + horizon), so state is ingest-rate x
    * horizon, independent of total stream length; the complete-mode
    * aggregation above grows with the distinct-document count instead.
    *
    * A three-micro-batch replay ([[CarbonStream.replaySlices]]) makes
    * every keep/drop decision a pure function of the data (the
    * stream_rollup_append determinism trick):
    * batch 1 is the dup-free base corpus at event time ts = doc_id +
    * [[TsOffset]]; batch 2
    * is a single sentinel (a re-send of doc mx at ts = mx — always an
    * in-horizon duplicate, so it never reaches the sink and never moves the
    * watermark); batch 3 re-sends every 10th document (doc_id + 1000000) at
    * ts = doc_id + [[ReplayGap]]. The sentinel batch is load-bearing:
    * Spark applies the late-event filter with the PREVIOUS batch's
    * watermark and evicts expired state at the END of a batch, so the
    * batch right after the base corpus still runs with watermark 0 and a
    * fully-populated state store — replays sent there are all swallowed as
    * duplicates. One sentinel batch later the watermark is
    * max(doc_id) - [[Horizon]] for both checks, and a replayed copy is
    *   - dropped as LATE data when its own event time is behind the
    *     watermark (doc_id + ReplayGap < mx - Horizon),
    *   - dropped as an in-horizon DUPLICATE when the original's state has
    *     not expired (doc_id + Horizon >= mx - Horizon),
    *   - re-admitted otherwise: the original aged out of state, so the
    *     copy is a new document — exactly the bounded-state contract.
    * Horizon=97 / ReplayGap=300 keep both boundaries off the doc_id % 10
    * lattice at every SF (max doc_id ends in 9), so no strict-vs-non-strict
    * comparison edge is ever exercised; the oracle's WHERE clause encodes
    * the same two rules.
    */
  def dedupWatermarkQuery(spark: SparkSession, dir: String): DataFrame = {
    // Collapse the base corpus to ONE row per distinct text (min doc_id)
    // BEFORE streaming it: inside a single micro-batch, first-wins picks
    // whichever copy its partition happens to process first — a
    // nondeterministic doc_id the oracle cannot model (sf0.1 carries 8
    // naturally-duplicated texts; the smaller fixtures are dup-free, which
    // hid this). Every keep/drop/re-admit decision the operator exists to
    // demonstrate is exercised by the PLANTED sentinel/replay batches,
    // whose keys are unique per batch — so pre-collapsing the base loses
    // nothing and makes the emitted rows a pure function of the data.
    // persist: the md5-over-full-text aggregation is the expensive part of
    // this operator, and staging otherwise recomputes it four times (base,
    // sentinel and replay slices, max collect); freed (blocking) once the
    // stream has run, so the op returns leak-free.
    val deduped = graft.model.Tables.documents(spark, dir)
      .groupBy(md5Hex(col("text")).as("text_hash"))
      .agg(min("doc_id").as("doc_id"))
      .persist()
    try {
      val base = deduped.select(col("doc_id"), col("text_hash"),
        (col("doc_id") + TsOffset).as("ts"))
      val replay = deduped.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text_hash"),
          (col("doc_id") + TsOffset + ReplayGap).as("ts"))
      val mx = deduped.agg(max("doc_id")).head().getLong(0)
      val sentinel = deduped.filter(col("doc_id") === mx)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("text_hash"), (col("doc_id") + TsOffset).as("ts"))
      // Memory sink, like every other streaming entry: the semantics under
      // test are the watermark/state-eviction rules, and a file sink adds a
      // per-micro-batch parquet commit (8 files + _spark_metadata per batch
      // at the bound partition count) that only measures sink IO.
      CarbonStream.replaySlices(Seq(base, sentinel, replay)) { docs =>
        CarbonStream.replay(docs
          .withColumn("tts", timestamp_seconds(col("ts")))
          .withWatermark("tts", s"$Horizon seconds")
          .dropDuplicatesWithinWatermark("text_hash")
          .select("doc_id", "text_hash"), "append")
      }
    } finally deduped.unpersist(blocking = true)
  }

  private val dedupWatermarkSql: String =
    s"""WITH b AS (
       |  SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
       |  FROM documents GROUP BY 1
       |),
       |mx AS (SELECT max(doc_id) AS m FROM b)
       |SELECT doc_id, text_hash FROM b
       |UNION ALL
       |SELECT doc_id + 1000000 AS doc_id, text_hash
       |FROM b, mx
       |WHERE doc_id % 10 = 0
       |  AND doc_id + $ReplayGap >= m - $Horizon
       |  AND doc_id < m - 2 * $Horizon""".stripMargin

  // ---------------------------------------------- streaming decontamination

  /** Bloom decontamination on a LIVE document stream — the continuous
    * form of `decontaminate_bloom`, for pipelines that must reject
    * eval-contaminated documents AS they arrive rather than in a nightly
    * sweep. The split of work is the point: the eval suite is FIXED while
    * training docs stream, so its Bloom position frame (bounded by
    * m = 2^sliceBits rows no matter the suite size) and its exact shingle
    * set are STATIC DataFrames, and every probe is a stateless
    * stream-static broadcast join — each micro-batch joins against the
    * same broadcast build side, no streaming join state at all. Shingling
    * is row-local (a doc's full text is one row, so `array_distinct` over
    * the hashed trigram array IS the batch op's per-doc distinct), which
    * keeps the whole verdict map-side; the only streaming state is the
    * final per-doc counter pair (complete mode here so the finite replay
    * equals the batch op — a production deployment that only needs
    * `bloom_flagged` can drop the exact-harness join and the aggregation
    * entirely and run append-mode stateless). Readoff via the SAME
    * [[graft.operators.Dedup.bloomVerdict]] the batch op uses; oracle =
    * `decontaminate_bloom`'s SQL verbatim.
    */
  def decontaminateQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val sliceBits = Dedup.BloomSliceBits
    val evalSh = Dedup.evalShinglesOf(
      Dedup.shinglesFrom(graft.model.Tables.documents(spark, dir)))
    val bloom = Dedup.bloomPositionsFrom(evalSh, sliceBits)
    val slices = Dedup.sliceExprs(sliceBits)

    // Row-local twin of Dedup.shinglesFrom: hash first, then de-dup the
    // hashes WITHIN the row (doc rows are unique, so this equals the
    // batch distinct over (doc_id, shingle)) — no stateful `distinct()`.
    val hash60Sql =
      "CAST(conv(substring(md5(CAST(concat_ws(' ', slice(t, i, 3)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    val sh = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(t) - 2), i -> $hash60Sql))")).as("shingle"))

    val train = sh.filter(col("doc_id") % Dedup.EvalMod =!= 0)
    // One left join per slice: bloom positions are distinct, so each join
    // matches at most one row — `inb0..inbk` present iff that slice's
    // position is set, and all-k-present is exactly the batch op's
    // count(inb) == k bloom test.
    val probed = slices.zipWithIndex.foldLeft(train) { case (df, (s, j)) =>
      df.join(broadcast(bloom.select(col("pos").as(s"pos$j"), lit(1).as(s"inb$j"))),
        col(s"pos$j") === s, "left")
    }
    val bloomHit = (0 until Dedup.BloomK)
      .map(j => col(s"inb$j").isNotNull).reduce(_ && _)
    val counts = probed
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(sum(when(bloomHit, 1L).otherwise(0L)).as("n_bloom"),
        count(col("hit")).as("n_shared"))
    Dedup.bloomVerdict(CarbonStream.replay(counts, "complete"))
  }

  // ------------------------------------------------------------ stream_chunk

  /** The LIVE form of `chunk_documents` — and the proof of its zero-state
    * design: because chunk count, starts, slices and hashes are all
    * row-local algebra, the SAME batch projection
    * ([[graft.operators.TextOps.chunkDocumentsFrom]], reused unchanged)
    * runs on a document stream in APPEND mode with NO streaming state at
    * all — the only append-mode stateless path in the engine, which is
    * exactly what a continuous retrieval indexer wants (chunk each doc as
    * it arrives, ship chunks downstream, remember nothing). Oracle =
    * `chunk_documents`' SQL verbatim.
    */
  def chunkQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    CarbonStream.replay(graft.operators.TextOps.chunkDocumentsFrom(docs), "append")
  }

  // -------------------------------------------------------- stream_chunk_ann

  /** The LIVE RAG ingestion path: arriving documents are chunked AND
    * embedded row-locally ([[graft.operators.TextOps.chunkDenseRowLocal]]
    * — the stream_chunk zero-state shape carried one stage further, to
    * the dense vectors), accumulating the chunk-vector index in APPEND
    * mode with no streaming state at all; retrieval then serves from the
    * drained index through the SAME trained-quantizer probe plan the
    * batch `chunk_ann` runs ([[graft.operators.TextOps.chunkAnnFrom]]).
    * This is how a continuous retrieval indexer actually splits: embed on
    * ingest (map-only, scales with arrival rate), probe on read (scales
    * with nprobe/|cells| of the accumulated index). Oracle =
    * `chunk_ann`'s SQL verbatim (the drained index equals the batch
    * dense frame row-for-row).
    */
  def chunkAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    TextOps.chunkAnnFrom(spark, dir,
      CarbonStream.replay(TextOps.chunkDenseRowLocal(docs), "append"),
      TextOps.chunkCentsFor(spark, dir, "trained", TextOps.ChunkCentMod),
      TextOps.ChunkNProbe)
  }

  // ------------------------------------------------------------- stream_mix

  /** The LIVE form of `mix_rebalance`: the per-lang count frame is the
    * ONLY corpus-derived input to the mixing rates, and it is exactly what
    * a stream can maintain — one complete-mode `groupBy(lang)` count,
    * state = |langs| rows (CONFIG-sized, like `stream_heavy_hitters`'
    * counter frame). Everything downstream of the counts — rate
    * derivation, threshold verdict, achieved-share audit — is the SAME
    * [[graft.operators.TextOps.mixFromCounts]] the batch op calls, probing
    * the static corpus (the `stream_decontaminate` readoff pattern: a
    * production deployment keeps the rate frame live and applies it to
    * each arriving doc map-side). Oracle = `mix_rebalance`'s SQL verbatim.
    */
  def mixQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    graft.operators.TextOps.mixFromCounts(spark,
      CarbonStream.replay(
        docs.groupBy("lang").agg(count(lit(1)).as("n_docs")), "complete"),
      graft.model.Tables.documents(spark, dir))
  }

  // -------------------------------------------------------- stream_surprisal

  /** The LIVE form of `token_surprisal`: the unigram LM behind the score
    * is just the corpus term-frequency frame, and THAT is what a stream
    * maintains — one complete-mode `groupBy(tok)` count (state =
    * |vocabulary| rows, the `stream_index` catalog-state argument; the
    * model's total N falls out of the frame itself as Σtf). The scoring
    * readoff probes the static corpus with the drained model via the SAME
    * [[graft.operators.TextOps.surprisalFromTf]] the batch op calls —
    * exactly how a production deployment scores arriving docs against a
    * continuously-updated corpus LM. Oracle = `token_surprisal`'s SQL
    * verbatim.
    */
  def surprisalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val tf = CarbonStream.replay(docs
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf")), "complete")
    graft.operators.TextOps.surprisalFromTf(
      graft.model.Tables.documents(spark, dir), tf)
  }

  // -------------------------------------------------------------- stream_pack

  case class PackDoc(doc_id: Long, n_tok: Long, shard: Long)
  case class PackState(last: Long, running: Long)
  case class PackOut(doc_id: Long, n_tok: Long, shard: Long,
      shard_bin: Long, bin_offset: Long)

  /** The per-shard packing state machine: state = ONE (high-water doc_id,
    * running token total) pair per shard — two longs, independent of
    * stream length (the `stream_sessionize` contract) — and every arriving
    * document immediately gets its (bin, offset) assignment from the SAME
    * running-fill rule `pack_sequences` applies in batch. Sequential
    * packing is order-DEFINED (a doc's bin is a function of every earlier
    * doc in its shard), so in-order ingest per shard is an enforced
    * contract: a doc_id at or below the shard's high-water mark fails the
    * query loudly (the `stream_funnel`/`stream_holt` guard) instead of
    * silently double-assigning bin space.
    */
  def packMachine(docs: org.apache.spark.sql.Dataset[PackDoc])
      : org.apache.spark.sql.Dataset[PackOut] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.TextOps.PackBudget
    implicit val ps = Encoders.product[PackState]
    implicit val po = Encoders.product[PackOut]
    implicit val ks = Encoders.scalaLong
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Long, batch: Iterator[PackDoc], state: GroupState[PackState]) => {
          var st = state.getOption.getOrElse(PackState(-1L, 0L))
          val sorted = batch.toSeq.sortBy(_.doc_id)
          for (first <- sorted.headOption)
            if (st.last >= 0 && first.doc_id <= st.last)
              throw new IllegalStateException(
                s"stream_pack: out-of-order ingest for shard $shard " +
                  s"(doc ${first.doc_id} <= high-water ${st.last}) — " +
                  "sequential packing requires in-order delivery; reorder upstream")
          val out = sorted.map { d =>
            val start = st.running
            st = PackState(d.doc_id, st.running + d.n_tok)
            PackOut(d.doc_id, d.n_tok, shard,
              start / PackBudget, start - (start / PackBudget) * PackBudget)
          }
          state.update(st)
          out.iterator
        })
  }

  /** The LIVE form of `pack_sequences` — the pre-training batch packer
    * running on the ingest path: a trainer's data loader consumes bins as
    * documents arrive instead of re-packing the corpus nightly. The
    * document fixture replays as three doc_id-tertile slices
    * ([[CarbonStream.replaySlices]]) so a shard's running fill genuinely
    * carries across micro-batch boundaries (a 128-doc shard straddles a
    * tertile cut at every SF).
    * Under in-order ingest the emitted assignments equal the batch
    * cumsum's row-for-row; oracle = `pack_sequences`' SQL verbatim.
    */
  def packQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import graft.operators.TextOps.PackShardSize
    implicit val pe = Encoders.product[PackDoc]
    val docs = graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr(s"doc_id div $PackShardSize").as("shard"))
      .persist()
    try CarbonStream.replaySlices(CarbonStream.thirds(docs, col("doc_id"))) { s =>
      CarbonStream.replay(packMachine(s.as[PackDoc]).toDF(), "append")
    } finally docs.unpersist(blocking = true)
  }

  // ------------------------------------------------------------ stream_phash

  /** The LIVE form of `multimodal_phash`: the banded signature table IS
    * the state a streaming media-dedup index maintains (the `stream_ann`
    * inverted-list argument — a production ingest keeps the banded frame
    * live and probes each arriving blob's 4 band signatures against it
    * map-side). The lane/plant/band projection is pure row-local algebra
    * ([[graft.operators.Multimodal.bandedFrom]], reused unchanged), the
    * state is ONE complete-mode groupBy over the banded rows (4 rows per
    * blob — the index, not the blobs), and the pair readoff is the SAME
    * [[graft.operators.Multimodal.pairsFromBanded]] the batch op calls,
    * over the rebased drained frame (the memory-sink self-join gotcha).
    * Oracle = `multimodal_phash`'s SQL verbatim.
    */
  def phashQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val banded = Multimodal.bandedFrom(Multimodal.featuresFrom(
      Multimodal.blobsFrom(docs)))
    val drained = CarbonStream.replay(banded
        .groupBy("doc_id", "media_kind", "phash", "band", "sig")
        .agg(count(lit(1)).as("n")), "complete")
      .select("doc_id", "media_kind", "phash", "band", "sig")
    // pairsFromBanded SELF-joins the frame: rebase off the memory-sink
    // View first (Catalyst's conflicting-references gotcha, stream_cohort)
    Multimodal.pairsFromBanded(
      spark.createDataFrame(drained.rdd, drained.schema))
  }

  /** The LIVE form of `bpe_encode` — tokenize-on-ingest: a training
    * pipeline tokenizes documents AS they arrive (the data loader's
    * tokenizer pass moved to the ingest boundary), with the merge table
    * trained OFFLINE and shipped as static config (exactly how a real
    * tokenizer deploys — the `stream_ann` quantizer contract applied to
    * BPE). Each micro-batch is tokenized with the SAME composed
    * replace-chain `bpe_encode` applies — evaluated once per DISTINCT
    * word in the batch (the vocabulary-sized memoization, batch-local)
    * and broadcast back onto the batch's words — and the per-doc token
    * counts are APPENDED to shared storage (foreachBatch, the
    * `stream_ann_stored` zero-state pattern: the tokenized corpus lives
    * on disk, streaming state is ZERO). A document is whole within its
    * micro-batch (3 doc_id-tertile slices, [[CarbonStream.replaySlices]]),
    * so per-batch
    * per-doc aggregation is exact; batches are doc-disjoint, so the
    * accumulated store equals the batch encode row-for-row and the
    * oracle is `bpe_encode`'s SQL verbatim.
    */
  def bpeQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val chain = Bpe.applyChainSql(Bpe.trainedMerges(spark, dir))
    val out = graft.model.Spill.path(spark, "stream_bpe_tokens", dir)
    val outRoot = new org.apache.hadoop.fs.Path(out)
    outRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(outRoot, true) // fresh run
    val docs = graft.model.Tables.documents(spark, dir).persist()
    try CarbonStream.replaySlices(CarbonStream.thirds(docs, col("doc_id"))) { s =>
      CarbonStream.runToEnd(s) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          val words = batch.select(col("doc_id"), explode(
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
          val wtok = words.select("word").distinct()
            .withColumn("n_sym",
              expr(s"cast(size(split(trim($chain), '  ')) as bigint)"))
          val tokens = words.join(broadcast(wtok), "word")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"))
            .select(col("doc_id"), col("n_words"), col("n_tokens"),
              round(col("n_tokens") / col("n_words"), 6).as("tokens_per_word"))
          graft.sources.ParquetFiles.append(tokens, out, Nil, Long.MaxValue)
        }.outputMode("append").start()
      }
    } finally docs.unpersist(blocking = true)
    spark.read.parquet(out)
  }

  def ops: Seq[Op] = Seq(
    Op("stream_bpe", bpeQuery, Some(graft.operators.Bpe.encodeSql)),
    Op("stream_phash", phashQuery,
      Some(graft.operators.Multimodal.phashPairsSql)),
    Op("stream_pack", packQuery,
      Some(graft.operators.TextOps.packSequencesSql)),
    Op("stream_surprisal", surprisalQuery,
      Some(graft.operators.TextOps.tokenSurprisalSql)),
    Op("stream_mix", mixQuery,
      Some(graft.operators.TextOps.mixRebalanceSql)),
    Op("stream_chunk_ann", chunkAnnQuery,
      Some(graft.operators.TextOps.chunkAnnSql)),
    Op("stream_chunk", chunkQuery,
      Some(graft.operators.TextOps.chunkDocumentsSql)),
    Op("stream_dedup_exact", dedupQuery, Some(dedupSql)),
    Op("stream_dedup_watermark", dedupWatermarkQuery, Some(dedupWatermarkSql)),
    Op("stream_decontaminate", decontaminateQuery,
      Some(graft.operators.Dedup.decontaminateBloomSql(
        graft.operators.Dedup.BloomSliceBits)))
  )
}
