package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.SessionClone
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.model.Tables
import graft.sources.LocalFiles

/** Structured-Streaming ingest: the Spark-native replacement for cassabon's
  * accumulate/flush goroutine loop (reference listener package feeding
  * datastore/metricmanager.go:run via channels).
  *
  * Any line-shaped source (socket, file, Kafka) streams in, parses to
  * (path, value, ts), and a windowed aggregation maintains the open rollup
  * windows; the window close boundary becomes `stat_time`, exactly the
  * batch semantics. [[rollupQuery]] runs the real streaming engine over the
  * events fixture via the file source and lands in a memory sink — so the
  * driver's DuckDB oracle (identical to the batch 60 s average rollup)
  * verifies the STREAMING path end-to-end. Watermarked update-mode flushing
  * is exercised in the ScalaTest spec via MemoryStream.
  */
object CarbonStream {

  /** Resolve a drained memory-sink table and DROP its temp view: Dataset
    * analysis is eager, so the returned frame stays bound to the sink's
    * rows, while the catalog entry (and with it the only long-lived
    * reference keeping every emitted row on the driver once the caller
    * drops the frame) goes away — repeated verify/bench runs would
    * otherwise accumulate one UUID-named view + row copy per invocation.
    */
  def drainMemorySink(spark: SparkSession, sink: String): DataFrame = {
    val out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    out
  }

  /** Stateful streaming queries get one state-store instance PER shuffle
    * partition, and every micro-batch commits a file per instance, so the
    * count is a per-commit IO cost, not just parallelism (and streaming
    * disables AQE, so nothing coalesces it). A replay plans at its
    * session's width up to this cap, which these key cardinalities (~10k)
    * need: at sf0.1 on a 4-core host the `stream_*` keys ran faster at a
    * 4-wide session's own width than at 8, and much slower at a 32-wide
    * session's own width than at 8.
    */
  val StreamShufflePartitions = 8

  /** Each session wider than [[StreamShufflePartitions]] with its replay
    * session and the snapshot of its conf and listeners that was cloned.
    */
  private val replaySessions = new java.util.WeakHashMap[SparkSession, (AnyRef, SparkSession)]()

  /** The session a finite replay of a frame of `spark` starts on. A
    * streaming query binds its state-partition count to its session's
    * `spark.sql.shuffle.partitions` when it starts, so a session at most
    * [[StreamShufflePartitions]] wide serves as it is. A wider one gets a
    * clone built at that width ([[SessionClone.of]]: its conf, functions,
    * views and execution listeners) with its streaming listeners added,
    * so they see the replay's progress; the clone is rebuilt only when
    * that conf or those listeners change (a session that starts a query
    * registers a streaming listener bus on the SparkContext for good, so
    * a clone per replay would pile them up). `spark`'s own conf is never
    * written, so a query planned on it concurrently keeps its width.
    */
  private def replaySession(spark: SparkSession): SparkSession =
    if (spark.conf.get("spark.sql.shuffle.partitions").toInt <= StreamShufflePartitions) spark
    else replaySessions.synchronized {
      val streamListeners = spark.streams.listListeners().toSeq
      val snapshot = (spark.conf.getAll, SessionClone.executionListeners(spark), streamListeners)
      Option(replaySessions.get(spark)).collect { case (`snapshot`, s) => s }.getOrElse {
        val s = SessionClone.of(spark)
        s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
        streamListeners.foreach(s.streams.addListener)
        replaySessions.put(spark, (snapshot, s))
        s
      }
    }

  /** The one lifecycle of a FINITE replay: `start` starts the query from
    * `df`'s writer on its replay session ([[replaySession]]), the query
    * runs to the end of the available input, and it stops whether or not
    * that succeeded; the stopped query is returned. The writer carries a
    * fresh checkpoint on [[graft.sources.LocalFiles]], deleted once the
    * query has stopped. RocksDB state is Spark's own
    * `spark.sql.streaming.stateStore.providerClass`, set where the session
    * is built. The live daemon queries ([[startRollupFlush]]) own their
    * lifetime instead.
    */
  def runToEnd(df: DataFrame)(start: DataStreamWriter[Row] => StreamingQuery): StreamingQuery =
    LocalFiles.withCheckpoint { chk =>
      val q = start(SessionClone.bind(df, replaySession(df.sparkSession)).writeStream
        .option("checkpointLocation", chk))
      try q.processAllAvailable() finally q.stop()
      q
    }

  /** Replay `df` to the end of its input into a fresh memory sink in
    * output `mode` (`complete` or `append`) and return the drained rows
    * as a frame of `df`'s session ([[drainMemorySink]]: the sink's temp
    * view is already gone).
    */
  def replay(df: DataFrame, mode: String): DataFrame = {
    val sink = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = runToEnd(df)(_.format("memory").queryName(sink).outputMode(mode).start())
    SessionClone.bind(drainMemorySink(q.sparkSession, sink), df.sparkSession)
  }

  /** Replay `slices` as a finite stream of one micro-batch per slice, in
    * slice order, so state crosses batch boundaries: the slices are staged
    * as one file each in a fresh temp dir ([[graft.sources.ParquetFiles.stage]],
    * one Spark job), given ascending mtimes in slice order (the file
    * source reads the oldest unread file first), and `run` gets the file
    * stream over them, one file per trigger, in the first slice's schema.
    * `run` drains it ([[replay]] or [[runToEnd]]); the dir is deleted
    * when `run` returns. The dir holds a replay fixture for one process,
    * not operator state (state that must outlive it goes through
    * [[graft.model.Spill]]).
    */
  def replaySlices[A](slices: Seq[DataFrame])(run: DataFrame => A): A = {
    val src = java.nio.file.Files.createTempDirectory("graft_replay")
    try {
      val names = slices.indices.map(i => f"slice$i%03d.parquet")
      graft.sources.ParquetFiles.stage(slices, src.toString, names)
      val t0 = System.currentTimeMillis() - 1000L * slices.size
      names.zipWithIndex.foreach { case (n, i) =>
        java.nio.file.Files.setLastModifiedTime(src.resolve(n),
          java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * i))
      }
      run(slices.head.sparkSession.readStream.schema(slices.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(src.toFile)
  }

  /** `df` cut on `key` at ascending `cuts`: `key <= cuts(0)`, then
    * `cuts(i-1) < key <= cuts(i)`, then `key > cuts.last`.
    */
  private[streaming] def cutAt(df: DataFrame, key: Column, cuts: Seq[Long]): Seq[DataFrame] =
    (Long.MinValue +: cuts :+ Long.MaxValue).sliding(2).toSeq
      .map { case Seq(a, b) => df.filter(key > a && key <= b) }

  /** `df` cut into thirds of `key`'s `[min, max]` range ([[cutAt]]). */
  private[streaming] def thirds(df: DataFrame, key: Column): Seq[DataFrame] = {
    val r = df.agg(min(key), max(key)).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    cutAt(df, key, Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3))
  }

  /** The canonical events schema with `ts` ALREADY in the epoch-nanos
    * bigint contract — what a TIMESTAMP(NANOS) file reads as under
    * nanosAsLong, and what [[graft.sources.RollupStore]]-style staged
    * slices written from normalized frames carry on disk. Used when
    * schema inference has no files to look at (below).
    */
  private val eventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val streamSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

  /** File-source events stream with `ts` normalized to an epoch-nanosecond
    * bigint — the [[Tables.events]] contract. The file stream source needs
    * an explicit schema, and the on-disk flavor varies by fixture
    * generation (TIMESTAMP(NANOS)-as-long vs TIMESTAMP(MICROS) — see
    * [[Tables.normalizeTs]]), so infer it from a batch footer read with the
    * same glob rather than hardcoding either flavor. The inference is
    * cached per (dir, glob) — fixtures don't change flavor mid-session —
    * and an EMPTY source (the continuous-ingest pattern: start the stream,
    * slices land later) falls back to [[eventsNanosSchema]] instead of
    * failing at stream construction, since files staged later by this
    * engine carry normalized nanos columns.
    *
    * Like [[Tables.events]], sets the session-wide nanosAsLong conf and
    * leaves it set — the streaming parquet reader consults it on every
    * micro-batch, so restoring it mid-query would corrupt a NANOS read.
    */
  def eventsStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // only SUCCESSFUL inference is cached: an empty-dir fallback must be
    // re-tried next call, so a raw fixture landing later is re-inferred
    // with its true flavor instead of silently read through the fallback
    val onDisk = Option(streamSchemaCache.get((dir, glob))).getOrElse {
      try {
        val s = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
        streamSchemaCache.put((dir, glob), s)
        s
      } catch { case _: org.apache.spark.sql.AnalysisException => eventsNanosSchema }
    }
    val rd = spark.readStream.schema(onDisk).option("pathGlobFilter", glob)
    val withTrigger = maxFilesPerTrigger.fold(rd)(n =>
      rd.option("maxFilesPerTrigger", n.toString))
    Tables.normalizeTs(withTrigger.parquet(dir))
  }

  /** Parse raw carbon plaintext lines (`path value ts`, the TCP/UDP
    * listener wire format — reference listener/carbon_plaintext.go:60-200)
    * from ANY line-shaped source into the `(path, value, ts)` metric
    * stream the rollup forms consume. `lineCol` defaults to `value`, the
    * socket source's column; Kafka callers pass the cast payload column.
    * Invalid lines are DROPPED here (the live listener discards them and
    * bumps a counter — the batch `carbon_parse` operator is where they
    * stay observable); the split/try_cast validation IS the batch one —
    * both project from `Carbon.withParsedLine`, so they cannot drift.
    */
  def parseCarbonLines(lines: DataFrame, lineCol: String = "value"): DataFrame =
    graft.operators.Carbon.withParsedLine(lines, lineCol)
      .filter(col("valid"))
      .select(expr("try_element_at(p, 1)").as("path"),
        col("v").as("value"), col("t").as("ts"))

  /** events stream -> carbon metric stream (same mapping as Tables.metrics).
    * `keepId` additionally carries `event_id` for consumers that need the
    * LAST-rollup tiebreak key (`stream_series_fill`'s flush aggregation).
    */
  def toMetrics(events: DataFrame, keepId: Boolean = false): DataFrame = {
    val base = Seq(
      concat(lit("servers."), col("event_type"), lit(".u"),
        (col("user_id") % 8).cast("string")).as("path"),
      col("value"),
      expr("ts DIV 1000000000").as("ts"))
    events.select((if (keepId) base :+ col("event_id") else base): _*)
  }

  /** 60 s average rollup over a metric stream: the streaming accumulate.
    * `update`/`append` callers add a watermark; complete-mode callers don't.
    */
  def windowedRollup(metrics: DataFrame, watermark: Option[String] = None): DataFrame = {
    // averages in exact integer cents (values are 2-decimal), one division:
    // deterministic across engines/partitionings — same policy as the batch
    // rollups (see operators/Rollups.scala)
    val t = metrics
      .withColumn("tts", timestamp_seconds(col("ts")))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    watermark.fold(t)(w => t.withWatermark("tts", w))
      .groupBy(col("path"), window(col("tts"), "60 seconds").as("w"))
      .agg(sum("cents").as("cs"), count(lit(1)).as("n"))
      .select(col("path"),
        unix_timestamp(col("w.end")).as("stat_time"),
        (col("cs") / (lit(100.0) * col("n"))).as("stat"))
  }

  /** Run the streaming rollup over the events fixture (file source, memory
    * sink, complete mode), block until drained, return the result table.
    */
  def rollupQuery(spark: SparkSession, dir: String): DataFrame =
    replay(windowedRollup(toMetrics(eventsStream(spark, dir))), "complete")

  /** The streaming quantile sketch: the bin-count histogram IS the
    * streaming-maintainable state (integer counts, order-immune partials
    * — exactly why `value_quantiles_sketch` chose it over exact
    * `percentile`, whose buffer a stream can't bound). One complete-mode
    * groupBy(event_type, bin) runs live; the quantile readoff happens on
    * the drained bin frame via the SAME [[graft.operators.Carbon
    * .quantilesFromBins]] the batch op uses. Oracle = the batch sketch
    * SQL verbatim: a finite stream must land on identical estimates.
    */
  def quantilesQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Carbon
    val bins = eventsStream(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") / Carbon.QuantileBinW).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    Carbon.quantilesFromBins(replay(bins, "complete"))
  }

  /** The streaming cardinality sketch: the 64 HLL registers per event type
    * ARE the streaming-maintainable state — `max(rank)` partials are
    * order-immune and merge across micro-batches exactly like flush
    * slices, where exact `count(DISTINCT)`'s key-universe state a stream
    * cannot bound. One complete-mode groupBy(event_type, r) runs live; the
    * estimate readoff happens on the drained register frame via the SAME
    * [[graft.operators.OpsStats.hllFinalize]] the batch op uses (the
    * exact-count side is the batch-computed measurement harness, like
    * `ann_recall`'s brute-force truth — the stream maintains only the
    * sketch). Oracle = the batch sketch SQL verbatim: a finite stream
    * must land on identical registers, hence identical estimates.
    */
  def cardinalityQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.OpsStats
    val registers = replay(OpsStats.hllRegisterRows(eventsStream(spark, dir))
      .groupBy(col("event_type"), col("r"))
      .agg(max("rank").as("m")), "complete")
    val exact = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    OpsStats.hllFinalize(registers, exact)
  }

  /** The live path index: the reference's index manager consumes the path
    * channel CONTINUOUSLY (datastore/indexmanager.go:120-160 — every
    * stored metric's path is PUT to the index as it arrives), and this is
    * that loop as a streaming aggregation. The prefix explode is map-only
    * per micro-batch (each batch explodes only its NEW paths), and the
    * node state merges by `max(depth)`/`max(leaf)` — order-immune, so a
    * node first seen as a prefix and later as a full path converges to
    * leaf=true regardless of arrival order. State is |index nodes|, the
    * same bound the reference's index carries. Complete-mode memory sink
    * for the harness; a deployment would use the update-mode changelog.
    * Oracle = `index_build`'s SQL verbatim (finite stream == batch build).
    */
  def indexQuery(spark: SparkSession, dir: String): DataFrame = {
    val paths = toMetrics(eventsStream(spark, dir)).select("path")
    replay(graft.operators.Index.indexFrom(paths), "complete")
  }

  /** The live top-volume paths: per-path integer counters are the
    * streaming-maintainable state (sum-merge across micro-batches, state
    * bounded by the path catalog — the reference accumulator's own
    * bound), where a global sort cannot run continuously. One
    * complete-mode groupBy(path) count runs live; the top-10 rank happens
    * on the drained catalog-sized count frame via the SAME
    * [[graft.operators.Carbon.topFromCounts]] the batch op uses. Oracle =
    * `top_paths`' SQL verbatim.
    */
  def topPathsQuery(spark: SparkSession, dir: String): DataFrame = {
    val counts = toMetrics(eventsStream(spark, dir))
      .groupBy("path").agg(count(lit(1)).as("points"))
    graft.operators.Carbon.topFromCounts(replay(counts, "complete"))
  }

  /** The live heavy hitters — the ONLY aggregation in this engine whose
    * streaming state is CONSTANT in the key cardinality: each arriving
    * point increments its `CmsDepth` count-min bucket counters, so the
    * state is the depth × 2^bits counter frame itself (integer, sum-merge
    * across micro-batches like flush slices), where `stream_top_paths`'
    * per-key counters grow with the catalog. The readoff probes the
    * drained counter frame with the batch-computed path catalog via the
    * SAME [[graft.operators.Carbon.cmsTopFrom]] the batch op uses (the
    * exact side is the measurement harness — the `stream_cardinality`
    * pattern). Oracle = `heavy_hitters_sketch`'s SQL verbatim.
    */
  def heavyHittersQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Carbon
    val bits = Carbon.CmsBucketBits
    val bs = Carbon.cmsBuckets(bits)
    val metrics = toMetrics(eventsStream(spark, dir))
      .withColumn("h", graft.model.Portable.hash60(col("path")))
      .select(explode(array((0 until Carbon.CmsDepth).map(j =>
        struct(lit(j).as("j"), bs(j).as("bucket"))): _*)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    val counters = replay(
      metrics.groupBy("j", "bucket").agg(count(lit(1)).as("c")), "complete")
    Carbon.cmsTopFrom(counters, Carbon.pathCounts(spark, dir), bits)
  }

  /** The live outlier detector: `series_anomaly`'s per-path moment state
    * `(n, Σcents, Σcents²)` is EXACTLY what a stream can maintain — three
    * order-immune bigint partials per path (state = |paths| rows), where
    * any rank/sort-based outlier rule could not run continuously. One
    * complete-mode groupBy(path) runs live; the z-score verdict readoff
    * happens on the drained moment frame via the SAME
    * [[graft.operators.Series.anomalyFrom]] the batch op uses, probing
    * the batch point set (the `stream_cardinality` readoff pattern).
    * Oracle = `series_anomaly`'s SQL verbatim: a finite stream must land
    * on identical moments, hence identical flags.
    */
  def anomalyQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Series
    val live = Series.centsFrom(toMetrics(eventsStream(spark, dir)))
    val moments = replay(Series.statsFrom(live), "complete")
    Series.anomalyFrom(Series.centsFrom(Tables.metrics(spark, dir)), moments)
  }

  /** Oracle: identical to the batch 60 s average rollup — finite stream in
    * complete mode must equal the batch aggregation.
    */
  private val rollupSql: String =
    s"""WITH ${Tables.metricsSql},
       |c AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM metrics)
       |SELECT path, ts - ts % 60 + 60 AS stat_time,
       |       CAST(sum(cents) AS BIGINT) / (100.0 * count(*)) AS stat
       |FROM c GROUP BY 1, 2""".stripMargin

  /** The SCALE form of the streaming rollup: watermark + APPEND mode into a
    * parquet file sink. Complete mode re-emits the entire result every
    * trigger and a memory sink accumulates it on the driver — fine for a
    * verification harness, unusable at 100 TB. Append emits each window
    * ONCE, when the watermark passes its end, and the file sink scales with
    * executors; state is evicted as windows close, so steady-state memory
    * is bounded by the open-window count.
    *
    * Determinism: the watermark is EVENT-time (max seen tts minus the 0 s
    * delay), so which windows flush is a pure function of the data — every
    * window except those still open past the final watermark, i.e.
    * `stat_time <= max(ts)` with stat_time = window end. That predicate is
    * the oracle's WHERE clause; the never-emitted tail windows are exactly
    * cassabon's still-accumulating buckets at shutdown without the
    * terminating flush (metricstore.go:108-116 writes them only because
    * `terminating` forces statTime=now).
    */
  def rollupAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = eventsStream(spark, dir)
    // Harness-local BY DESIGN: this temp dir is the verification replay's
    // file-sink target for a single-process run, not operator state — a
    // real deployment points the file sink + checkpointLocation at shared
    // storage. (Contrast dedup_cluster's label spill, which IS operator
    // state and therefore goes through graft.model.Spill.) The sink's
    // rows are materialized before the dir is deleted; runToEnd supplies
    // the checkpoint. The sink and the read-back both name the dir on
    // LocalFiles: the sink's log records its files under the scheme it
    // was given, and a read through another scheme finds none of them.
    val out = java.nio.file.Files.createTempDirectory("stream_rollup_append")
    val data = LocalFiles.path(s"$out/data").toString
    try {
      runToEnd(windowedRollup(toMetrics(events), watermark = Some("0 seconds"))) {
        _.format("parquet")
          .option("path", data)
          .outputMode("append")
          .start()
      }
      spark.read.parquet(data).localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  private val rollupAppendSql: String =
    s"""WITH ${Tables.metricsSql},
       |c AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM metrics)
       |SELECT path, ts - ts % 60 + 60 AS stat_time,
       |       CAST(sum(cents) AS BIGINT) / (100.0 * count(*)) AS stat
       |FROM c GROUP BY 1, 2
       |HAVING stat_time <= (SELECT max(ts) FROM metrics)""".stripMargin

  /** Start (and return) the LIVE flush query — the daemon's ingest arm:
    * each staged source file becomes one micro-batch, reduced to its
    * mergeable rollup state and appended to the store as one slice. The
    * caller owns the query's lifetime and its `checkpoint` location
    * (`graft.Daemon` runs it CONCURRENTLY with the HTTP server and store
    * maintenance, on a [[graft.sources.LocalFiles.checkpoint]] it deletes
    * when it stops; [[streamRollupsToStore]] is the drain-and-stop batch
    * harness). Safe beside a live `compact`: appends under a young lease
    * skip recovery, and the additive swap cannot touch files it didn't
    * fold.
    */
  def startRollupFlush(spark: SparkSession, srcDir: String, store: String,
      checkpoint: String, glob: String = "*.parquet",
      config: () => Seq[graft.model.RollupDef] =
        () => graft.model.RollupConfig.reference)
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(store, config)(flushMetrics(spark, srcDir, glob).writeStream
      .option("checkpointLocation", checkpoint))

  private def flushMetrics(spark: SparkSession, srcDir: String, glob: String): DataFrame = {
    // one flush cycle per staged file
    val events = eventsStream(spark, srcDir, glob, maxFilesPerTrigger = Some(1))
    // Tables.metrics' mapping plus event_id — the five-method mergeable
    // state needs it for the LAST tiebreak key ([[toMetrics]] serves the
    // average-only windowed forms and deliberately drops it).
    events.select(
      concat(lit("servers."), col("event_type"), lit(".u"),
        (col("user_id") % 8).cast("string")).as("path"),
      col("value"),
      expr("ts DIV 1000000000").as("ts"),
      col("event_id"))
  }

  /** The flush cycle, the unit of ingest: each micro-batch of metric rows
    * `(path, value, ts, event_id)` the writer `w` carries is reduced to its
    * mergeable rollup state ([[flushState]]) and appended to the store as
    * ONE slice. `config()` is read PER FLUSH CYCLE — the daemon's SIGHUP
    * reload swaps it between cycles, never inside one.
    */
  private def appendEachBatch(store: String, config: () => Seq[graft.model.RollupDef])(
      w: DataStreamWriter[Row]): org.apache.spark.sql.streaming.StreamingQuery =
    w.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.RollupStore.appendStateSlice(flushState(batch, config()), store)
      }
      .start()

  /** One flush batch's mergeable state. A batch is one staged file, so
    * the aggregation runs over one partition: it plans no exchange, and
    * the append clusters the state in place, so a cycle is one Spark job.
    */
  private[graft] def flushState(batch: DataFrame,
      config: Seq[graft.model.RollupDef]): DataFrame =
    graft.operators.Rollups.mergeableWith(batch.coalesce(1), config)

  /** The flush query over STAGED METRIC slices — the wire listeners'
    * bridge ([[graft.LineIngest]]): each staged `(path, value, ts,
    * event_id)` parquet file is one flush cycle. Same [[appendEachBatch]]
    * as [[startRollupFlush]]; the events→metrics mapping is absent because
    * the socket already delivers metric rows.
    *
    * `srcDir` holds only staged slices, so the source deletes each slice
    * once its batch has committed (`cleanSource=delete`): the directory
    * it re-lists on every idle poll stays a couple of files long instead
    * of growing by one file per cycle. [[startRollupFlush]] never sets
    * it: its directory may be a fixture. The caller owns `checkpoint`,
    * as there.
    */
  def startMetricRollupFlush(spark: SparkSession, srcDir: String, store: String,
      checkpoint: String, glob: String = "*.parquet",
      config: () => Seq[graft.model.RollupDef] =
        () => graft.model.RollupConfig.reference)
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(store, config)(spark.readStream
      .schema("path STRING, value DOUBLE, ts BIGINT, event_id BIGINT")
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", "1")
      .option("cleanSource", "delete")
      .parquet(srcDir).writeStream
      .option("checkpointLocation", checkpoint))

  /** The full INGEST→STORE loop: cassabon's accumulate/flush cycle
    * (datastore/metricstore.go:85-185 — accumulate deltas per flush
    * interval, flush to the store, re-accumulate on collision) re-expressed
    * without any streaming state at all. Each micro-batch computes its
    * MERGEABLE partial rollup state (graft.operators.Rollups.mergeableFrom
    * — commutative five-method state, all windows, one batch-local
    * aggregation) and APPENDS it to the partitioned store; readers finalize
    * with [[graft.sources.RollupStore.readFinalized]] (associative
    * `mergeAll` + `finalize`). Because the state algebra is associative,
    * the finalized store provably equals the single-pass batch `rollups`
    * REGARDLESS of how ingest was sliced into flush cycles — the spec
    * replays the fixture in 3 micro-batches and asserts bit-equality.
    *
    * Versus the append-mode windowed form ([[rollupAppendQuery]]): no
    * watermark, no state store, no still-open-window tail — a late point
    * lands as one more state row and merges in at read; compaction (rewrite
    * a partition through `mergeAll`) amortizes read cost exactly like the
    * reference's re-accumulation on flush collision. At 100 TB each flush
    * cycle is a map-side-combined aggregation of just that cycle's points,
    * and the store stays partition-pruned on (tbl, stat_date).
    */
  def streamRollupsToStore(spark: SparkSession, srcDir: String, store: String,
      glob: String = "*.parquet"): Unit =
    runToEnd(flushMetrics(spark, srcDir, glob))(
      appendEachBatch(store, () => graft.model.RollupConfig.reference))

  /** The LIVE form of `series_fill`: the dashboard gap-repaired range read
    * served from stream state instead of a batch aggregation. The state is
    * the fetch scenario's (tbl, path) rollup slice maintained by the SAME
    * flush aggregation the batch store writes
    * ([[graft.operators.Rollups.rollupsFrom]], reused unchanged — every
    * aggregate in it is commutative, so complete mode maintains it), with
    * the stream pre-filtered to the fetch path: state = that path's
    * window slots only, not the catalog. Readoff = the SAME grid+gap-fill
    * ([[graft.operators.MetricQuery.fetchFrom]]) and repair window
    * ([[graft.operators.Series.fillLastFrom]]) the batch pair uses.
    * Oracle = `series_fill`'s SQL verbatim.
    */
  def fillQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{MetricQuery, Rollups, Series}
    val live = Rollups.rollupsFrom(
      toMetrics(eventsStream(spark, dir), keepId = true)
        .filter(col("path") === MetricQuery.FetchPath))
      .filter(col("tbl") === MetricQuery.FetchTable)
    Series.fillLastFrom(
      MetricQuery.fetchFrom(spark, dir, replay(live, "complete")))
  }

  /** The live trend fit: `series_linreg`'s per-path moment tuple
    * `(n, Σx, Σy, Σxy, Σx², x_last)` is ONE order-immune aggregate — six
    * numbers per path that sum/max-merge across micro-batches like flush
    * slices (state = |paths| rows, the `stream_anomaly` bound), where any
    * sort- or window-based fit could not run continuously. One
    * complete-mode groupBy(path) runs live; the slope/fit/forecast readoff
    * happens on the drained moment frame via the SAME
    * [[graft.operators.Series.linregFrom]] the batch op uses. Oracle =
    * `series_linreg`'s SQL verbatim: a finite stream must land on
    * identical moments, hence an identical fit.
    */
  def linregQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Series
    val live = Series.centsFrom(toMetrics(eventsStream(spark, dir)))
    Series.linregFrom(replay(Series.linregMomentsFrom(live), "complete"))
  }

  def ops: Seq[Op] = Seq(
    Op("stream_series_fill", fillQuery,
      Some(graft.operators.Series.fillLastSql)),
    Op("stream_rollup", rollupQuery, Some(rollupSql)),
    Op("stream_rollup_append", rollupAppendQuery, Some(rollupAppendSql)),
    Op("stream_quantiles", quantilesQuery,
      Some(graft.operators.Carbon.valueQuantilesSketchSql)),
    Op("stream_cardinality", cardinalityQuery,
      Some(graft.operators.OpsStats.cardinalitySketchSql)),
    Op("stream_index", indexQuery,
      Some(graft.operators.Index.buildSql)),
    Op("stream_top_paths", topPathsQuery,
      Some(graft.operators.Carbon.topPathsSql)),
    Op("stream_heavy_hitters", heavyHittersQuery,
      Some(graft.operators.Carbon.heavyHittersSql(
        graft.operators.Carbon.CmsBucketBits))),
    Op("stream_anomaly", anomalyQuery,
      Some(graft.operators.Series.anomalySql)),
    Op("stream_linreg", linregQuery,
      Some(graft.operators.Series.linregSql))
  )
}
