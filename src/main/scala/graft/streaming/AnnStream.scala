package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Op
import graft.operators.Similarity

/** The LIVE form of `ann_ivf` — continuous index maintenance for a
  * retrieval corpus: embedding vectors arrive as a stream and each is
  * routed to its IVF cell AS it arrives, so the inverted-list membership
  * (the index itself) is maintained as streaming state instead of rebuilt
  * in a nightly batch. This is the ingestion half every vector store runs
  * continuously (new documents are embedded and indexed on arrival; the
  * quantizer retrains offline and redeploys — here it is the static
  * deterministic seed quantizer, broadcast to every micro-batch).
  *
  * The work splits exactly like `stream_decontaminate`: the per-vector
  * fixed-point projection ([[Similarity.fixedVecsFrom]], reused unchanged)
  * is row-local; the cell routing is a stream-static broadcast join
  * against the k-row centroid frame; and the streaming aggregation is
  * `assignNearest`'s OWN `groupBy(vec_id).max_by` — order-immune partials
  * that converge to the argmax under any micro-batch split, complete mode.
  * State = one (vec_id, cell) row per corpus vector: the inverted-list
  * membership IS the index, so the state bound is the index size — the
  * same bound the batch index occupies on disk.
  *
  * Readoff on the drained membership frame reuses the batch query path
  * verbatim ([[Similarity.ivfProbeLists]] + [[Similarity.ivfCandsFromAssigned]]
  * + [[Similarity.topKFromCands]]); oracle = `ann_ivf`'s SQL verbatim
  * (a finite stream's converged index == the batch index).
  */
object AnnStream {

  /** Stream schema DERIVED from the on-disk batch table at runtime — the
    * `Tables.normalizeTs`/`eventsStream` convention: a hand-rolled
    * `ArrayType(FloatType)` here would break silently if a fixture
    * regeneration ships DOUBLE[] embeddings (exactly how events.ts bit r9),
    * while the batch path adapted. One footer read per query start.
    */
  private def embeddingsSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(s"$dir/embeddings.parquet").schema

  def annQuery(spark: SparkSession, dir: String): DataFrame = {
    val batchVecs = Similarity.fixedVecs(spark, dir)
    val cents = Similarity.seedCents(batchVecs)
    val stream = spark.readStream
      .schema(embeddingsSchema(spark, dir))
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    val assigned = CarbonStream.replay(
      Similarity.assignNearest(Similarity.fixedVecsFrom(stream), cents), "complete")
    Similarity.topKFromCands(Similarity.ivfCandsFromAssigned(assigned,
      Similarity.ivfProbeLists(batchVecs, cents, Similarity.NProbe)))
  }

  /** The LIVE form of `dedup_semantic` — SemDeDup on an arriving vector
    * stream: the cell-membership state is EXACTLY [[annQuery]]'s (the
    * same complete-mode `assignNearest` aggregation, one row per corpus
    * vector), and the keep/drop verdict is the SAME
    * [[Similarity.semanticFromAssigned]] the batch op calls, over the
    * drained membership — how a continuous curation pipeline decides, as
    * vectors arrive, whether each is a semantic near-dup of an
    * already-indexed cell-mate. The readoff SELF-joins the membership, so
    * the drained View is rebased first (the stream_cohort gotcha).
    * Oracle = `dedup_semantic`'s SQL verbatim.
    */
  def semanticQuery(spark: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.seedCents(Similarity.fixedVecs(spark, dir))
    val stream = spark.readStream
      .schema(embeddingsSchema(spark, dir))
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    val drained = CarbonStream.replay(
      Similarity.assignNearest(Similarity.fixedVecsFrom(stream), cents), "complete")
    Similarity.semanticFromAssigned(
      spark.createDataFrame(drained.rdd, drained.schema),
      Similarity.DupThreshold)
  }

  /** The PERSISTED form of [[annQuery]] — the full production ANN ingest
    * loop live: `stream_ann` holds the inverted-list membership as
    * complete-mode streaming state (the whole index in the sink — fine
    * for a demo, RAM-bounded at 100 TB), while here each micro-batch's
    * vectors are assigned (stream-static broadcast against the TRAINED
    * quantizer) and appended to the c_id-partitioned index store as one
    * flush slice ([[graft.sources.VecIndexStore]] — the metricmanager
    * flush loop on vectors), so the STREAMING STATE IS ZERO: the index
    * lives on shared storage, exactly where a vector store keeps it.
    * After the drain, maintenance folds the accumulated slices
    * (selective compaction behind the ingest frontier) and the readoff
    * is the partition-pruned routed probe — `ann_ivf_stored`'s serve
    * path over a streamed-in index. The corpus replays as three
    * `vec_id mod 3` slices ([[CarbonStream.replaySlices]]) = three flush
    * cycles; slices are row-disjoint and the probe algebra is
    * append-order-immune, so the converged index equals the batch build
    * bit-for-bit and the oracle is `ann_ivf_trained`'s SQL verbatim.
    */
  def annStoredQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sources.VecIndexStore
    val batchVecs = Similarity.fixedVecs(spark, dir)
    val cents = Similarity.centsFor(spark, dir, "trained", Similarity.CentroidMod)
    val idx = graft.model.Spill.path(spark, "ivf_lists_stream", dir)
    val fsRoot = new org.apache.hadoop.fs.Path(idx)
    fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fsRoot, true) // fresh lifecycle per run
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    CarbonStream.replaySlices(
        (0 until 3).map(i => raw.filter(pmod(col("vec_id"), lit(3)) === i))) { stream =>
      CarbonStream.runToEnd(Similarity.fixedVecsFrom(stream)) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          VecIndexStore.append(
            Similarity.assignNearestLocal(batch, cents)
              .select("vec_id", "v", "nrm", "c_id"), idx)
        }.outputMode("append").start()
      }
    }
    VecIndexStore.compact(spark, idx)
    val probeLists = Similarity.ivfProbeLists(batchVecs, cents, Similarity.NProbe)
    val routed = probeLists.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = VecIndexStore.read(spark, idx)
      .filter(col("c_id").isin(routed: _*))
    Similarity.topKFromCands(Similarity.ivfCandsFromAssigned(lists, probeLists))
  }

  def ops: Seq[Op] = Seq(
    Op("stream_ann", annQuery, Some(Similarity.ivfSql)),
    Op("stream_ann_stored", annStoredQuery, Some(Similarity.ivfTrainedSql)),
    Op("stream_semantic", semanticQuery, Some(Similarity.semanticDedupSql)))
}
