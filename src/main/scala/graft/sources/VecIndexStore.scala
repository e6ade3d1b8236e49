package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED IVF inverted-list index under live maintenance — the
  * `ann_ivf_stored` physical layout (one `c_id=N` directory per inverted
  * list, probe reads partition-pruned to the routed cells) married to the
  * rollup store's append/compact machinery: the production ANN loop is
  * build-once/append-many (the reference's metricmanager flush loop,
  * datastore/metricmanager.go:120-180, applied to vectors — every flush
  * cycle lands a slice of newly-embedded vectors, maintenance folds the
  * accumulated slices behind the ingest frontier, probes keep serving
  * throughout).
  *
  * Appends and maintenance are [[RollupStore]]'s own, at one partition
  * level (`c_id=*` instead of `tbl=… / stat_date=…`). Index rows are plain
  * vectors (no merge algebra), so compaction is pure file-count folding: a
  * multi-slice cell's rows rewritten as one file. What it buys is the
  * probe's file-open count (nprobe cells × 1 file instead of × |flush
  * cycles|).
  */
object VecIndexStore {

  private val Partitions = Seq("c_id")

  /** Rows `(vec_id, v, nrm, c_id)` appended as one flush slice, clustered
    * one file per touched cell directory ([[RollupStore.appendClustered]]).
    */
  def append(lists: DataFrame, path: String,
      maxRowsPerFile: Long = RollupStore.DefaultMaxRowsPerFile): Unit =
    RollupStore.appendClustered(lists.select("vec_id", "v", "nrm", "c_id"), path,
      Partitions, maxRowsPerFile)

  /** The inverted lists, partition column restored to BIGINT (parquet
    * partition discovery infers `c_id=N` as INT where it fits).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    RollupStore.recoverIfNeeded(spark, path, Partitions.size)
    spark.read.parquet(path)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("c_id").cast("long").as("c_id"))
  }

  /** Selective fold: only cells holding >1 slice file are rewritten, by
    * the same [[RollupStore.rewrite]] pass as [[RollupStore.compact]].
    */
  def compact(spark: SparkSession, path: String): Unit =
    compact(spark, path, RollupStore.CompactLeaseMs)

  private[graft] def compact(spark: SparkSession, path: String,
      leaseMs: Long): Unit =
    RollupStore.rewrite(spark, path, Partitions, leaseMs)(RollupStore.multiFileDirs)(identity)
}
