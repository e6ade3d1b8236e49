package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, timestamp_seconds, to_date}

import graft.sources.RollupStore

/** The store append as it was written through Spark's file-source commit
  * protocol (`FileOutputCommitter`: `_temporary`, task and job commit,
  * `_SUCCESS`), kept as the reference the published-by-rename append is
  * compared against. Same recovery, same clustering, same file cap.
  */
object CommitterReference {

  def appendClustered(rows: DataFrame, path: String, partitionCols: Seq[String],
      maxRowsPerFile: Long): Unit = {
    RollupStore.recoverIfNeeded(rows.sparkSession, path, partitionCols.size)
    rows.repartition(partitionCols.map(col): _*)
      .write
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("append")
      .parquet(path)
  }

  def appendStateSlice(state: DataFrame, path: String,
      maxRowsPerFile: Long = RollupStore.DefaultMaxRowsPerFile): Unit =
    appendClustered(
      state.withColumn("stat_date", to_date(timestamp_seconds(col("stat_time")))),
      path, Seq("tbl", "stat_date"), maxRowsPerFile)
}
