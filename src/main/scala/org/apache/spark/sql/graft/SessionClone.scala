package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.util.QueryExecutionListener

/** The session operations graft needs that Spark keeps `private[sql]`. */
object SessionClone {

  /** A clone of `spark`: its conf, functions, temp views and query
    * execution listeners, as the streaming engine clones a query's
    * session when the query starts.
    */
  def of(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The query execution listeners registered on `spark`. */
  def executionListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** `df` as a frame of `spark`: its analyzed plan, re-bound. */
  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
