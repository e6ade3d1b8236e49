package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Portable, Tables}
import graft.operators.TextOps.{ChunkOverlap, ChunkTokens, EmbedDims}

/** The original explode-then-groupBy chunk embedder, kept as the reference
  * form `TextOps.chunkDenseRowLocal` is pinned against (Round14Spec). It is
  * the algebra the DuckDB `ck_*` CTEs mirror; no production path rides it.
  */
object ChunkDenseReference {

  def chunkDenseGroupBy(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    val stride = ChunkTokens - ChunkOverlap
    val toks = Tables.documents(spark, dir)
      .withColumn("t", split(lower(coalesce(col("text"), lit(""))), " "))
      .withColumn("n", size(col("t")))
      .withColumn("nc", greatest(lit(1),
        expr(s"(n - $ChunkOverlap + ${stride - 1}) DIV $stride")))
      .select(col("doc_id"), col("t"), col("n"),
        explode(expr("sequence(0, nc - 1)")).as("chunk_id"))
      .withColumn("s", col("chunk_id") * stride)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        explode(expr(s"slice(t, s + 1, least($ChunkTokens, n - s))")).as("tok"))
    toks
      .withColumn("h", Portable.hash60(col("tok")))
      .groupBy(col("doc_id"), col("chunk_id"),
        (col("h") % EmbedDims).cast("int").as("dim"))
      .agg(sum(expr(s"(h DIV $EmbedDims) % 2 * 2 - 1")).as("val"))
      .groupBy("doc_id", "chunk_id")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("val")))).as("m"))
      .withColumn("v", expr(
        s"transform(sequence(0, ${EmbedDims - 1}), i -> coalesce(try_element_at(m, i), CAST(0 AS BIGINT)))"))
      .withColumn("nrm", expr("vec_dot(v, v)"))
      .filter(col("nrm") > 0)
      .select("doc_id", "chunk_id", "v", "nrm")
  }
}
