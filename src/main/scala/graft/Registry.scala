package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator: a Spark query plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL the driver hash-compares against.
  * Output column names MUST match between the two — the compare sorts
  * columns by name before hashing.
  */
final case class Op(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  def ops: Seq[Op] =
    graft.operators.Rollups.ops ++
      graft.operators.Series.ops ++
      graft.operators.Carbon.ops ++
      graft.operators.Wire.ops ++
      graft.operators.Index.ops ++
      graft.operators.MetricQuery.ops ++
      graft.operators.OpsStats.ops ++
      graft.operators.Dedup.ops ++
      graft.operators.Sketch.ops ++
      graft.operators.TextOps.ops ++
      graft.operators.Bpe.ops ++
      graft.operators.Curate.ops ++
      graft.operators.Similarity.ops ++
      graft.operators.Multimodal.ops ++
      graft.operators.Analytics.ops ++
      graft.streaming.CarbonStream.ops ++
      graft.streaming.DedupStream.ops ++
      graft.streaming.SessionStream.ops ++
      graft.streaming.WireStream.ops ++
      graft.streaming.AnnStream.ops

  /** The ops `names` selects, in Registry order. An empty set or an
    * unknown name fails here: a typo'd op filter would otherwise run
    * nothing and report that as a result (an empty bench, a vacuous
    * oracle check).
    */
  def select(names: Set[String]): Seq[Op] = {
    require(names.nonEmpty, "op filter is set but names no ops")
    val all = ops
    val unknown = names -- all.map(_.name)
    require(unknown.isEmpty,
      s"op filter names unknown ops: ${unknown.toSeq.sorted.mkString(", ")}")
    all.filter(op => names.contains(op.name))
  }
}
