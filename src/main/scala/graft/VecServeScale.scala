package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Measure the stored-ANN serving claim as NUMBERS, not plan text:
  * `ann_ivf_stored`'s pruned probe should open nprobe/|cells| of the
  * INDEX BYTES (the property that matters when the index itself is the
  * 100 TB object). [[StoreScale]]'s pattern applied to the vector store:
  * build the c_id-partitioned index once, then compare the file-scan
  * metrics (`numFiles`, `filesSize`) of a FULL index read vs the routed
  * partition-pruned probe read. Results belong in BASELINE.md next to
  * the store scaling law.
  *
  * `runMain graft.VecServeScale [sfDir]`
  */
object VecServeScale {

  private def scanMetrics(df: org.apache.spark.sql.DataFrame,
      label: String): (Long, Long) = {
    df.collect() // drive the scan so the metrics populate
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    val files = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val bytes = scans.map(s => s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    println(f"$label%-28s files=$files%5d  bytes=$bytes%12d")
    (files, bytes)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session(8, "graft-vec-serve-scale")
    graft.functions.GraftExtensions.register(spark)
    import graft.operators.Similarity
    import graft.sources.VecIndexStore

    val vecs = Similarity.fixedVecs(spark, dir)
    val cents = Similarity.centsFor(spark, dir, "trained", Similarity.CentroidMod)
    val idx = graft.model.Spill.path(spark, "vec_serve_scale", dir)
    val root = new org.apache.hadoop.fs.Path(idx)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    // three flush slices + fold — the lifecycle shape the live store has
    val assigned = Similarity.assignNearestLocal(vecs, cents)
      .select("vec_id", "v", "nrm", "c_id")
    (0 until 3).foreach(i =>
      VecIndexStore.append(assigned.filter(pmod(col("vec_id"), lit(3)) === i), idx))
    VecIndexStore.compact(spark, idx)

    val probeLists = Similarity.ivfProbeLists(vecs, cents, Similarity.NProbe)
    val routed = probeLists.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val nCells = VecIndexStore.read(spark, idx)
      .select("c_id").distinct().count()
    println(s"(index: $nCells cells; probe routes to ${routed.length} " +
      s"cells at nprobe ${Similarity.NProbe})")

    val (fullF, fullB) = scanMetrics(
      VecIndexStore.read(spark, idx), "full index scan")
    val (prF, prB) = scanMetrics(
      VecIndexStore.read(spark, idx).filter(col("c_id").isin(routed: _*)),
      "batch probe scan (all q)")
    println(f"batch/full:  files=${prF.toDouble / fullF}%.3f  " +
      f"bytes=${prB.toDouble / fullB}%.3f  " +
      f"(routed cells/|cells| = ${routed.length.toDouble / nCells}%.3f)" +
      " — the fixture's whole probe SET can cover every cell; the" +
      " serving-path bound is PER QUERY:")
    // ONE query's routed cells — the unit a serving request scans
    val q0 = probeLists.select("q_id").orderBy("q_id").head().getLong(0)
    val oneRouted = probeLists.filter(col("q_id") === q0)
      .select("c_id").distinct().collect().map(_.getLong(0)).sorted
    val (oneF, oneB) = scanMetrics(
      VecIndexStore.read(spark, idx).filter(col("c_id").isin(oneRouted: _*)),
      s"one-query probe scan (q=$q0)")
    println(f"query/full:  files=${oneF.toDouble / fullF}%.3f  " +
      f"bytes=${oneB.toDouble / fullB}%.3f  " +
      f"(nprobe/|cells| = ${oneRouted.length.toDouble / nCells}%.3f)")
    spark.stop()
  }
}
