package graft

import org.apache.spark.sql.SparkSession

/** Session conventions for every graft main, decided in one place: a
  * `local[cores]` master with the shuffle width equal to the core count,
  * UTC session time, no web UI, and Spark logging at ERROR. AQE and its
  * partition coalescing are Spark's defaults, so nothing sets them.
  *
  * Not built here: `ClusterSmoke` (a `local-cluster` master that ships
  * the executor classpath) and the spec session (`TestSpark`).
  */
object Harness {
  /** A main's width from `SPARK_GRAFT_CPUS`, or its own `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def session(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
