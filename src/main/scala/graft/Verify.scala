package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered operator's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The dump itself, separated from session lifecycle so Round9Spec can
    * run the SAME gate (dump + tools/oracle_check.py) over an adversarial
    * fixture dir inside the shared test session without stopping it.
    * `only` goes through [[Registry.select]], so an empty or typo'd filter
    * fails instead of dumping nothing and passing the check vacuously.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    val ops = only.map(Registry.select).getOrElse(Registry.ops)
    ops.foreach { op =>
      try op.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${op.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${op.name} failed: ${e.getMessage}")
      }
    }
    writeOracleJson(outDir, ops.flatMap(op => op.oracle.map(op.name -> _)).toMap)
  }

  /** Write `<outDir>/oracle_sql.json` — factored out of [[dump]] so the
    * oracle-COST gate (Round15Spec + tools/oracle_profile.py) can profile
    * every oracle without executing any Spark query first.
    *
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def writeOracleJson(outDir: String, oracles: Map[String, String]): Unit = {
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.envCores(4), "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    // -Dgraft.verify.ops=a,b restricts the dump (and the oracle json) for
    // fast local iteration on a changed operator; the driver runs unfiltered.
    // Names are trimmed and validated — a typo'd op would otherwise dump
    // nothing and make the subsequent oracle check pass vacuously.
    val only = sys.props.get("graft.verify.ops")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
