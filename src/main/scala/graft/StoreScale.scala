package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.Rollups
import graft.sources.RollupStore

/** Measures the store's claimed scaling laws instead of asserting them
  * (BASELINE.md records the numbers):
  *
  *  1. FLUSH cost scales with the partition DIRECTORIES a flush touches,
  *     not its rows: the same points are appended as K time-CONTIGUOUS
  *     slices (each touching ~days/K date directories — the shape
  *     `storeLifecycle` and a real ingest frontier produce) and as K
  *     time-UNCORRELATED, KEY-CONSISTENT slices (`hash(path) % K`: all of
  *     a path's points in ONE slice, so the state-row totals match the
  *     contiguous plan — no per-slice key splitting confounds the
  *     comparison — while every flush scatters across ALL date
  *     directories). Only the directory fan-out differs; both row totals
  *     are reported so the premise is checkable.
  *  2. COMPACTION retires merge-on-read debt: `readFinalized` is timed on
  *     the K-slice-per-directory scattered store before and after
  *     `compact()` folds each multi-slice directory to one file.
  *
  * Every timing is min-of-N (default 3 — co-tenant steal caveat,
  * BASELINE.md): each flush rep replays the whole K-append sequence into
  * a FRESH store. Slices are persisted and counted before any timed
  * append so aggregation cost is excluded and only the partitioned-write
  * path is measured. Prints one JSON line.
  * Usage: `runMain graft.StoreScale [sfDir] [K] [reps]`.
  */
object StoreScale {

  private def timeMin[T](reps: Int)(body: => T): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(6)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Harness.session(Harness.envCores(32), "graft-store-scale")

    val m = Tables.metrics(spark, sfDir)
    val span = m.agg(min(expr("ts DIV 86400")), max(expr("ts DIV 86400"))).head()
    val (d0, d1) = (span.getLong(0), span.getLong(1))
    val days = d1 - d0 + 1

    def slices(mk: Int => DataFrame): Seq[DataFrame] = {
      val ss = (0 until k).map(i => Rollups.mergeableFrom(mk(i)).persist())
      ss.foreach(_.count()) // materialize so the timed section is write-only
      ss
    }
    val contiguous = slices { i =>
      val lo = d0 + i * days / k
      val hi = if (i == k - 1) d1 + 1 else d0 + (i + 1) * days / k
      m.filter(expr("ts DIV 86400") >= lo && expr("ts DIV 86400") < hi)
    }
    val scattered = slices(i => m.filter(pmod(hash(col("path")), lit(k)) === i))

    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshStore(tag: String): String = {
      val p = graft.model.Spill.path(spark, s"store_scale_$tag", sfDir)
      fs.delete(new Path(p), true)
      p
    }
    def dirsTouched(s: DataFrame): Long = s
      .select(col("tbl"), to_date(timestamp_seconds(col("stat_time"))).as("d"))
      .distinct().count()

    /** Min-of-reps wall time for the FULL K-append sequence, each rep into
      * a fresh store; returns (min seconds, last rep's store path).
      */
    def flushMin(ss: Seq[DataFrame], tag: String): (Double, String) = {
      var last = ""
      val sec = (1 to reps).map { r =>
        last = freshStore(s"${tag}_$r")
        val t0 = System.nanoTime()
        ss.foreach(RollupStore.appendStateSlice(_, last))
        (System.nanoTime() - t0) / 1e9
      }.min
      (sec, last)
    }
    val (contigSec, _) = flushMin(contiguous, "contig")
    val (scatterSec, scatterStore) = flushMin(scattered, "scatter")
    val contigDirs = contiguous.map(dirsTouched).sum
    val scatterDirs = scattered.map(dirsTouched).sum
    val contigRows = contiguous.map(_.count()).sum
    val scatterRows = scattered.map(_.count()).sum

    // merge-on-read debt: the scattered store is the worst case — EVERY
    // directory holds k slice files — so its finalized read pays the full
    // listing+open+merge cost compaction exists to retire. Time it before
    // and after compact() folds each directory to one file.
    def readSec = timeMin(reps) {
      RollupStore.readFinalized(spark, scatterStore)
        .write.format("noop").mode("overwrite").save()
    }
    val readBefore = readSec
    val compactSec = timeMin(1)(RollupStore.compact(spark, scatterStore))
    val readAfter = readSec

    (contiguous ++ scattered).foreach(_.unpersist())
    println(
      f"""{"harness":"store_scale","sf":"$sfDir","k":$k,"reps":$reps,"contig_rows":$contigRows,"scatter_rows":$scatterRows,"contig_dirs":$contigDirs,"scatter_dirs":$scatterDirs,"contig_flush_sec":$contigSec%.2f,"scatter_flush_sec":$scatterSec%.2f,"read_before_compact_sec":$readBefore%.2f,"compact_sec":$compactSec%.2f,"read_after_compact_sec":$readAfter%.2f}""")
    spark.stop()
  }
}
