package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.model.{RollupConfig, RollupDef, Tables}

/** The query API over the rollup store: range fetch with step
  * normalization + null gap-fill, and range delete with dry-run counts
  * (reference datastore/metricquery.go:87-230 and 25-84).
  *
  * "now" is the newest point in the stream (the batch stand-in for wall
  * clock), so every constant below is derived, not wall-clock-dependent.
  */
object MetricQuery {

  /** Which rollup table serves a (path, age) query under `config`: the
    * path's expression, then the first window whose retention still covers
    * the age (metricquery.go:107-121).
    */
  def chooseWindow(path: String, ageSec: Long,
      config: Seq[RollupDef] = RollupConfig.reference): (RollupDef, graft.model.RollupWindow) = {
    val d = config.find(r => !r.isCatchall && r.pattern.matcher(path).find())
      .getOrElse(config.last)
    (d, d.windows.find(ageSec < _.retentionSec).getOrElse(d.windows.last))
  }

  // The fetch scenario: one path, a 2-day range ending at "now".
  val FetchPath = "servers.view.u5"
  val FetchAgeSec = 172800L
  private val (fetchDef, fetchWin) = chooseWindow(FetchPath, FetchAgeSec)
  private val step = fetchWin.windowSec

  /** Range fetch: normalize `from` UP to the next step boundary
    * (metricquery.go:124 `normalFrom = from + (step - from%step)`), lay a
    * slot grid of `step` to `to`, left-join the rollup rows, null where no
    * data (the gap-fill loop at metricquery.go:139-162).
    *
    * Scale: the grid is a `sequence()` over one aggregated row — broadcast
    * side; the rollup side is filtered by (tbl, path) BEFORE the join, so
    * at 100 TB the scan prunes to one path's partition.
    */
  /** The rollup table the fetch scenario reads — exposed for the live
    * twin, which maintains exactly this (tbl, path) slice as stream state.
    */
  private[graft] val FetchTable = fetchWin.table

  def fetch(spark: SparkSession, dir: String): DataFrame =
    fetchFrom(spark, dir, Rollups.rollups(spark, dir)
      .filter(col("tbl") === fetchWin.table && col("path") === FetchPath))

  /** The grid + gap-fill half of [[fetch]] over a caller-supplied rollup
    * slice `r(tbl, path, stat_time, stat)` — shared with
    * `stream_series_fill`, whose `r` is drained live stream state rather
    * than the batch aggregation.
    */
  private[graft] def fetchFrom(spark: SparkSession, dir: String,
      r: DataFrame): DataFrame = {
    val grid = Tables.metrics(spark, dir)
      .agg(max("ts").as("now"))
      .select((col("now") - FetchAgeSec).as("f"), col("now").as("t"))
      .select(explode(sequence(
        col("f") + (lit(step) - pmod(col("f"), lit(step))),
        col("t"), lit(step))).as("slot_ts"))
    grid.join(r, grid("slot_ts") === r("stat_time"), "left")
      .select(lit(FetchPath).as("path"), col("slot_ts"), col("stat"))
  }

  /** The fetch pipeline as CTEs ending in `fetched(path, slot_ts, stat)` —
    * shared verbatim with `series_fill`'s oracle so the grid semantics
    * cannot drift between the raw fetch and the gap-repaired read.
    */
  private[operators] val fetchCtes: String =
    s"""${Rollups.rollupsCtes},
       |params AS (SELECT max(ts) - $FetchAgeSec AS f, max(ts) AS t FROM metrics),
       |grid AS (
       |  SELECT unnest(generate_series(f + ($step - f % $step), t, $step)) AS slot_ts
       |  FROM params
       |),
       |r AS (
       |  SELECT * FROM rollups
       |  WHERE tbl = '${fetchWin.table}' AND path = '$FetchPath'
       |),
       |fetched AS (
       |  SELECT '$FetchPath' AS path, g.slot_ts, r.stat
       |  FROM grid g LEFT JOIN r ON r.stat_time = g.slot_ts
       |)""".stripMargin

  private val fetchSql: String =
    s"WITH $fetchCtes SELECT path, slot_ts, stat FROM fetched"

  // The delete scenario: two paths, range [now-7d, now-1d].
  val DeletePaths = Seq("servers.error.u1", "servers.signup.u7")
  val DeleteFromAge = 604800L
  val DeleteToAge   = 86400L

  /** DELETE /metrics dry-run: for each requested path, a row count per
    * rollup table within the range — zero rows included, exactly the
    * response shape of metricquery.go:25-84 (`approximate_total_by_table`).
    * The non-dry-run apply is the anti-join of this filter (spec-tested).
    */
  def deleteDryRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = DeletePaths.toDF("path").crossJoin(RollupConfig.tables.toDF("tbl"))
    val now = Tables.metrics(spark, dir).agg(max("ts").as("now"))
    val counts = Rollups.rollups(spark, dir)
      .filter(col("path").isin(DeletePaths: _*))
      .crossJoin(broadcast(now))
      .filter(col("stat_time") >= col("now") - DeleteFromAge &&
        col("stat_time") <= col("now") - DeleteToAge)
      .groupBy("path", "tbl").count()
    base.join(counts, Seq("path", "tbl"), "left")
      .select(col("path"), col("tbl"),
        coalesce(col("count"), lit(0L)).as("would_delete"))
  }

  private val deleteSql: String = {
    val pathRows = DeletePaths.map(p => s"('$p')").mkString(", ")
    val tblRows = RollupConfig.tables.map(t => s"('$t')").mkString(", ")
    s"""WITH ${Rollups.rollupsCtes},
       |nowt AS (SELECT max(ts) AS now FROM metrics),
       |req(path) AS (VALUES $pathRows),
       |tbls(tbl) AS (VALUES $tblRows),
       |counts AS (
       |  SELECT r.path, r.tbl, count(*) AS c
       |  FROM rollups r, nowt n
       |  WHERE r.path IN (${DeletePaths.map("'" + _ + "'").mkString(", ")})
       |    AND r.stat_time >= n.now - $DeleteFromAge
       |    AND r.stat_time <= n.now - $DeleteToAge
       |  GROUP BY 1, 2
       |)
       |SELECT q.path, t.tbl, CAST(COALESCE(c.c, 0) AS BIGINT) AS would_delete
       |FROM req q CROSS JOIN tbls t
       |LEFT JOIN counts c ON c.path = q.path AND c.tbl = t.tbl""".stripMargin
  }

  /** The delete APPLY path: rollup rows surviving the delete (anti-filter).
    * Returned as per-table remaining counts so the result is compact at any
    * scale.
    */
  def deleteApply(spark: SparkSession, dir: String): DataFrame = {
    val now = Tables.metrics(spark, dir).agg(max("ts").as("now"))
    Rollups.rollups(spark, dir)
      .crossJoin(broadcast(now))
      .filter(!(col("path").isin(DeletePaths: _*) &&
        col("stat_time") >= col("now") - DeleteFromAge &&
        col("stat_time") <= col("now") - DeleteToAge))
      .groupBy("tbl").agg(count(lit(1)).as("remaining"))
  }

  private val deleteApplySql: String =
    s"""WITH ${Rollups.rollupsCtes},
       |nowt AS (SELECT max(ts) AS now FROM metrics)
       |SELECT r.tbl, CAST(count(*) AS BIGINT) AS remaining
       |FROM rollups r, nowt n
       |WHERE NOT (r.path IN (${DeletePaths.map("'" + _ + "'").mkString(", ")})
       |  AND r.stat_time >= n.now - $DeleteFromAge
       |  AND r.stat_time <= n.now - $DeleteToAge)
       |GROUP BY 1""".stripMargin

  def ops: Seq[Op] = Seq(
    Op("metric_fetch", fetch, Some(fetchSql)),
    Op("metric_delete", deleteDryRun, Some(deleteSql)),
    Op("metric_delete_apply", deleteApply, Some(deleteApplySql))
  )
}
