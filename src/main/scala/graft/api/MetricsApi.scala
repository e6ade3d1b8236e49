package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{RollupConfig, RollupDef, Tables}
import graft.operators.{Index, MetricQuery, Rollups}

/** The cassabon HTTP API surface (reference api/api.go:44-51) as library
  * calls — a user of the daemon's `GET /paths`, `GET /metrics`,
  * `DELETE /metrics` endpoints can call these against the Spark engine and
  * get the same response shapes. The heavy lifting stays distributed; only
  * the final (small) response payload is collected.
  */
object MetricsApi {

  /** `GET /metrics?path=&from=&to=` response payload
    * (datastore/metricquery.go:15-19 MetricResponse): normalized from, the
    * step, and per-path value series on the step grid, `None` where no data.
    *
    * Faithful quirk: with multiple paths the reference computes table/step
    * per path but the response carries a single `step`/`from` — whichever
    * the LAST path produced (metricquery.go:100-124 loop variable). Mirrored
    * here so responses agree.
    */
  case class MetricsResponse(from: Long, to: Long, step: Long,
      series: Map[String, Seq[Option[Double]]])

  private val nowCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def getMetrics(spark: SparkSession, dir: String,
      paths: Seq[String], from: Long, to: Long,
      nowSec: Option[Long] = None): MetricsResponse = {
    // table selection keys on the AGE of the oldest requested point —
    // `time.Since(q.From)` in the reference (metricquery.go:103), i.e.
    // now - from, NOT the range length: a historic 1 h slice 30 days back
    // must read the long-retention table, not the freshest one. `now` is
    // wall clock in the daemon; the batch stand-in is the newest point in
    // the store (same convention as retention_ttl), overridable — and
    // cached per store dir so repeated API calls don't rescan the table
    // (the stand-in is a fixed property of a batch fixture; a live
    // deployment passes wall-clock nowSec and never hits this path).
    val now = nowSec.getOrElse {
      Option(nowCache.get(dir)).map(_.longValue()).getOrElse {
        val r = Tables.metrics(spark, dir).agg(max("ts")).head()
        // empty store: getLong on null would NPE — same guard class as
        // storeLifecycle's empty-table require; fall back to `to`, the
        // closest batch analogue of "everything just arrived" (and don't
        // cache a value derived from one request's range)
        if (r.isNullAt(0)) to
        else { val n = r.getLong(0); nowCache.put(dir, n); n }
      }
    }
    getMetricsFrom(Rollups.rollups(spark, dir), paths, from, to, now)
  }

  /** The query body over ANY rollup frame `(tbl, path, stat_time, stat)` —
    * the fixture-derived write set above, or a live store's merge-on-read
    * view (`Daemon`'s serving path). Columns are selected by NAME so the
    * two sources' physical column orders can't skew the positional reads.
    * `config` picks each path's table and step (the daemon passes the
    * config in force); only the chosen `(tbl, path)` rows in range are
    * collected.
    */
  def getMetricsFrom(rollupsDf: DataFrame, paths: Seq[String],
      from: Long, to: Long, now: Long,
      config: Seq[RollupDef] = RollupConfig.reference): MetricsResponse = {
    val ageSec = math.max(now - from, 0L)
    val windows = paths.map(p => p -> MetricQuery.chooseWindow(p, ageSec, config)._2)
    val rollups = rollupsDf
      .filter(windows.map { case (p, w) => col("tbl") === w.table && col("path") === p }
        .foldLeft(lit(false))(_ || _) && col("stat_time").between(from, to))
      .select(col("tbl"), col("path"), col("stat_time"), col("stat"))
      .collect() // tiny: only the chosen (tbl, path) rows in range
      .groupBy(r => (r.getString(0), r.getString(1))) // (tbl, path)
      .map { case (k, rs) => k -> rs.map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap }
    var step = 0L
    var normalFrom = 0L
    val series = windows.map { case (path, win) =>
      step = win.windowSec
      normalFrom = from + (step - from % step)
      val byTime = rollups.getOrElse((win.table, path), Map.empty)
      val slots = normalFrom.to(to, step)
      path -> slots.map(t => byTime.getOrElse(t, None)).toSeq
    }.toMap
    MetricsResponse(normalFrom, to, step, series)
  }

  /** `GET /paths?query=glob` (api/api.go:99-123 → indexmanager queryGET):
    * glob over the path index at the glob's depth, sorted.
    */
  case class PathEntry(path: String, depth: Int, leaf: Boolean)

  /** `tenant=None` reproduces the reference endpoint exactly (the daemon
    * ships the glob to its search backend with no tenant notion — a
    * wildcard first segment matches lexically across namespaces). Pass
    * `Some(tenant)` to execute AS a tenant (the r10 index model,
    * `Index.globMatches`): the query then cannot see other tenants' nodes.
    */
  def getPaths(spark: SparkSession, dir: String, glob: String,
      tenant: Option[String] = None): Seq[PathEntry] =
    getPathsFrom(Index.build(spark, dir), glob, tenant)

  /** Glob over ANY prebuilt index frame — shared by the fixture endpoint
    * above and `Daemon`'s store-fed index. The matches are collected and
    * sorted on the driver with Spark's own string order (UTF-8 bytes,
    * `UTF8String.compareTo`), which equals `orderBy("node")` without its
    * range-sampling job and shuffle; index nodes are unique and non-null.
    */
  def getPathsFrom(idx: DataFrame, glob: String,
      tenant: Option[String] = None): Seq[PathEntry] =
    Index.globMatches(idx, glob, tenant)
      .collect()
      .map(r => PathEntry(r.getString(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(e => UTF8String.fromString(e.path))
      .toSeq

  /** `DELETE /paths?query=glob` (api/api.go:124-147; backend semantics =
    * the `index_delete` operator): drop the glob-matched leaf paths of the
    * glob's tenant (its first segment — a delete must NAME its tenant, so
    * a wildcard first segment matches no tenant and deletes nothing) and
    * rebuild the prefix set from the survivors. Returns the remaining
    * node count — the payload a caller needs to confirm the prune.
    */
  def deletePaths(spark: SparkSession, dir: String, glob: String): Long =
    Index.deleteFrom(
      Tables.metrics(spark, dir).select("path").distinct(),
      glob, glob.split("\\.")(0)).count()

  /** `DELETE /metrics` (metricquery.go:25-84): per-path, per-table
    * approximate counts; when not a dry run the store row set after the
    * anti-filter is returned alongside (the caller persists it).
    */
  case class DeleteResponse(dryrun: Boolean,
      byPathTable: Map[(String, String), Long], totalDeleted: Long)

  def deleteMetrics(spark: SparkSession, dir: String, paths: Seq[String],
      from: Long, to: Long, dryRun: Boolean): (DeleteResponse, Option[DataFrame]) =
    deleteMetricsFrom(Rollups.rollups(spark, dir), paths, from, to, dryRun)

  /** Delete body over ANY rollup frame (see [[getMetricsFrom]]); the
    * counts are zero-filled over `config`'s tables.
    */
  def deleteMetricsFrom(rollupsDf: DataFrame, paths: Seq[String],
      from: Long, to: Long, dryRun: Boolean,
      config: Seq[RollupDef] = RollupConfig.reference): (DeleteResponse, Option[DataFrame]) = {
    val counts = rollupsDf
      .filter(col("path").isin(paths: _*) &&
        col("stat_time") >= from && col("stat_time") <= to)
      .groupBy("path", "tbl").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = (for (p <- paths; t <- RollupConfig.tablesOf(config))
      yield (p, t) -> counts.getOrElse((p, t), 0L)).toMap
    val resp = DeleteResponse(dryRun, full, full.values.sum)
    val remaining = if (dryRun) None else Some(
      rollupsDf.filter(
        !(col("path").isin(paths: _*) &&
          col("stat_time") >= from && col("stat_time") <= to)))
    (resp, remaining)
  }

  /** `GET /healthcheck` (api/api.go:~225): the engine's liveness probe —
    * the session is usable and the store is readable.
    */
  def healthcheck(spark: SparkSession, dir: String): Boolean =
    try { Tables.events(spark, dir).limit(1).count() >= 0 } catch { case _: Throwable => false }
}
