package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.model.Tables

/** The path index: every dot-prefix of every seen path, with depth and a
  * leaf flag, answering glob queries constrained to the query's depth
  * (reference datastore/indexmanager.go:201-278 builds it, 303-355 queries it).
  *
  * Scale posture: paths are deduped FIRST — the prefix explode runs over
  * |unique paths|, not |points|. At 100 TB the distinct() is the only
  * shuffle and its key set (paths) is tiny relative to the stream.
  */
object Index {

  /** All prefix nodes: (node, depth, leaf, tenant) — the reference's index
    * document shape (indexmanager.go:219-224 IndexResponse). A node is a
    * leaf iff some full path equals it (indexmanager.go:225-236:
    * isLeaf=true for the full path, false for every shorter prefix; a node
    * seen both ways stays a leaf). `tenant` is the multi-tenancy dimension
    * the reference carries as a slot but populates as "" on every PUT
    * (indexmanager.go:241-245 — its deployments are single-tenant); here it
    * is REAL: the node's first path segment, the graphite convention of a
    * per-tenant top-level namespace. Since every node string starts with
    * its tenant segment, tenant is a projection of the grouped node —
    * deriving it after the groupBy keeps the prefix dedup the ONE shuffle
    * and makes the two engines' derivations trivially identical. On the
    * single-namespace driver fixture every row reads tenant='servers';
    * the 2-tenant semantics (tenant-tagged nodes, tenant-scoped glob and
    * delete) are gated by Round10Spec's cross-tenant fixture.
    */
  private[graft] def indexFrom(paths: DataFrame): DataFrame =
    paths
      .withColumn("p", split(col("path"), "\\."))
      .select(col("p"), explode(expr("sequence(1, size(p))")).as("depth"))
      .select(
        concat_ws(".", expr("slice(p, 1, depth)")).as("node"),
        col("depth"),
        (col("depth") === size(col("p"))).as("leaf"))
      .groupBy("node")
      .agg(max("depth").as("depth"), max("leaf").as("leaf"))
      .withColumn("tenant", expr("split(node, '\\\\.')[0]"))

  def build(spark: SparkSession, dir: String): DataFrame =
    indexFrom(Tables.metrics(spark, dir).select("path").distinct())

  /** [[indexFrom]]'s SQL mirror: the prefix-node CTE chain over whatever
    * `paths` CTE the caller supplies — shared by the build and delete
    * oracles like the Scala side shares `indexFrom`.
    */
  private def indexSqlFrom(pathsCte: String): String =
    s"""${Tables.metricsSql},
       |${indexNodesCtes(pathsCte)}""".stripMargin

  /** The node-chain CTEs WITHOUT the leading `metrics` CTE, for oracles
    * (OpsStats.runtime_stats) that already carry `metrics` in their own
    * chain and only need `index_nodes` on top of it.
    */
  private[graft] def indexNodesCtes(pathsCte: String): String =
    s"""$pathsCte,
       |sp AS (SELECT path, string_split(path, '.') AS p FROM paths),
       |nodes AS (
       |  SELECT array_to_string(p[1:CAST(d AS INT)], '.') AS node,
       |         CAST(d AS INT) AS depth,
       |         d = len(p) AS leaf
       |  FROM sp, unnest(generate_series(1, len(p))) AS g(d)
       |),
       |index_nodes AS (
       |  SELECT node, max(depth) AS depth, max(leaf) AS leaf,
       |         string_split(node, '.')[1] AS tenant
       |  FROM nodes GROUP BY 1
       |)""".stripMargin

  private val buildCtes: String =
    indexSqlFrom("paths AS (SELECT DISTINCT path FROM metrics)")

  private[graft] val buildSql: String =
    s"WITH $buildCtes SELECT * FROM index_nodes"

  /** Glob → regex exactly as the reference converts for its search backend
    * (indexmanager.go:312-314): escape dots, `*` → `.*`, full-string match,
    * constrained to the glob's depth, sorted by path. FAITHFULLY minimal:
    * the reference replaces ONLY `.` and `*` and ships everything else to
    * Elasticsearch's regexp query verbatim, so other regex metacharacters
    * in a user glob pass through here too (`a{2}.b` matches `aa.b`, a
    * malformed class throws) — matching the daemon's behavior, quirk
    * included. A deployment wanting strict-literal globs quotes the glob
    * before calling.
    */
  def globToRegex(glob: String): String =
    "^" + glob.replace(".", "\\.").replace("*", ".*") + "$"

  val GlobQuery = "servers.*.u3"
  val GlobTenant = "servers"

  /** The index nodes a glob matches at its depth, unordered. With a
    * tenant the query executes AS that tenant and can only see its
    * namespace, even when the glob's first segment is a wildcard that
    * would lexically match other tenants' nodes (Round10Spec drives
    * exactly that cross-tenant case); without one it matches across
    * namespaces, like the reference endpoint.
    */
  private[graft] def globMatches(index: DataFrame, glob: String,
      tenant: Option[String]): DataFrame = {
    val atDepth = col("depth") === glob.split("\\.").length &&
      col("node").rlike(globToRegex(glob))
    index.filter(tenant.fold(atDepth)(t => col("tenant") === t && atDepth))
  }

  /** Tenant-scoped glob over a built index, sorted by node. The
    * registered op queries as [[GlobTenant]], the fixture's namespace.
    */
  private[graft] def globNodes(index: DataFrame, glob: String, tenant: String): DataFrame =
    globMatches(index, glob, Some(tenant)).orderBy("node")

  def glob(spark: SparkSession, dir: String): DataFrame =
    globNodes(build(spark, dir), GlobQuery, GlobTenant)

  private val globSql: String =
    s"""WITH $buildCtes
       |SELECT * FROM index_nodes
       |WHERE tenant = '$GlobTenant'
       |  AND depth = ${GlobQuery.split("\\.").length}
       |  AND regexp_matches(node, '${globToRegex(GlobQuery)}')
       |ORDER BY node""".stripMargin

  /** `DELETE /paths?query=glob` (reference api/api.go:124-147; the backend
    * delete is an open TODO in indexmanager.go — semantics defined here):
    * drop the glob-matched leaf paths OF THE REQUESTING TENANT, then
    * rebuild the prefix set from the survivors so orphaned prefixes
    * disappear too — a tenant's delete can never reach under another
    * tenant's identical sub-paths. Returns the remaining index.
    */
  val DeleteGlob = "servers.error.*"
  val DeleteTenant = "servers"

  private[graft] def deleteFrom(paths: DataFrame, glob: String, tenant: String): DataFrame =
    indexFrom(paths
      .filter(!(col("path").rlike(globToRegex(glob)) &&
        split(col("path"), "\\.")(0) === tenant)))

  def delete(spark: SparkSession, dir: String): DataFrame =
    deleteFrom(Tables.metrics(spark, dir).select("path").distinct(),
      DeleteGlob, DeleteTenant)

  private val deleteSql: String =
    s"""WITH ${indexSqlFrom(
        s"""paths AS (
           |  SELECT DISTINCT path FROM metrics
           |  WHERE NOT (regexp_matches(path, '${globToRegex(DeleteGlob)}')
           |             AND string_split(path, '.')[1] = '$DeleteTenant')
           |)""".stripMargin)}
       |SELECT * FROM index_nodes""".stripMargin

  def ops: Seq[Op] = Seq(
    Op("index_build", build, Some(buildSql)),
    Op("index_glob", glob, Some(globSql)),
    Op("index_delete", delete, Some(deleteSql))
  )
}
