package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.Pearson
import graft.model.Tables

/** The carbon plaintext listener surface: line parsing + validity stats +
  * peer routing (reference listener/carbon_plaintext.go, listener/peerlist.go,
  * logging/stats.go).
  *
  * The driver fixture has no network feed, so a deterministic line stream is
  * reconstructed from the metric stream — including malformed lines (missing
  * field, unparseable value, unparseable timestamp) on fixed id residues,
  * mirroring what a listener actually sees. Both the Spark side and the
  * DuckDB oracle build the identical stream, so parsing is verified
  * end-to-end.
  */
object Carbon {

  /** `path value ts` lines with deterministic corruption AND whitespace/
    * format tolerance cases:
    * id%17==0 → missing timestamp field; id%13==0 → bad value;
    * id%19==0 → bad timestamp (carbon_plaintext.go:219-243 rejects each);
    * id%23==0 → tab + run-of-spaces separators and a leading blank
    * (`strings.Fields` accepts — carbon_plaintext.go:218);
    * id%29==0 → fractional timestamp (`strconv.ParseFloat` accepts —
    * carbon_plaintext.go:238).
    *
    * PRECONDITION on the `%.3f` renderings: fixture values are 2-decimal by
    * construction, so the 3rd decimal is exact and no rounding happens —
    * Spark's format_string (Java, HALF_UP) and DuckDB's printf (C,
    * round-half-even) would disagree on values needing a round at the 4th
    * decimal. Formatting from the exact cents representation would lift the
    * precondition if the fixture ever gains full-precision values.
    */
  /** The fixture's embedded peer wire command payload, in the reference's
    * actual map shape — NAMES to host:port VALUES (PropagatePeerList
    * marshals the config peers map, peerlist.go:123-129, and
    * ValidatePeerList / sortedMapToArray consume the VALUES as the ring,
    * config_parser.go:170-188). Also consumed by `graft.model.PeerList`'s
    * front-door validation (Demo) and the `peer_reload` operator.
    */
  val PeerlistWirePayload: String =
    """{"a":"10.0.0.1:2003","b":"10.0.0.2:2003"}"""

  private[graft] def lines(spark: SparkSession, dir: String): DataFrame =
    Tables.metrics(spark, dir).select(
      col("event_id").as("line_id"),
      col("ts").as("arrival_ts"),
      when(col("event_id") % 17 === 0,
          format_string("%s %.3f", col("path"), col("value")))
        .when(col("event_id") % 13 === 0,
          format_string("%s x%.3f %d", col("path"), col("value"), col("ts")))
        .when(col("event_id") % 19 === 0,
          format_string("%s %.3f notatime", col("path"), col("value")))
        .when(col("event_id") % 23 === 0,
          format_string(" %s\t%.3f  %d", col("path"), col("value"), col("ts")))
        .when(col("event_id") % 29 === 0,
          format_string("%s %.3f %d.75", col("path"), col("value"), col("ts")))
        .when(col("event_id") % 31 === 0, // a peer wire command on the same socket
          lit("<<peerlist=" + PeerlistWirePayload + ">>"))
        .otherwise(format_string("%s %.3f %d", col("path"), col("value"), col("ts")))
        .as("line"))

  private[operators] val linesSql: String =
    s"""${Tables.metricsSql},
       |lines AS (
       |  SELECT event_id AS line_id, ts AS arrival_ts,
       |         CASE WHEN event_id % 17 = 0 THEN printf('%s %.3f', path, value)
       |              WHEN event_id % 13 = 0 THEN printf('%s x%.3f %d', path, value, ts)
       |              WHEN event_id % 19 = 0 THEN printf('%s %.3f notatime', path, value)
       |              WHEN event_id % 23 = 0 THEN printf(' %s' || chr(9) || '%.3f  %d', path, value, ts)
       |              WHEN event_id % 29 = 0 THEN printf('%s %.3f %d.75', path, value, ts)
       |              WHEN event_id % 31 = 0 THEN '<<peerlist=$PeerlistWirePayload>>'
       |              ELSE printf('%s %.3f %d', path, value, ts) END AS line
       |  FROM metrics
       |)""".stripMargin

  /** The ONE wire-format parse: append `p` (split parts), `v`, `t` and
    * `valid` columns for the carbon plaintext triplet `path value ts` —
    * all codegen'd column ops, no UDF. Shared by the batch `carbon_parse`
    * operator (which KEEPS invalid lines, flagged) and the streaming
    * front door (`CarbonStream.parseCarbonLines`, which drops them like
    * the live listener) so the two can never drift.
    */
  private[graft] def withParsedLine(df: DataFrame, lineCol: String): DataFrame =
    df
      // peer wire commands are inspected FIRST, on the RAW line — no trim
      // (metricHandler, carbon_plaintext.go:210-216: `^<<([a-z]+)=(.*)>>$`,
      // lowercase command names only). A command line is neither a metric
      // nor a malformed metric: it bumps NEITHER receive counter.
      .withColumn("peer_cmd", regexp_extract(col(lineCol), "^<<([a-z]+)=(.*)>>$", 1))
      // the reference tokenizes with strings.Fields — ANY whitespace runs,
      // leading/trailing blanks ignored (carbon_plaintext.go:218): trim +
      // regex split, NOT a single-space split, or tab-separated lines and
      // double spaces read as malformed
      .withColumn("p", split(trim(col(lineCol)), "\\s+"))
      .withColumn("v", expr("try_cast(try_element_at(p, 2) AS DOUBLE)"))
      // ts parses as FLOAT in the reference (ParseFloat,
      // carbon_plaintext.go:238) — '70.5' is a valid timestamp; this
      // engine's time grid is whole seconds, so floor. try_cast keeps a
      // non-finite or out-of-int64-range float invalid rather than throwing.
      .withColumn("t", expr("try_cast(floor(try_cast(try_element_at(p, 3) AS DOUBLE)) AS BIGINT)"))
      .withColumn("valid",
        col("peer_cmd") === "" &&
          size(col("p")) === 3 && col("v").isNotNull && col("t").isNotNull)

  /** Parse + validate the triplet. Invalid lines keep null fields and
    * `valid=false` (the listener drops them and bumps a counter; here
    * they stay observable).
    */
  private[operators] def parsedFull(spark: SparkSession, dir: String): DataFrame =
    withParsedLine(lines(spark, dir), "line")
      .select(
        col("line_id"), col("arrival_ts"), col("valid"), col("peer_cmd"),
        when(col("valid"), expr("try_element_at(p, 1)")).as("path"),
        when(col("valid"), col("v")).as("value"),
        when(col("valid"), col("t")).as("ts"))

  /** The DuckDB rendering of [[withParsedLine]] as a CTE chain, parameterized
    * over the source CTE (must expose `line` plus `keyCols`) so carbon_parse's
    * oracle and any oracle that re-derives a line stream (the UDP reassembly
    * in [[Wire]]) share ONE rendering of the wire-format parse — same
    * prefix-parameterized-builder pattern the sketch-family oracles use.
    * Produces a final CTE named `parsed` with (keyCols, valid, peer_cmd,
    * path, value, ts).
    */
  private[operators] def parsedCtesSql(src: String, keyCols: String): String =
    s"""sp AS (SELECT $keyCols, line,
       |              regexp_split_to_array(trim(line), '\\s+') AS p FROM $src),
       |cast_try AS (
       |  SELECT $keyCols, line, p,
       |         CASE WHEN regexp_matches(line, '^<<[a-z]+=.*>>$$')
       |              THEN regexp_extract(line, '^<<([a-z]+)=(.*)>>$$', 1)
       |              ELSE '' END AS peer_cmd,
       |         try_cast(p[2] AS DOUBLE) AS v,
       |         try_cast(floor(try_cast(p[3] AS DOUBLE)) AS BIGINT) AS t
       |  FROM sp
       |),
       |flagged AS (
       |  SELECT $keyCols, p, v, t, peer_cmd,
       |         (peer_cmd = '' AND len(p) = 3 AND v IS NOT NULL AND t IS NOT NULL) AS valid
       |  FROM cast_try
       |),
       |parsed AS (
       |  SELECT $keyCols, valid, peer_cmd,
       |         CASE WHEN valid THEN p[1] END AS path,
       |         CASE WHEN valid THEN v END AS value,
       |         CASE WHEN valid THEN t END AS ts
       |  FROM flagged
       |)""".stripMargin

  private[operators] val parsedFullSql: String =
    s"""$linesSql,
       |${parsedCtesSql("lines", "line_id, arrival_ts")}""".stripMargin

  def parse(spark: SparkSession, dir: String): DataFrame =
    parsedFull(spark, dir).drop("arrival_ts")

  private val parseSql: String =
    s"WITH $parsedFullSql SELECT line_id, valid, peer_cmd, path, value, ts FROM parsed"

  /** received-ok / received-fail counters per minute — the statsd events the
    * listener emits (carbon_plaintext.go:219-243, logging/stats.go).
    */
  def receiveStats(spark: SparkSession, dir: String): DataFrame =
    parsedFull(spark, dir)
      .groupBy((col("arrival_ts") - col("arrival_ts") % 60).as("minute_ts"))
      .agg(
        sum(when(col("valid"), 1L).otherwise(0L)).as("received_ok"),
        // a peer command bumps NEITHER receive counter (metricHandler
        // returns before the Fields split, carbon_plaintext.go:211-216);
        // it is surfaced as its own column instead
        sum(when(!col("valid") && col("peer_cmd") === "", 1L).otherwise(0L))
          .as("received_fail"),
        sum(when(col("peer_cmd") =!= "", 1L).otherwise(0L)).as("peer_cmds"))

  private val receiveStatsSql: String =
    s"""WITH $parsedFullSql
       |SELECT arrival_ts - arrival_ts % 60 AS minute_ts,
       |       CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS received_ok,
       |       CAST(sum(CASE WHEN NOT valid AND peer_cmd = '' THEN 1 ELSE 0 END) AS BIGINT) AS received_fail,
       |       CAST(sum(CASE WHEN peer_cmd <> '' THEN 1 ELSE 0 END) AS BIGINT) AS peer_cmds
       |FROM parsed GROUP BY 1""".stripMargin

  /** Peer ownership: `pearson_hash8(path) % N` (peerlist.go:112-119) with the
    * reference's N=but-configurable peer count. Per-peer path and point
    * distribution — the check a cassabon operator runs to see hashing is
    * balanced. At scale this is exactly the `repartition(N, pearson_hash8(path))`
    * placement contract.
    */
  val PeerCount = 5

  def peerRoute(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    Tables.metrics(spark, dir)
      .withColumn("peer", expr(s"pearson_hash8(path) % $PeerCount"))
      .groupBy("peer")
      .agg(countDistinct("path").as("paths"), count(lit(1)).as("points"))
  }

  // oracle shape: the Pearson chain renders as a large inlined SQL
  // expression, so evaluate it once per DISTINCT path (a config-sized
  // frame) and join the ownership back to the point rows — same result,
  // and the r15 oracle-cost profile drops ~8× (the Spark side already
  // pays one codegen'd hash per row, which is cheap — this is purely the
  // DuckDB mirror's shape)
  private val peerRouteSql: String =
    s"""WITH ${Tables.metricsSql},
       |ph AS MATERIALIZED (
       |  SELECT path, ${Pearson.hash8Sql("path")} % $PeerCount AS peer
       |  FROM (SELECT DISTINCT path FROM metrics)
       |)
       |SELECT CAST(h.peer AS INT) AS peer,
       |       CAST(count(DISTINCT m.path) AS BIGINT) AS paths,
       |       CAST(count(*) AS BIGINT) AS points
       |FROM metrics m JOIN ph h USING (path) GROUP BY 1""".stripMargin

  /** The 64-bit variant of the placement contract: `pearson_hash64(path)`
    * (reference pearson/pearson.go:44-59 — 8 segment-seeded 8-bit hashes
    * packed big-endian) spread over a wider shard ring. Cassabon keeps
    * hash64 for keyspaces where 256 buckets alias too much; the query is
    * the same balance check as [[peerRoute]] on the wider ring, exercising
    * the codegen'd [[graft.functions.PearsonHash64]] end-to-end against a
    * full DuckDB oracle. `pmod` (not `%`) because the packed hash is a
    * SIGNED 64-bit value.
    */
  val ShardCount = 16

  def peerRoute64(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    Tables.metrics(spark, dir)
      .withColumn("shard", expr(s"pmod(pearson_hash64(path), $ShardCount)"))
      .groupBy("shard")
      .agg(countDistinct("path").as("paths"), count(lit(1)).as("points"))
  }

  // per-DISTINCT-path hashing, like [[peerRouteSql]] (the 64-bit chain is
  // 8× the 8-bit expression — the worst per-row oracle cost in the suite
  // before this shape)
  private val peerRoute64Sql: String =
    s"""WITH ${Tables.metricsSql},
       |ph AS MATERIALIZED (
       |  SELECT path, ((${Pearson.hash64Sql("path")}) % $ShardCount + $ShardCount) % $ShardCount AS shard
       |  FROM (SELECT DISTINCT path FROM metrics)
       |)
       |SELECT CAST(h.shard AS BIGINT) AS shard,
       |       CAST(count(DISTINCT m.path) AS BIGINT) AS paths,
       |       CAST(count(*) AS BIGINT) AS points
       |FROM metrics m JOIN ph h USING (path) GROUP BY 1""".stripMargin

  /** Ring-resize rebalance delta: when a `peers=` command changes the ring
    * from N to N' hosts (carbon_plaintext.go:258-270 triggers the reload,
    * peerlist.go:123-156 re-propagates the list), every path whose owner
    * changes — `pearson_hash8(path) % N != pearson_hash8(path) % N'` — must
    * flush and re-route. This operator answers the question an operator of
    * a sharded deployment asks BEFORE resizing: how many paths (and points)
    * does each current peer hand off?
    *
    * Plan shape: distinct paths with per-path point counts (one groupBy),
    * then a map-only double-hash and one tiny groupBy(peer) — the hash is
    * computed once and reused for both rings. Modulo rebalancing moves
    * ~(1 - 1/N') of paths; a consistent-hash ring would move ~1/N' — the
    * moved_frac column is exactly the measurement that motivates one.
    */
  val NewPeerCount = 6

  def peerRebalance(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    Tables.metrics(spark, dir)
      .groupBy("path").agg(count(lit(1)).as("pts"))
      .withColumn("h", expr("pearson_hash8(path)"))
      .withColumn("peer", col("h") % PeerCount)
      .withColumn("moved", (col("h") % NewPeerCount =!= col("peer")).cast("long"))
      .groupBy("peer")
      .agg(
        count(lit(1)).as("paths"),
        sum("moved").as("moved_paths"),
        sum(col("moved") * col("pts")).as("moved_points"))
      .withColumn("moved_frac", round(col("moved_paths") / col("paths"), 6))
  }

  private val peerRebalanceSql: String =
    s"""WITH ${Tables.metricsSql},
       |counts AS (SELECT path, count(*) AS pts FROM metrics GROUP BY 1),
       |hashed AS (
       |  SELECT path, pts, ${Pearson.hash8Sql("path")} AS h FROM counts
       |),
       |flagged AS (
       |  SELECT CAST(h % $PeerCount AS INT) AS peer, pts,
       |         CASE WHEN h % $NewPeerCount <> h % $PeerCount THEN 1 ELSE 0 END AS moved
       |  FROM hashed
       |)
       |SELECT peer,
       |       CAST(count(*) AS BIGINT) AS paths,
       |       CAST(sum(moved) AS BIGINT) AS moved_paths,
       |       CAST(sum(moved * pts) AS BIGINT) AS moved_points,
       |       round(CAST(sum(moved) AS BIGINT) / count(*), 6) AS moved_frac
       |FROM flagged GROUP BY 1""".stripMargin

  /** The peer-list RELOAD path, wire-commanded: processPeerCommand
    * (carbon_plaintext.go:258-283) parses a `<<peerlist={json}>>` command's
    * payload, and a CHANGED list flushes and re-dispatches every path onto
    * the new ring. Here the new peer count comes from the fixture's own
    * embedded wire commands (the id%31 lines) — ENTRY count, i.e. the
    * number of `"key":` occurrences (the rule `PeerList.parseWirePayload`
    * applies; a comma-split would miscount any payload with a comma inside
    * a quoted value, and read `{}` as one peer where ValidatePeerList
    * rejects an empty list, config_parser.go:170-188) — portable to both
    * engines as a regex match count, no JSON library. An EMPTY map (0
    * entries) is "no change": the reference's validation would refuse it,
    * so the ring stays at [[PeerCount]], same as a feed with no command at
    * all. Output is the same per-peer movement frame as [[peerRebalance]],
    * against the DATA-DRIVEN new ring size instead of the configured
    * [[NewPeerCount]]. The 1-row command frame broadcasts; the path
    * catalog is the only shuffle.
    */
  private val PayloadEntryRe = """"[^"]+"\s*:"""

  /** Ring size a wire payload implies: entry count when > 0, else the
    * current ring (no-command feeds and rejected empty maps alike) —
    * coalesced EXPLICITLY so the no-command corpus doesn't diverge
    * cross-engine (Spark null arithmetic vs SQL CASE-on-null).
    */
  private[graft] def newPeersFromPayload(payload: Column): Column = {
    val entries = size(regexp_extract_all(payload, lit(PayloadEntryRe), lit(0)))
    coalesce(when(entries > 0, entries), lit(PeerCount))
  }

  def peerReload(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    val cmd = withParsedLine(lines(spark, dir), "line")
      .filter(col("peer_cmd") === "peerlist")
      .select(regexp_extract(col("line"), "^<<peerlist=(.*)>>$", 1).as("payload"))
      .agg(max("payload").as("payload")) // fixture commands are identical; max = deterministic
      .select(newPeersFromPayload(col("payload")).as("new_peers"))
    Tables.metrics(spark, dir)
      .groupBy("path").agg(count(lit(1)).as("pts"))
      .withColumn("h", expr("pearson_hash8(path)"))
      .crossJoin(broadcast(cmd))
      .withColumn("peer", col("h") % PeerCount)
      .withColumn("moved", (col("h") % col("new_peers") =!= col("peer")).cast("long"))
      .groupBy("peer")
      .agg(
        count(lit(1)).as("paths"),
        sum("moved").as("moved_paths"),
        sum(col("moved") * col("pts")).as("moved_points"))
      .withColumn("moved_frac", round(col("moved_paths") / col("paths"), 6))
  }

  private val peerReloadSql: String =
    s"""WITH $linesSql,
       |cmd AS (
       |  SELECT max(regexp_extract(line, '^<<peerlist=(.*)>>$$', 1)) AS payload
       |  FROM lines WHERE regexp_matches(line, '^<<peerlist=.*>>$$')
       |),
       |newn AS (SELECT coalesce(
       |  CASE WHEN len(regexp_extract_all(payload, '"[^"]+"\\s*:')) > 0
       |       THEN len(regexp_extract_all(payload, '"[^"]+"\\s*:')) END,
       |  $PeerCount) AS new_peers FROM cmd),
       |counts AS (SELECT path, count(*) AS pts FROM metrics GROUP BY 1),
       |hashed AS (
       |  SELECT path, pts, ${Pearson.hash8Sql("path")} AS h FROM counts
       |),
       |flagged AS (
       |  SELECT CAST(h % $PeerCount AS INT) AS peer, pts,
       |         CASE WHEN h % new_peers <> h % $PeerCount THEN 1 ELSE 0 END AS moved
       |  FROM hashed, newn
       |)
       |SELECT peer,
       |       CAST(count(*) AS BIGINT) AS paths,
       |       CAST(sum(moved) AS BIGINT) AS moved_paths,
       |       CAST(sum(moved * pts) AS BIGINT) AS moved_points,
       |       round(CAST(sum(moved) AS BIGINT) / count(*), 6) AS moved_frac
       |FROM flagged GROUP BY 1""".stripMargin

  /** Latency-style percentiles per metric family — the p50/p95/p99 view a
    * metrics engine serves beside rollups. Spark's exact `percentile` and
    * DuckDB's `quantile_cont` share the linear-interpolation definition.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        expr("round(percentile(value, 0.5), 6)").as("p50"),
        expr("round(percentile(value, 0.95), 6)").as("p95"),
        expr("round(percentile(value, 0.99), 6)").as("p99"),
        count(lit(1)).as("n"))

  private val valueQuantilesSql: String =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.95), 6) AS p95,
      |       round(quantile_cont(value, 0.99), 6) AS p99,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** Bin width of the mergeable quantile histogram, in value units. The
    * error bound: any estimate is within one bin of the `ceil(n·q)`-th
    * order statistic (the interpolating exact percentile can sit further
    * when adjacent tail samples gap wider than a bin — a property of the
    * data's tail, not of the sketch).
    */
  val QuantileBinW = 4.0

  private val QuantileSpecs = Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L))

  /** The SCALE form of [[valueQuantiles]]: exact `percentile` holds every
    * value of a group in one aggregation buffer — at 100 TB a hot metric
    * family's values don't fit anywhere. This is the mergeable-histogram
    * answer: fixed-width bins (one groupBy whose state is |bins|, not
    * |values| — and bin counts are integers, so partial aggregation is
    * order-immune and flush-mergeable like the rollup state algebra),
    * then each quantile reads off the cumulative bin frame with linear
    * interpolation inside the hit bin. Rank is exact integer arithmetic
    * (`ceil(n·q) = (n·qnum + qden - 1) DIV qden`), so both engines pick
    * the same bin; the ONLY float steps are the per-row bin assignment
    * (IEEE divide + floor, bit-identical cross-engine) and the final
    * interpolation division (round 6, the Portable convention).
    * Estimates are within [[QuantileBinW]] of the rank's order statistic —
    * CarbonAnalyticsSpec pins that bound on the live fixture.
    */
  def valueQuantilesSketch(spark: SparkSession, dir: String): DataFrame =
    quantilesFromBins(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          floor(col("value") / QuantileBinW).cast("long").as("bin"))
        .agg(count(lit(1)).as("c")))

  /** The quantile readoff over a `(event_type, bin, c)` histogram frame —
    * shared by the batch op and the streaming twin ([[graft.streaming
    * .CarbonStream]]'s `stream_quantiles`), which is WHY the histogram is
    * the scale form: bin counts are what a stream can maintain.
    */
  private[graft] def quantilesFromBins(bins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byBin = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byType = Window.partitionBy("event_type")
    val cum = bins
      .withColumn("cum", sum("c").over(byBin))
      .withColumn("n", sum("c").over(byType))
    val spark = bins.sparkSession
    import spark.implicits._
    val qs = QuantileSpecs.toDF("q", "qnum", "qden")
    val est = cum.join(broadcast(qs))
      .withColumn("rank", expr("(n * qnum + qden - 1) DIV qden"))
      .filter(col("cum") >= col("rank") && col("cum") - col("c") < col("rank"))
      .withColumn("est", round(
        col("bin") * QuantileBinW +
          (col("rank") - (col("cum") - col("c"))).cast("double") / col("c") * QuantileBinW,
        6))
    est.groupBy("event_type")
      .agg(
        max(when(col("q") === "p50", col("est"))).as("p50"),
        max(when(col("q") === "p95", col("est"))).as("p95"),
        max(when(col("q") === "p99", col("est"))).as("p99"),
        max("n").as("n"))
  }

  private[graft] val valueQuantilesSketchSql: String =
    s"""WITH bins AS (
       |  SELECT event_type, CAST(floor(value / $QuantileBinW) AS BIGINT) AS bin,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2
       |),
       |cum AS (
       |  SELECT event_type, bin, c,
       |         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM bins
       |),
       |qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p95', 19, 20), ('p99', 99, 100)) AS t(q, qnum, qden)),
       |hit AS (
       |  SELECT event_type, q, bin, c, cum, n,
       |         (n * qnum + qden - 1) // qden AS rank
       |  FROM cum CROSS JOIN qs
       |  WHERE cum >= (n * qnum + qden - 1) // qden
       |    AND cum - c < (n * qnum + qden - 1) // qden
       |),
       |est AS (
       |  SELECT event_type, q, n,
       |         round(bin * $QuantileBinW
       |               + CAST(rank - (cum - c) AS DOUBLE) / c * $QuantileBinW, 6) AS est
       |  FROM hit
       |)
       |SELECT event_type,
       |       max(CASE WHEN q = 'p50' THEN est END) AS p50,
       |       max(CASE WHEN q = 'p95' THEN est END) AS p95,
       |       max(CASE WHEN q = 'p99' THEN est END) AS p99,
       |       max(n) AS n
       |FROM est GROUP BY 1""".stripMargin

  /** Heavy hitters: the highest-volume paths (statsd `path.count` made
    * queryable). Deterministic limit via (points desc, path asc).
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame =
    topFromCounts(Tables.metrics(spark, dir)
      .groupBy("path").agg(count(lit(1)).as("points")))

  /** The top-10 readoff over a per-path count frame — shared with the
    * streaming twin (`stream_top_paths`), which maintains the counts live
    * and ranks the drained catalog-sized frame the same way.
    */
  private[graft] def topFromCounts(counts: DataFrame): DataFrame =
    counts.orderBy(col("points").desc, col("path")).limit(10)

  private[graft] val topPathsSql: String =
    s"""WITH ${Tables.metricsSql}
       |SELECT path, CAST(count(*) AS BIGINT) AS points
       |FROM metrics GROUP BY 1
       |ORDER BY points DESC, path LIMIT 10""".stripMargin

  // ------------------------------------------------------ heavy_hitters_sketch

  /** Count-min depth (number of independent counter rows — disjoint 20-bit
    * slices of the portable 60-bit path hash, the Bloom-filter trick, so
    * no extra hashing) and bucket width (w = 2^bits buckets per row).
    * State is depth × w integers TOTAL — the only aggregation state in
    * this engine that is CONSTANT in the key cardinality. 4 bits (w=16)
    * is deliberately narrower than this fixture's 40-path catalog so
    * collisions — the thing the sketch exists to bound — are observable
    * and the spec can pin the dial law; a production deployment sizes
    * w ≈ e/ε for an ε·N overestimate bound.
    */
  private[graft] val CmsDepth = 3
  val CmsBucketBits = 4

  /** The 100 TB-shaped width: w = 2^12 = 4096 buckets per depth row —
    * one constant away from the demo width, measured (not asserted) by
    * `sketch_occupancy`'s `cms_bucket`/`cms_bucket_prod` families and
    * pinned by Round12Spec's dial law (wider ⇒ smaller max bucket ⇒
    * smaller overestimate). Production sizing rule: w ≈ e/ε for an ε·N
    * overestimate bound — 4096 gives ε ≈ 6.6·10⁻⁴ of total points.
    */
  val CmsBucketBitsProd = 12

  /** Per-path CMS bucket assignments `(j, bucket)` — the collision census
    * frame `sketch_occupancy` audits (one row per path per depth row; a
    * bucket's occupancy is how many catalog paths share the counter).
    */
  private[graft] def cmsAssignments(spark: SparkSession, dir: String,
      bucketBits: Int): DataFrame = {
    val bs = cmsBuckets(bucketBits)
    Tables.metrics(spark, dir).select("path").distinct()
      .withColumn("h", graft.model.Portable.hash60(col("path")))
      .select(explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), bs(j).as("bucket"))): _*)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
  }

  /** The assignment frame as oracle CTEs (prefix-parameterized like the
    * dedup family builders): defines `<p>assign(j, bucket)` over the
    * `metrics` CTE, which the composer must provide.
    */
  private[graft] def cmsAssignCtes(p: String, bucketBits: Int): String = {
    val w = 1L << bucketBits
    val slices = (0 until CmsDepth).map(j =>
      s"SELECT $j AS j, (h // ${1L << (20 * j)}) % $w AS bucket FROM ${p}ph")
    s"""${p}ph AS (SELECT ${graft.model.Portable.hex2bigSql("md5(path)")} AS h
       |           FROM (SELECT DISTINCT path FROM metrics)),
       |${p}assign AS (${slices.mkString(" UNION ALL ")})""".stripMargin
  }

  /** [[topPaths]] at 100 TB: the exact op's per-path counters grow with
    * the path catalog — fine for carbon paths, unbounded for high-card
    * key streams (per-user, per-URL). This is the count-min answer: each
    * point increments [[CmsDepth]] bucket counters (sum-mergeable, so
    * partials merge across executors and flush slices like the rollup
    * state algebra), and a key's estimate is the MIN over its buckets —
    * never an underestimate (every occurrence incremented all its
    * buckets; collisions only ADD), which CarbonAnalyticsSpec pins along
    * with the width dial. The readoff probes the counter frame with the
    * path catalog and reports est next to exact — the ann_recall
    * self-measurement pattern ([[cmsTopFrom]] is shared with the
    * streaming twin, whose live state is the constant-size counter frame
    * itself).
    */
  def heavyHittersSketch(spark: SparkSession, dir: String): DataFrame =
    heavyHittersWith(spark, dir, CmsBucketBits)

  private[graft] def heavyHittersWith(spark: SparkSession, dir: String,
      bucketBits: Int): DataFrame = {
    val pc = pathCounts(spark, dir)
    cmsTopFrom(cmsCountersFrom(pc, bucketBits), pc, bucketBits)
  }

  private[graft] def pathCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.metrics(spark, dir).groupBy("path").agg(count(lit(1)).as("points"))

  /** The depth bucket expressions over an `h` (60-bit hash) column. */
  private[graft] def cmsBuckets(bucketBits: Int): Seq[Column] = {
    require(bucketBits >= 1 && bucketBits <= 20,
      "bucket bits must fit a 20-bit slice per depth row")
    val w = 1L << bucketBits
    (0 until CmsDepth).map(j => expr(s"(h DIV ${1L << (20 * j)}) % $w"))
  }

  /** The counter frame from a per-path count frame: depth rows per path,
    * summed per (j, bucket) — depth × w rows total.
    */
  private[graft] def cmsCountersFrom(counts: DataFrame, bucketBits: Int): DataFrame = {
    val bs = cmsBuckets(bucketBits)
    counts.withColumn("h", graft.model.Portable.hash60(col("path")))
      .select(col("points"), explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), bs(j).as("bucket"))): _*)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"), col("points"))
      .groupBy("j", "bucket")
      .agg(sum("points").as("c"))
  }

  /** Estimate readoff: probe the counter frame with the path catalog
    * (depth broadcast joins — the counter frame is depth × w rows, always
    * broadcastable), est = min over the key's buckets, exact rides along
    * as the measurement harness. Shared with `stream_heavy_hitters`,
    * which maintains the counters live and probes the drained frame the
    * same way.
    */
  private[graft] def cmsTopFrom(counters: DataFrame, counts: DataFrame,
      bucketBits: Int): DataFrame = {
    val bs = cmsBuckets(bucketBits)
    val withB = (0 until CmsDepth).foldLeft(
      counts.withColumn("h", graft.model.Portable.hash60(col("path")))) {
      (df, j) => df.withColumn(s"b$j", bs(j))
    }
    val probed = (0 until CmsDepth).foldLeft(withB) { (df, j) =>
      df.join(broadcast(counters.filter(col("j") === j)
        .select(col("bucket").as(s"b$j"), col("c").as(s"c$j"))), Seq(s"b$j"))
    }
    probed
      .withColumn("est_points", least((0 until CmsDepth).map(j => col(s"c$j")): _*))
      .select(col("path"), col("points"), col("est_points"),
        (col("est_points") - col("points")).as("over_est"))
      .orderBy(col("est_points").desc, col("path"))
      .limit(10)
  }

  private[graft] def heavyHittersSql(bucketBits: Int): String = {
    val w = 1L << bucketBits
    def b(j: Int, h: String) = s"($h // ${1L << (20 * j)}) % $w"
    val slices = (0 until CmsDepth).map(j =>
      s"SELECT $j AS j, ${b(j, "h")} AS bucket, points FROM ph")
    val joins = (0 until CmsDepth).map(j =>
      s"JOIN ctr c$j ON c$j.j = $j AND c$j.bucket = ${b(j, "p.h")}")
    val cs = (0 until CmsDepth).map(j => s"c$j.c").mkString(", ")
    s"""WITH ${Tables.metricsSql},
       |pc AS (SELECT path, CAST(count(*) AS BIGINT) AS points FROM metrics GROUP BY 1),
       |ph AS (SELECT path, points, ${graft.model.Portable.hex2bigSql("md5(path)")} AS h FROM pc),
       |ctr AS (
       |  SELECT j, bucket, CAST(sum(points) AS BIGINT) AS c
       |  FROM (${slices.mkString(" UNION ALL ")})
       |  GROUP BY 1, 2
       |)
       |SELECT p.path, p.points, least($cs) AS est_points,
       |       least($cs) - p.points AS over_est
       |FROM ph p
       |${joins.mkString("\n")}
       |ORDER BY est_points DESC, p.path LIMIT 10""".stripMargin
  }

  def ops: Seq[Op] = Seq(
    Op("carbon_parse", parse, Some(parseSql)),
    Op("carbon_receive_stats", receiveStats, Some(receiveStatsSql)),
    Op("peer_route", peerRoute, Some(peerRouteSql)),
    Op("peer_route64", peerRoute64, Some(peerRoute64Sql)),
    Op("peer_rebalance", peerRebalance, Some(peerRebalanceSql)),
    Op("peer_reload", peerReload, Some(peerReloadSql)),
    Op("value_quantiles", valueQuantiles, Some(valueQuantilesSql)),
    Op("value_quantiles_sketch", valueQuantilesSketch, Some(valueQuantilesSketchSql)),
    Op("top_paths", topPaths, Some(topPathsSql)),
    Op("heavy_hitters_sketch", heavyHittersSketch,
      Some(heavyHittersSql(CmsBucketBits)))
  )
}
