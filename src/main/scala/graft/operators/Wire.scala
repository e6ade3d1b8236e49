package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.Pearson
import graft.model.Tables

/** The TRANSPORT half of the carbon listener: datagram framing and peer
  * delivery (reference listener/carbon_plaintext.go UDP path +
  * listener/stubborntcpconn.go), downstream of the line parse in [[Carbon]].
  *
  * Two operators:
  *
  *  - `carbon_reassemble` — the UDP framing contract
  *    (carbon_plaintext.go:149-207): metric lines arrive split across
  *    packet boundaries, only complete lines may be dispatched, the
  *    truncated tail of each read is prepended to the next. Both engines
  *    build the identical packet fixture from the line stream, then
  *    reassemble and parse — so the round-trip is hash-gated end to end.
  *
  *  - `peer_forward` — the ownership split in metricHandler
  *    (carbon_plaintext.go:246-252): a valid metric whose path hashes to
  *    SELF is stored locally, anything else is forwarded to its owning
  *    peer over a StubbornTCPConn whose Send retries EXACTLY ONCE after a
  *    reconnect and then drops the line (stubborntcpconn.go:40-66).
  */
object Wire {

  // ---------------------------------------------------------------------
  // carbon_reassemble
  // ---------------------------------------------------------------------

  /** Concurrent sockets the line stream is spread over. The reference
    * listener reassembles ONE socket's buffer sequentially; per-connection
    * streams are the distributed generalization — every window/groupBy
    * below is partitioned by `conn`, so reassembly parallelism scales with
    * the listener socket count, never a single global task.
    */
  val Conns = 4

  /** Datagram payload size. The reference reads 16384-byte datagrams
    * (carbon_plaintext.go:150); 512 at fixture scale keeps the
    * lines-per-packet ratio (~15 lines/packet) comparable so boundary
    * splits actually occur.
    */
  val PacketBytes = 512

  /** The packet fixture: each connection's lines concatenated (newline
    * terminated) into a byte stream and cut every [[PacketBytes]] chars —
    * exactly what ReadFromUDP hands the listener. A line overlapping a cut
    * contributes one fragment to each packet it spans.
    *
    * Plan shape: one per-conn window cumsum for char offsets, a map-side
    * `sequence` explode of the (≤2 at this line length) packets each line
    * touches, one groupBy(conn, packet) re-concat. All keys carry `conn`.
    */
  private[graft] def packets(spark: SparkSession, dir: String): DataFrame = {
    val byLine = Window.partitionBy("conn").orderBy("line_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Carbon.lines(spark, dir)
      .withColumn("conn", col("line_id") % Conns)
      .withColumn("full", concat(col("line"), lit("\n")))
      .withColumn("len", length(col("full")).cast("long"))
      .withColumn("strt", coalesce(sum("len").over(byLine), lit(0L)))
      .withColumn("p",
        explode(expr(s"sequence(strt DIV $PacketBytes, (strt + len - 1) DIV $PacketBytes)")))
      .withColumn("seg_start", greatest(col("strt"), col("p") * PacketBytes))
      .withColumn("seg_end", least(col("strt") + col("len"), (col("p") + 1) * PacketBytes))
      .withColumn("frag", expr(
        "substring(full, CAST(seg_start - strt + 1 AS INT), CAST(seg_end - seg_start AS INT))"))
      .groupBy("conn", "p")
      .agg(concatInOrder(col("seg_start"), col("frag")).as("payload"))
  }

  /** Order-preserving string re-concat inside an aggregation: collect
    * (key, piece) pairs, sort by key, join. Buckets are bounded by
    * [[PacketBytes]] chars (packet payloads) or one line (reassembly), so
    * the collect_list is a constant-size buffer, not a data-scale one.
    */
  private def concatInOrder(key: org.apache.spark.sql.Column,
                            piece: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(
      transform(array_sort(collect_list(struct(key.as("k"), piece.as("s")))),
        x => x.getField("s")),
      "")

  /** Reassemble complete lines from the packet stream and parse them.
    *
    * The framing identity: a fragment at 0-based index `i` within its
    * packet (fragments = the packet payload split on newline, empties
    * kept) belongs to global line `newlines_before_packet + i` — empty
    * boundary fragments land on the right line and concatenate away, so
    * no alignment of cuts to newlines is ever assumed. This is
    * carbon_plaintext.go:163-182's remainder-carry rewritten as algebra:
    * the "truncated tail saved for the next read" is just the fragment
    * whose line index continues into the next packet.
    *
    * Output: one parsed row per reassembled line, keyed (conn, line_no) —
    * the same parse columns `carbon_parse` emits, so WireSpec can assert
    * the round-trip against the pre-framing stream.
    */
  def reassemble(spark: SparkSession, dir: String): DataFrame = {
    val byPacket = Window.partitionBy("conn").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frags = packets(spark, dir)
      .withColumn("arr", split(col("payload"), "\n", -1))
      .withColumn("nl", (size(col("arr")) - 1).cast("long"))
      .withColumn("nl_before", coalesce(sum("nl").over(byPacket), lit(0L)))
      .select(col("conn"), col("p"), col("nl_before"),
        posexplode(col("arr")).as(Seq("idx", "frag")))
      .withColumn("line_no", col("nl_before") + col("idx"))
    val relines = frags
      .groupBy("conn", "line_no")
      .agg(concatInOrder(col("p"), col("frag")).as("line"))
      // the char run after a conn's final newline is an unterminated tail
      // the listener would hold, never dispatch; here the stream ends
      // newline-aligned so that tail is empty — and only it can be.
      .filter(col("line") =!= "")
    Carbon.withParsedLine(relines, "line")
      .select(
        col("conn"), col("line_no"), col("valid"), col("peer_cmd"),
        when(col("valid"), expr("try_element_at(p, 1)")).as("path"),
        when(col("valid"), col("v")).as("value"),
        when(col("valid"), col("t")).as("ts"))
  }

  // DuckDB `sum(BIGINT)` promotes to HUGEINT (the graft.model.Portable
  // rule): both running offsets are CAST back to BIGINT or
  // generate_series refuses the argument type and line_no drifts type.
  private[graft] val reassembleSql: String =
    s"""WITH ${Carbon.linesSql},
       |conns AS (
       |  SELECT line_id, line_id % $Conns AS conn, line || chr(10) AS fline
       |  FROM lines),
       |offs AS (
       |  SELECT conn, line_id, fline, CAST(length(fline) AS BIGINT) AS len,
       |         CAST(coalesce(sum(CAST(length(fline) AS BIGINT)) OVER (
       |             PARTITION BY conn ORDER BY line_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
       |  FROM conns),
       |spans AS (
       |  SELECT conn, strt, len, fline,
       |         unnest(generate_series(strt // $PacketBytes,
       |                                (strt + len - 1) // $PacketBytes)) AS p
       |  FROM offs),
       |pieces AS (
       |  SELECT conn, p,
       |         greatest(strt, p * $PacketBytes) AS seg_start,
       |         substr(fline,
       |                CAST(greatest(strt, p * $PacketBytes) - strt + 1 AS INT),
       |                CAST(least(strt + len, (p + 1) * $PacketBytes)
       |                     - greatest(strt, p * $PacketBytes) AS INT)) AS frag
       |  FROM spans),
       |packets AS (
       |  SELECT conn, p, string_agg(frag, '' ORDER BY seg_start) AS payload
       |  FROM pieces GROUP BY 1, 2),
       |parr AS (
       |  SELECT conn, p, string_split(payload, chr(10)) AS arr FROM packets),
       |pnl AS (
       |  SELECT conn, p, arr,
       |         CAST(coalesce(sum(CAST(len(arr) - 1 AS BIGINT)) OVER (
       |             PARTITION BY conn ORDER BY p
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nl_before
       |  FROM parr),
       |pf AS (
       |  SELECT conn, p, nl_before,
       |         unnest(arr) AS frag,
       |         unnest(generate_series(1, len(arr))) AS idx
       |  FROM pnl),
       |relines AS (
       |  SELECT conn, nl_before + idx - 1 AS line_no,
       |         string_agg(frag, '' ORDER BY p) AS line
       |  FROM pf GROUP BY 1, 2
       |  HAVING string_agg(frag, '' ORDER BY p) <> ''),
       |${Carbon.parsedCtesSql("relines", "conn, line_no")}
       |SELECT conn, line_no, valid, peer_cmd, path, value, ts FROM parsed""".stripMargin

  // ---------------------------------------------------------------------
  // peer_forward
  // ---------------------------------------------------------------------

  /** Peers take staggered outages: peer `n` is unreachable during every
    * 600-second slot where `(slot + n) % 7 == 0` — a deterministic,
    * range-agnostic schedule both engines compute from the data.
    */
  val DownSlotSec = 600
  val DownSlotMod = 7

  /** Transient single-write failures (the connection died since the last
    * send, but the peer is up): one per [[BlipMod]] forwarded points. The
    * reconnect succeeds and the line is delivered on the second attempt —
    * Send's `retriesRemaining = 2` path (stubborntcpconn.go:43-66).
    */
  val BlipMod = 101

  /** The keep-vs-forward split plus delivery accounting, from self =
    * peer 0's perspective. Valid metrics only (malformed lines and peer
    * commands never reach routing — metricHandler rejects/consumes them
    * first); owner = `pearson_hash8(path) % N` exactly as `peer_route`.
    *
    * Per-line verdict, encoding Send's control flow: peer DOWN → the
    * write fails, the reconnect fails, retries exhaust → `dropped`
    * (cassabon accepts this loss rather than buffering unboundedly);
    * transient blip → reconnect succeeds, second write lands → `retried`;
    * otherwise → `delivered` first try. Self-owned lines skip the network
    * entirely → `kept_points`.
    *
    * Plan shape: the parse is map-only, the verdict is map-only column
    * algebra on (owner, ts), and the only exchange is the final
    * N-row groupBy(peer) with map-side partials. NO row-level filter:
    * `filter(valid)` here measured 5× the parse cost, because Catalyst
    * pushes deterministic predicates through Project chains by ALIAS
    * SUBSTITUTION with no cost model — the pushed predicate inlined the
    * whole line-derivation once per conjunct (peer_cmd, arity, value,
    * ts). Instead invalid lines keep their null owner, land (via
    * coalesce) in self's group, and contribute 0 to every
    * `valid`-guarded sum — one parse pass, nothing to push.
    */
  def peerForward(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    val ok = col("valid")
    Carbon.parsedFull(spark, dir)
      .withColumn("owner", expr(s"pearson_hash8(path) % ${Carbon.PeerCount}"))
      .withColumn("down",
        (expr(s"ts DIV $DownSlotSec") + col("owner")) % DownSlotMod === 0)
      .withColumn("blip", (col("ts") + col("owner")) % BlipMod === 0)
      .groupBy(coalesce(col("owner"), lit(0)).cast("int").as("peer"))
      .agg(
        sum(when(ok && col("owner") === 0, 1L).otherwise(0L)).as("kept_points"),
        sum(when(ok && col("owner") =!= 0, 1L).otherwise(0L)).as("fwd_points"),
        sum(when(ok && col("owner") =!= 0 && !col("down") && !col("blip"), 1L)
          .otherwise(0L)).as("delivered"),
        sum(when(ok && col("owner") =!= 0 && !col("down") && col("blip"), 1L)
          .otherwise(0L)).as("retried"),
        sum(when(ok && col("owner") =!= 0 && col("down"), 1L).otherwise(0L))
          .as("dropped"))
  }

  // ownership is hashed per DISTINCT path (config-sized), not per line —
  // the peerRouteSql oracle shape (the inlined Pearson chain is the whole
  // oracle cost at point-row cardinality); invalid lines carry a NULL
  // path, miss the join, and coalesce into peer 0 exactly as before
  private val peerForwardSql: String =
    s"""WITH ${Carbon.parsedFullSql},
       |pfh AS MATERIALIZED (
       |  SELECT path, ${Pearson.hash8Sql("path")} % ${Carbon.PeerCount} AS owner
       |  FROM (SELECT DISTINCT path FROM parsed WHERE path IS NOT NULL)),
       |routed AS (
       |  SELECT p.ts, p.valid, h.owner
       |  FROM parsed p LEFT JOIN pfh h ON p.path = h.path),
       |verdict AS (
       |  SELECT valid, owner,
       |         ((ts // $DownSlotSec + owner) % $DownSlotMod = 0) AS down,
       |         ((ts + owner) % $BlipMod = 0) AS blip
       |  FROM routed)
       |SELECT CAST(coalesce(owner, 0) AS INT) AS peer,
       |       CAST(sum(CASE WHEN valid AND owner = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_points,
       |       CAST(sum(CASE WHEN valid AND owner <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS fwd_points,
       |       CAST(sum(CASE WHEN valid AND owner <> 0 AND NOT down AND NOT blip THEN 1 ELSE 0 END) AS BIGINT) AS delivered,
       |       CAST(sum(CASE WHEN valid AND owner <> 0 AND NOT down AND blip THEN 1 ELSE 0 END) AS BIGINT) AS retried,
       |       CAST(sum(CASE WHEN valid AND owner <> 0 AND down THEN 1 ELSE 0 END) AS BIGINT) AS dropped
       |FROM verdict GROUP BY 1""".stripMargin

  def ops: Seq[Op] = Seq(
    Op("carbon_reassemble", reassemble, Some(reassembleSql)),
    Op("peer_forward", peerForward, Some(peerForwardSql))
  )
}
