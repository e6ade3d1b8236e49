package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The listener-side metricHandler (carbon_plaintext.go:208-243): the base
  * of the UDP and TCP front doors, so the two transports cannot drift.
  * A listener adds only its socket loop, [[port]] and [[stop]]. Rules:
  * peer wire-commands are inspected FIRST on the raw line and bump
  * neither receive counter; metrics tokenize with Fields (any whitespace
  * runs), need exactly 3 fields, value parses as float, ts parses as
  * float and floors. Accepted rows buffer in arrival order (`event_id` =
  * arrival index — the LAST tiebreak key) until a flush stages them as
  * ONE parquet slice for the daemon's rollup stream.
  *
  * PEERING (off by default — single-node ingest keeps everything): once
  * [[enablePeering]] installs a [[PeerRing]], every accepted metric takes
  * the isMine split (carbon_plaintext.go:246-252): owned lines buffer
  * locally, non-owned lines ship to the owning peer's carbon socket over
  * a [[StubbornConn]] — the reference's live forwarding path, which a
  * 2-node deployment needs so no node double-counts paths it doesn't
  * own. A valid, CHANGED `<<peerlist={json}>>` wire command then flushes
  * pending rows (via [[onPeerChange]] — the daemon stages them as a
  * slice under the OLD ring) and swaps the ring for subsequent lines
  * (processPeerCommand, carbon_plaintext.go:258-283).
  */
private[graft] abstract class LineIngest {

  /** The bound receive port. */
  def port: Int

  /** Close the socket, join the reader threads, close the forwarder. */
  def stop(): Unit

  /** received-ok / received-fail / peer-command counters — the listener's
    * statsd emissions (carbon_plaintext.go:219-243, logging/stats.go).
    */
  val receivedOk = new AtomicLong(0)
  val receivedFail = new AtomicLong(0)
  val peerCmds = new AtomicLong(0)
  /** Rejected peer commands — carbon.err.peer.validate / .cmd
    * (carbon_plaintext.go:264-282). Only bumped in peering mode; the
    * single-node form records commands without judging them.
    */
  val peerCmdErrors = new AtomicLong(0)
  /** Metric lines shipped to their owning peer instead of buffered. */
  val forwardedLines = new AtomicLong(0)
  /** Last peer wire-command payload seen (`<<name=payload>>`). */
  val lastPeerCmd = new AtomicReference[(String, String)]()

  @volatile private var ring: PeerRing = _
  private var fwd: PeerForwarder = _
  /** Daemon hook, invoked BEFORE the ring swaps on a changed valid
    * peerlist (the reference's "flushing and reloading": pending rows
    * were accepted under the old ring and must land as a slice first).
    */
  @volatile var onPeerChange: Map[String, String] => Unit = _

  /** This listener's advertised carbon address — peer FORWARDING is TCP
    * in the reference whatever the receive transport, so the address a
    * UDP node advertises in the peers map must be its TCP twin's; for
    * the isMine split itself only ring membership matters.
    */
  def selfHostPort: String = "127.0.0.1:" + port

  /** Install the isMine split: [[selfHostPort]] must appear among `peers`
    * values ([[graft.model.PeerList]] front-door rules).
    */
  def enablePeering(peers: Map[String, String],
      forwarder: PeerForwarder = new PeerForwarder()): Unit = {
    graft.model.PeerList.validate(selfHostPort, peers).left.foreach(e => throw new IllegalArgumentException(e))
    fwd = forwarder
    ring = new PeerRing(selfHostPort, peers)
  }

  def peerRing: Option[PeerRing] = Option(ring)
  def forwarder: Option[PeerForwarder] = Option(fwd)

  private val buffered = ArrayBuffer.empty[(String, Double, Long, Long)]
  private val arrivals = new AtomicLong(0)

  private val peerCmdRe = "^<<([a-z]+)=(.*)>>$".r
  // plain decimal/scientific floats only — the dialect Go's ParseFloat and
  // Spark's try_cast share; Java's parseDouble ALSO accepts hex floats and
  // d/f suffixes, which would silently diverge from both engines
  private val numRe = "[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?".r

  private def parseNum(s: String): Option[Double] = s match {
    case numRe(_*) =>
      try Some(java.lang.Double.parseDouble(s))
      catch { case _: NumberFormatException => None }
    case _ => None
  }

  protected def dispatchLine(line: String): Unit = line match {
    case peerCmdRe(cmd, payload) =>
      peerCmds.incrementAndGet()
      lastPeerCmd.set((cmd, payload))
      if (ring != null) processPeerCommand(cmd, payload)
    case _ =>
      val fields = line.trim.split("\\s+").filter(_.nonEmpty)
      val parsed =
        if (fields.length != 3) None
        else for (v <- parseNum(fields(1)); t <- parseNum(fields(2)))
          yield (fields(0), v, math.floor(t).toLong)
      parsed match {
        case Some((path, v, t)) =>
          // isMine split (carbon_plaintext.go:246-252): owned → local
          // buffer, non-owned → the ORIGINAL line to the owning peer.
          // ReceiveOK bumps on BOTH branches, like the reference.
          val r = ring
          val mineOrSingle = r == null || {
            val (idx, mine) = r.ownerOf(path)
            if (!mine) {
              forwardedLines.incrementAndGet()
              fwd.send(r.ring(idx), line)
            }
            mine
          }
          if (mineOrSingle) {
            buffered.synchronized {
              buffered += ((path, v, t, arrivals.getAndIncrement()))
            }
          }
          receivedOk.incrementAndGet(): Unit
        case None =>
          receivedFail.incrementAndGet(): Unit
      }
  }

  /** processPeerCommand (carbon_plaintext.go:258-283): only `peerlist` is
    * a known command; its payload must unmarshal, validate against this
    * listener's own address, and DIFFER from the ring in use before
    * anything happens — then pending rows flush (daemon hook) and the
    * ring swaps. Every rejection path only bumps the error counter, like
    * the reference's warn-and-continue.
    */
  private def processPeerCommand(cmd: String, payload: String): Unit = cmd match {
    case "peerlist" =>
      graft.model.PeerList.parseWirePayload(payload) match {
        case Some(peers) if graft.model.PeerList.validate(ring.selfHostPort, peers).isRight =>
          if (!ring.isEqual(ring.selfHostPort, peers)) {
            val cb = onPeerChange
            if (cb != null) cb(peers)
            ring = new PeerRing(ring.selfHostPort, peers)
            fwd.reconcile(ring)
          }
        case _ =>
          peerCmdErrors.incrementAndGet(): Unit
      }
    case _ =>
      peerCmdErrors.incrementAndGet(): Unit
  }

  /** Number of metric rows accepted and not yet flushed. */
  def pending: Int = buffered.synchronized(buffered.size)

  /** Unflushed accepted rows, in arrival order (spec surface). */
  def snapshot: Vector[(String, Double, Long, Long)] =
    buffered.synchronized(buffered.toVector)

  /** Drain the accepted rows into ONE staged parquet slice in `srcDir`
    * (the flush-cycle unit [[Daemon.stageSlice]] documents) and return
    * how many rows flushed. The rows are already on the driver, so they
    * are written there, with no Spark job: to a hidden temp in `srcDir`,
    * then renamed to `name` ([[graft.sources.ParquetFiles.stageRows]]).
    */
  def flush(spark: SparkSession, srcDir: String, name: String): Int = {
    val rows = buffered.synchronized {
      val snap = buffered.toVector
      buffered.clear()
      snap
    }
    if (rows.nonEmpty)
      graft.sources.ParquetFiles.stageRows(spark, LineIngest.SliceSchema,
        rows.iterator.map { case (path, value, ts, id) =>
          InternalRow(UTF8String.fromString(path), value, ts, id)
        }, srcDir, name)
    rows.size
  }
}

private[graft] object LineIngest {
  /** A staged slice's columns: the metric rows the flush query reads. */
  val SliceSchema: StructType =
    StructType.fromDDL("path STRING, value DOUBLE NOT NULL, ts BIGINT NOT NULL, " +
      "event_id BIGINT NOT NULL")
}
