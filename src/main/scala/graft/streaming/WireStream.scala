package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Op
import graft.operators.{Carbon, Wire}

/** The LIVE form of the UDP framing contract: `carbon_reassemble` rewrote
  * the listener's remainder-carry loop (carbon_plaintext.go:149-207) as
  * batch algebra; this is the loop itself, as a per-connection state
  * machine over a packet STREAM — each read appends to the connection's
  * buffer, complete lines are dispatched, and the truncated tail is the
  * state carried to the next read. Exactly the daemon's runtime shape:
  * the reference never sees "all packets at once", it reassembles
  * forever.
  *
  * Scale posture: state is ONE tail string (< packet size) + a line
  * counter per connection — independent of stream length, the same
  * bounded-state contract as `stream_sessionize`. Per micro-batch each
  * connection's packets are sorted in memory (bounded by packets per
  * trigger per conn — UDP reads ARE ordered per socket; the sort models
  * that ordering, it does not buffer the stream).
  */
object WireStream {

  case class Packet(conn: Long, p: Long, payload: String)
  case class Carry(tail: String, next_line: Long)
  case class RawLine(conn: Long, line_no: Long, line: String)

  /** The remainder-carry state machine. Line numbering counts every
    * newline consumed (empty lines advance the counter but are not
    * dispatched), matching the batch algebra's `newlines_before + idx`
    * identity — so the two forms agree byte-for-byte on any cut geometry.
    */
  def reassemble(packets: Dataset[Packet]): Dataset[RawLine] = {
    implicit val ce = Encoders.product[Carry]
    implicit val re = Encoders.product[RawLine]
    implicit val kl = Encoders.scalaLong
    packets.groupByKey(_.conn)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (conn: Long, batch: Iterator[Packet], state: GroupState[Carry]) => {
          val start = state.getOption.getOrElse(Carry("", 0L))
          val buf = new StringBuilder(start.tail)
          batch.toSeq.sortBy(_.p).foreach(pk => buf.append(pk.payload))
          val parts = buf.toString.split("\n", -1)
          var no = start.next_line
          val out = Seq.newBuilder[RawLine]
          parts.dropRight(1).foreach { l =>
            if (l.nonEmpty) out += RawLine(conn, no, l)
            no += 1
          }
          state.update(Carry(parts.last, no))
          out.result().iterator
        })
  }

  /** Driver-oracled replay: the SAME packet fixture the batch op builds,
    * cut into three slices at `max(p) / 3` and `2 * max(p) / 3` and
    * replayed one slice per trigger ([[CarbonStream.replaySlices]]) — so
    * the carried tail genuinely crosses micro-batch boundaries (packet
    * cuts don't align to newlines, so most connections end a batch
    * mid-line). The memory
    * sink holds raw reassembled lines; the wire-format parse is applied
    * to the drained frame with the SAME shared [[Carbon.withParsedLine]]
    * the batch op uses. Oracle = `carbon_reassemble`'s SQL verbatim: a
    * finite stream must reassemble exactly what the batch algebra does.
    */
  def reassembleQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val pe = Encoders.product[Packet]
    val pkts = Wire.packets(spark, dir)
      .select(col("conn"), col("p"), col("payload")).persist()
    val relines = try {
      val mx = pkts.agg(max("p")).head().getLong(0)
      CarbonStream.replaySlices(CarbonStream.cutAt(pkts, col("p"), Seq(mx / 3, 2 * mx / 3))) { s =>
        CarbonStream.replay(reassemble(s.as[Packet]).toDF(), "append")
      }
    } finally pkts.unpersist(blocking = true)
    Carbon.withParsedLine(relines, "line")
      .select(
        col("conn"), col("line_no"), col("valid"), col("peer_cmd"),
        when(col("valid"), expr("try_element_at(p, 1)")).as("path"),
        when(col("valid"), col("v")).as("value"),
        when(col("valid"), col("t")).as("ts"))
  }

  def ops: Seq[Op] = Seq(
    Op("stream_reassemble", reassembleQuery, Some(Wire.reassembleSql))
  )
}
