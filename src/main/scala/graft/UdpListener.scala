package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress}

/** The REAL UDP front door: a datagram socket receiving carbon plaintext,
  * reassembled with the reference listener's remainder-carry loop
  * (carbon_plaintext.go:149-207 — read a datagram, append to the carried
  * buffer, dispatch every complete line, keep the truncated tail), parsed
  * per metricHandler's rules (the [[LineIngest]] base it shares with
  * [[TcpListener]]), and staged as one parquet metric slice per flush —
  * the socket-to-slice bridge in front of [[Daemon]]'s ingest stream.
  *
  * Driver-side BY DESIGN, like [[graft.api.MetricsHttpServer]]: the
  * reference's listener is one socket-reader goroutine too. Distribution
  * starts at the staged slice (each flush is one micro-batch of the
  * Structured Streaming rollup query); horizontal scale = more listener
  * processes, exactly cassabon's peer model. Parse fidelity to the
  * Spark-side [[graft.operators.Carbon]] parse is SPEC-GATED: UdpSpec
  * replays the same lines through `Carbon.withParsedLine` and asserts the
  * listener's accepted rows match exactly.
  */
final class UdpListener extends LineIngest {

  private val socket = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
  socket.setSoTimeout(250)
  private var carry = ""
  @volatile private var running = true

  private val reader = new Thread(() => {
    val buf = new Array[Byte](16384) // the reference's datagram size
    while (running) {
      try {
        val pkt = new DatagramPacket(buf, buf.length)
        socket.receive(pkt)
        // the remainder-carry loop: buffer = carry + datagram, dispatch
        // complete lines, keep the truncated tail for the next read
        val data = carry + new String(pkt.getData, 0, pkt.getLength, "UTF-8")
        val parts = data.split("\n", -1)
        parts.dropRight(1).foreach(l => if (l.nonEmpty) dispatchLine(l))
        carry = parts.last
      } catch {
        case _: java.net.SocketTimeoutException => // poll the running flag
        case _: java.net.SocketException if !running => // closed in stop()
      }
    }
  }, "graft-udp-listener")
  reader.setDaemon(true)
  reader.start()

  def port: Int = socket.getLocalPort

  def stop(): Unit = {
    running = false
    socket.close()
    reader.join(2000)
    forwarder.foreach(_.close())
  }
}
