package graft

import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** The REAL TCP front door — the reference's primary carbon transport
  * (carbonTCP + getTCPData, carbon_plaintext.go:68-123): an accept loop
  * hands each connection to its own reader, and each connection scans the
  * byte stream line-by-line with Go `bufio.Scanner` semantics — lines end
  * at `\n`, a trailing `\r` is stripped (ScanLines), and the final
  * unterminated token at EOF is still delivered as a line. Each
  * connection carries its OWN truncated tail (the per-conn state
  * `stream_reassemble` models); parse, buffering, counters, peering and
  * flush are the [[LineIngest]] base, so TCP, UDP, and the
  * batch/streaming reassembly operators all agree on what a line means.
  *
  * Driver-side by design, like [[UdpListener]] (one goroutine per
  * connection in the reference too); distribution starts at the staged
  * flush slice.
  */
final class TcpListener extends LineIngest {

  /** Connections accepted so far (the reference's conns gauge). */
  val connections = new AtomicLong(0)

  private val server = new ServerSocket(0, 64, InetAddress.getByName("127.0.0.1"))
  server.setSoTimeout(250)
  @volatile private var running = true
  private val handlers = new ConcurrentLinkedQueue[Thread]()

  private def dispatch(line: String): Unit = {
    // ScanLines strips one trailing \r; empty lines are skipped like the
    // UDP arm (Scanner would deliver them; metricHandler fails them — the
    // reference's TCP stream never sends bare newlines, so we mirror the
    // UDP loop's skip to keep the two arms' counters comparable)
    val l = line.stripSuffix("\r")
    if (l.nonEmpty) dispatchLine(l)
  }

  private def handle(conn: Socket): Unit = {
    conn.setSoTimeout(250)
    val in = conn.getInputStream
    val buf = new Array[Byte](16384)
    var carry = ""
    var open = true
    while (open && running) {
      try {
        val n = in.read(buf)
        if (n < 0) {
          // EOF: bufio.Scanner delivers the final unterminated token
          if (carry.nonEmpty) dispatch(carry)
          carry = ""
          open = false
        } else if (n > 0) {
          val data = carry + new String(buf, 0, n, "UTF-8")
          val parts = data.split("\n", -1)
          parts.dropRight(1).foreach(dispatch)
          carry = parts.last
        }
      } catch {
        case _: java.net.SocketTimeoutException => // poll the running flag
        case _: java.io.IOException => open = false
      }
    }
    try conn.close() catch { case _: java.io.IOException => }
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val conn = server.accept()
        connections.incrementAndGet()
        val t = new Thread(() => handle(conn), "graft-tcp-conn")
        t.setDaemon(true)
        handlers.add(t)
        t.start()
        // a long-lived daemon accepts unboundedly; drop finished readers
        // so the join list doesn't grow with total connections served
        handlers.removeIf(h => !h.isAlive && (h ne t))
      } catch {
        case _: java.net.SocketTimeoutException => // poll the running flag
        case _: java.net.SocketException if !running => // closed in stop()
      }
    }
  }, "graft-tcp-listener")
  acceptor.setDaemon(true)
  acceptor.start()

  def port: Int = server.getLocalPort

  def stop(): Unit = {
    running = false
    server.close()
    acceptor.join(2000)
    handlers.forEach(_.join(1000))
    forwarder.foreach(_.close())
  }
}
