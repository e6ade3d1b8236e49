package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}

/** Carbon-line load generator against the REAL listener sockets — the
  * reference's devtools/stresstest.go re-expressed against graft's own
  * front door: the same six-stat tick group (`foo.bar.baz.{average,max,
  * min,sum,last,count}` with the 1..100 triangle-wave counter,
  * stresstest.go:97-133), the same tcp|udp choice and rate validation
  * (≥5, divisible by 5), paced by a tick interval. One graft extension:
  * `rate 0` = firehose (no pacing) — the measured MAX ingest rate for
  * BASELINE.md.
  *
  * The target is a live [[TcpListener]]/[[UdpListener]] in THIS process
  * (the unit the load exercises — per-conn Scanner semantics, the
  * shared [[LineIngest]] metricHandler, the accepted-row buffer); the
  * run ends with the listener's own received-ok/fail counters vs lines
  * sent, a staged flush to prove the rows land as a slice, and the
  * achieved lines/s.
  *
  * `runMain graft.StressTest [tcp|udp] [rate] [seconds]`
  */
object StressTest {

  def main(args: Array[String]): Unit = {
    val protocol = args.headOption.getOrElse("tcp")
    val rate = args.lift(1).map(_.toLong).getOrElse(30L)
    val seconds = args.lift(2).map(_.toInt).getOrElse(5)
    require(protocol == "tcp" || protocol == "udp",
      "protocol must be \"tcp\" or \"udp\"")
    require(rate == 0 || (rate >= 5 && rate % 5 == 0),
      "rate must be >= 5 and divisible by 5 (or 0 = firehose)")

    val spark = Harness.session(2, "graft-stress-test")

    val (port, receivedOk, receivedFail, flushFn, stopFn) =
      if (protocol == "tcp") {
        val l = new TcpListener
        (l.port, () => l.receivedOk.get(), () => l.receivedFail.get(),
          (dir: String) => l.flush(spark, dir, "stress.parquet"), () => l.stop())
      } else {
        val l = new UdpListener
        (l.port, () => l.receivedOk.get(), () => l.receivedFail.get(),
          (dir: String) => l.flush(spark, dir, "stress.parquet"), () => l.stop())
      }

    // six lines per group; pace groups so rate ≈ lines/s (firehose: none)
    val groupsPerSec = if (rate == 0) 0L else math.max(1L, rate / 6)
    val stats = Seq("average", "max", "min", "sum", "last", "count")
    var counter = 0.0
    var countUp = true
    var sent = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000L * 1000 * 1000

    def lines(): String = {
      if (countUp) { if (counter > 98.0) countUp = false; counter += 1.0 }
      else { if (counter < 3.0) countUp = true; counter -= 1.0 }
      val ts = System.currentTimeMillis() / 1000
      stats.map { s =>
        val v = if (s == "count") 5.0 else counter
        f"foo.bar.baz.$s $v%f $ts%d.000000\n"
      }.mkString
    }

    if (protocol == "tcp") {
      val conn = new Socket("127.0.0.1", port)
      val out = conn.getOutputStream
      while (System.nanoTime() < deadline) {
        val tickStart = System.nanoTime()
        out.write(lines().getBytes("UTF-8"))
        sent += 6
        if (groupsPerSec > 0) {
          val tickNanos = 1000L * 1000 * 1000 / groupsPerSec
          val sleepMs = (tickStart + tickNanos - System.nanoTime()) / 1000000
          if (sleepMs > 0) Thread.sleep(sleepMs)
        }
      }
      out.flush(); conn.close()
    } else {
      val sock = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      while (System.nanoTime() < deadline) {
        val tickStart = System.nanoTime()
        val payload = lines().getBytes("UTF-8")
        sock.send(new DatagramPacket(payload, payload.length, addr, port))
        sent += 6
        if (groupsPerSec > 0) {
          val tickNanos = 1000L * 1000 * 1000 / groupsPerSec
          val sleepMs = (tickStart + tickNanos - System.nanoTime()) / 1000000
          if (sleepMs > 0) Thread.sleep(sleepMs)
        }
      }
      sock.close()
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    // drain: EOF flushed the tcp tail; udp datagrams are self-framed —
    // give the listener thread a moment to finish parsing
    var waited = 0
    while (receivedOk() + receivedFail() < sent && waited < 50) {
      Thread.sleep(100); waited += 1
    }
    val srcDir = java.nio.file.Files.createTempDirectory("stress_flush").toString
    val staged = flushFn(srcDir)
    stopFn()
    println(f"STRESS_OK proto=$protocol sent=$sent%d ok=${receivedOk()}%d " +
      f"fail=${receivedFail()}%d staged=$staged%d " +
      f"achieved=${sent / wallSec}%.0f lines/s over $wallSec%.1f s")
    require(receivedOk() == sent && receivedFail() == 0,
      s"listener dropped or rejected lines: sent=$sent ok=${receivedOk()} " +
        s"fail=${receivedFail()} (udp at firehose rates can drop datagrams " +
        "by design — rerun paced)")
    require(staged == sent, s"flush staged $staged of $sent accepted rows")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(srcDir))
    spark.stop()
  }
}
