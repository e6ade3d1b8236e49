package graft

import java.net.Socket

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Pearson

/** Live peer forwarding — the last reference listener behavior with no
  * live form in r11 (VERDICT missing #1/#2): the isMine split
  * (carbon_plaintext.go:246-252), StubbornTCPConn's two-attempt send
  * (stubborntcpconn.go:40-66), and acting on a `<<peerlist={json}>>`
  * wire command (flush pending, swap the ring —
  * carbon_plaintext.go:258-283). Two REAL loopback listeners: non-owned
  * lines must land on the owner, the local buffer must hold only owned
  * paths, and the delivery ledger must reconcile with the BATCH owner
  * split computed by the same `pearson_hash8 % N` the `peer_forward`
  * operator uses.
  */
class PeerForwardSpec extends AnyFunSuite with TestSpark {
  import StubbornConn._

  private def eventually[A](what: String, deadlineMs: Long = 8000)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  private def sendLines(port: Int, lines: Seq[String]): Unit = {
    val s = new Socket("127.0.0.1", port)
    try {
      val out = s.getOutputStream
      lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
      out.flush()
    } finally s.close()
  }

  // ------------------------------------------- StubbornConn control flow

  /** Seamed conn: dial always succeeds (unconnected socket — writeLine is
    * overridden so it is never used), writes fail `failWrites` times.
    */
  private class FakeConn(failWrites: Int) extends StubbornConn("127.0.0.1:9") {
    var writes = 0
    var fails = failWrites
    override protected def dial(): java.net.Socket = new java.net.Socket()
    override protected def writeLine(s: java.net.Socket, line: String): Unit = {
      writes += 1
      if (fails > 0) { fails -= 1; throw new java.io.IOException("fake") }
    }
  }

  test("StubbornConn: first-try write is Delivered, one write per line") {
    val c = new FakeConn(0)
    assert(c.send("x 1 2") == Delivered)
    assert(c.writes == 1, "a first-try success must not double-write (go:58-61)")
    assert(c.send("x 1 3") == Delivered) // link stays open across sends
    assert(c.writes == 2)
  }

  test("StubbornConn: failed write reopens and rewrites once — Retried") {
    val c = new FakeConn(1)
    assert(c.send("x 1 2") == Retried)
    assert(c.writes == 2, "exactly one retry (retriesRemaining = 2, go:43)")
  }

  test("StubbornConn: both attempts fail — Dropped, retries exhausted") {
    val c = new FakeConn(2)
    assert(c.send("x 1 2") == Dropped)
    assert(c.writes == 2)
  }

  test("StubbornConn: unopenable peer is Dropped without a write") {
    val c = new StubbornConn("127.0.0.1:1") { // port 1: connection refused
      var writes = 0
      override protected def writeLine(s: java.net.Socket, line: String): Unit =
        fail("must not write on a failed open")
    }
    assert(c.send("x 1 2") == Dropped)
  }

  // ------------------------------------------------- live two-node split

  test("isMine split: owned lines buffer locally, non-owned land on the owning peer") {
    val a = new TcpListener
    val b = new TcpListener
    try {
      val peers = Map("a" -> a.selfHostPort, "b" -> b.selfHostPort)
      a.enablePeering(peers)
      // ring = values by sorted key: ring(0)=a, ring(1)=b — A owns hash%2==0
      val paths = (1 to 40).map(i => s"servers.fwd.p$i")
      def owner(p: String): Int =
        Pearson.hash8(org.apache.spark.unsafe.types.UTF8String.fromString(p)) % 2
      val lines = paths.zipWithIndex.map { case (p, i) => s"$p ${i + 1}.0 ${1700000000 + i}" }
      val malformed = Seq("broken line", "p notanumber 5")
      sendLines(a.port, lines ++ malformed :+ "<<bogus=1>>")

      val wantMine = paths.filter(owner(_) == 0)
      val wantFwd = paths.filter(owner(_) == 1)
      // the command is the LAST line on the one connection — once its
      // counter bumps, every earlier line has been dispatched
      eventually("A to process the whole feed")(a.peerCmds.get == 1)
      eventually("B to receive every forwarded line")(b.pending == wantFwd.size)
      assert(a.pending == wantMine.size)

      assert(a.snapshot.map(_._1) == wantMine.toVector, "A buffers exactly the owned paths, in arrival order")
      assert(b.snapshot.map(_._1) == wantFwd.toVector, "B receives exactly the forwarded paths, in send order")
      // ReceiveOK bumps on BOTH branches (go:254), fails only on malformed
      assert(a.receivedOk.get == paths.size.toLong)
      assert(a.receivedFail.get == malformed.size.toLong)
      assert(a.forwardedLines.get == wantFwd.size.toLong)
      // an unknown command is counted AND rejected in peering mode (go:279-282)
      assert(a.peerCmds.get == 1 && a.peerCmdErrors.get == 1)

      // the delivery ledger reconciles with the BATCH split on the same
      // lines — the same pearson_hash8 % N expression peer_forward uses
      val fwd = a.forwarder.get
      assert(fwd.delivered.get == wantFwd.size.toLong && fwd.retried.get == 0 && fwd.dropped.get == 0)
      graft.functions.GraftExtensions.register(spark)
      import spark.implicits._
      val batch = paths.toDF("path")
        .groupBy(expr("pearson_hash8(path) % 2").as("peer")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(batch(0) == a.pending.toLong && batch(1) == fwd.delivered.get)
    } finally { a.stop(); b.stop() }
  }

  // -------------------------------------------------- peerlist live swap

  test("a valid changed <<peerlist>> flushes pending (hook) and swaps the ring") {
    val a = new TcpListener
    try {
      a.enablePeering(Map("a" -> a.selfHostPort)) // self-only: everything mine
      var flushes = 0
      var pendingAtFlush = -1
      a.onPeerChange = _ => { flushes += 1; pendingAtFlush = a.pending }
      val pre = (1 to 4).map(i => s"servers.swap.p$i ${i}.0 ${1700000000 + i}")
      val newList = s"""{"a":"${a.selfHostPort}","b":"127.0.0.1:1"}"""
      sendLines(a.port, pre :+ s"<<peerlist=$newList>>")
      eventually("the ring to swap")(a.peerRing.exists(_.ring.length == 2))
      assert(flushes == 1 && pendingAtFlush == 4,
        "the flush hook must fire BEFORE the swap, with the old-ring rows pending")

      // rejected payloads leave the ring alone: empty map, local addr missing
      sendLines(a.port, Seq("<<peerlist={}>>",
        """<<peerlist={"x":"10.0.0.9:2003"}>>""",
        s"<<peerlist=$newList>>")) // unchanged list: valid, NOT a change
      eventually("command counters")(a.peerCmds.get == 4)
      assert(a.peerCmdErrors.get == 2)
      assert(flushes == 1, "an unchanged or invalid list must not flush/swap (IsEqual gate)")

      // post-swap routing: non-owned paths try the dead peer and drop
      def owner(p: String): Int =
        Pearson.hash8(org.apache.spark.unsafe.types.UTF8String.fromString(p)) % 2
      val post = (1 to 20).map(i => s"servers.post.p$i")
      sendLines(a.port, post.map(p => s"$p 1.0 1700000100"))
      val wantFwd = post.count(owner(_) == 1)
      eventually("post-swap lines to route")(
        a.receivedOk.get == (4 + post.size).toLong)
      assert(a.forwarder.exists(_.dropped.get == wantFwd.toLong))
      assert(a.snapshot.count(r => r._1.startsWith("servers.post")) == post.size - wantFwd)
    } finally a.stop()
  }
}
