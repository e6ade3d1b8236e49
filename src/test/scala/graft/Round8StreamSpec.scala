package graft

import java.io.PrintWriter
import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.ArrayBlockingQueue

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CarbonStream

/** Round-8 streaming gates: the live-ingest front door over a REAL TCP
  * socket (the reference's carbon plaintext listener shape,
  * listener/carbon_plaintext.go:60-200), and provider-invariance of the
  * watermarked dedup under the RocksDB state store.
  */
class Round8StreamSpec extends AnyFunSuite with TestSpark {

  test("a real TCP socket drives parse -> watermark -> append rollup end-to-end") {
    val server = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
    val writerQ = new ArrayBlockingQueue[PrintWriter](1)
    val acceptor = new Thread(() => {
      val s = server.accept()
      writerQ.put(new PrintWriter(s.getOutputStream, true))
    })
    acceptor.setDaemon(true)
    acceptor.start()

    val sink = "socket_rollup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val lines = spark.readStream.format("socket")
      .option("host", "127.0.0.1").option("port", server.getLocalPort).load()
    val q = CarbonStream.windowedRollup(
        CarbonStream.parseCarbonLines(lines), watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      val out = writerQ.take() // blocks until the source connected
      // two 60 s windows of data + two malformed lines the parser drops
      Seq("servers.web.cpu 1.50 70", "servers.web.cpu 2.50 80",
        "servers.db.mem 10.00 65",
        "servers.web.cpu 4.00 130",
        "not-a-metric", "servers.bad.value abc 70").foreach(out.println)
      // watermark pushers: emission happens in the batch AFTER the
      // watermark advances, and batches only run when data arrives — so
      // keep nudging with sentinel lines (filtered out of the
      // assertion) until all three data windows flush
      val deadline = System.currentTimeMillis() + 60000
      var wmTs = 400L
      def emitted() = spark.table(sink)
        .filter(col("path") =!= "sentinel.wm").count()
      while (emitted() < 3 && System.currentTimeMillis() < deadline) {
        out.println(s"sentinel.wm 0.00 $wmTs")
        wmTs += 100
        q.processAllAvailable()
      }
      val got = spark.table(sink)
        .filter(col("path") =!= "sentinel.wm")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set(
        ("servers.web.cpu", 120L, 2.0),   // (1.50 + 2.50) / 2
        ("servers.db.mem", 120L, 10.0),
        ("servers.web.cpu", 180L, 4.0)),
        "socket-fed append rollup emitted wrong windows")
    } finally {
      q.stop()
      spark.catalog.dropTempView(sink)
      server.close()
    }
  }

  test("stream_dedup_watermark output is state-store-provider invariant (RocksDB)") {
    def run(session: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("stream_dedup_watermark")(session, Sf)
        .collect().map(_.toString).sorted
    val hdfs = run(spark)
    val rocks = run(TestSpark.rocksDbSession())
    assert(rocks.sameElements(hdfs),
      "watermarked dedup emitted different rows under the RocksDB provider")
  }
}
