package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs; sf0.001 fixtures. */
trait TestSpark extends BeforeAndAfterAll { self: Suite =>
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSpark.session

  override def afterAll(): Unit = super.afterAll()

  /** Names `body` created directly in `java.io.tmpdir`, even ones it
    * deleted again before returning.
    */
  def createdInTmpdir(body: => Unit): Seq[String] = {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ws = dir.getFileSystem.newWatchService()
    try {
      dir.register(ws, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
      body
      Option(ws.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)).toSeq
        .flatMap(_.pollEvents().asScala.map(_.context().toString))
    } finally ws.close()
  }
}

object TestSpark {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session on the spec context whose stateful streams keep their
    * state in RocksDB: Spark's own provider conf, set where it is built.
    */
  def rocksDbSession(): SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }
}
