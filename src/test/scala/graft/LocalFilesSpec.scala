package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFiles
import graft.streaming.CarbonStream

/** `graft.sources.LocalFiles`, the local filesystem graft writes its own
  * files and checkpoints through:
  *
  *  - scheme-less and `file:` paths map onto it, made absolute; any other
  *    scheme is left alone;
  *  - a file it creates gets the permissions Hadoop's local filesystem
  *    gives, with the same `.crc` side file;
  *  - Spark's "Could not use FileContext API" WARN, logged once per
  *    checkpoint log and state store on this scheme, is dropped by the
  *    scoped log4j filter, while the same WARN for another path still
  *    shows.
  */
class LocalFilesSpec extends AnyFunSuite with TestSpark {

  test("local paths map onto graftfile:, other schemes are left alone") {
    assert(LocalFiles.path("/tmp/a b/tbl=x").toString == "graftfile:/tmp/a b/tbl=x")
    assert(LocalFiles.path("file:/tmp/x").toString == "graftfile:/tmp/x")
    assert(LocalFiles.path("file:///tmp/x").toString == "graftfile:/tmp/x")
    assert(LocalFiles.path("rel/x").toString ==
      "graftfile:" + new java.io.File("rel/x").getAbsolutePath)
    assert(LocalFiles.path("hdfs://nn:8020/x").toString == "hdfs://nn:8020/x")
    assert(LocalFiles.path(LocalFiles.path("/tmp/x").toString) == LocalFiles.path("/tmp/x"))
  }

  test("a created file gets Hadoop's local permissions and checksum file") {
    val dir = Files.createTempDirectory("local_files_perm")
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      def write(p: Path): Unit = {
        val out = p.getFileSystem(conf).create(p, true)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
      }
      write(new Path(s"file:$dir/hadoop/f"))
      write(LocalFiles.path(s"$dir/graft/f"))
      def perms(sub: String, name: String) =
        Files.getPosixFilePermissions(dir.resolve(sub).resolve(name))
      assert(perms("graft", "f") == perms("hadoop", "f"))
      assert(perms("graft", ".f.crc") == perms("hadoop", ".f.crc"))
      assert(perms("graft", ".") == perms("hadoop", "."))
      assert(Files.readAllBytes(dir.resolve("graft/.f.crc")).toSeq ==
        Files.readAllBytes(dir.resolve("hadoop/.f.crc")).toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the FileContext WARN is dropped for a graftfile: checkpoint only") {
    val name = "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager"
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("local-files-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    def fileContextWarns = seen.asScala.toSeq.filter(_.contains("Could not use FileContext API"))
    try {
      assert(CarbonStream.rollupQuery(spark, Sf).count() > 0)
      assert(fileContextWarns.isEmpty, s"a graftfile: replay logged ${fileContextWarns.take(2)}")
      val log = LogManager.getLogger(name)
      log.warn(s"Could not use FileContext API for managing Structured Streaming checkpoint " +
        s"files at ${LocalFiles.path("/tmp/chk")}. Using FileSystem API instead")
      assert(fileContextWarns.isEmpty)
      log.warn("Could not use FileContext API for managing Structured Streaming checkpoint " +
        "files at s3a://bucket/chk. Using FileSystem API instead")
      assert(fileContextWarns.size == 1, "the filter must keep the WARN for other schemes")
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
