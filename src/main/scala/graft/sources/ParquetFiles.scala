package graft.sources

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** Parquet files written through Spark's own file writer and published by
  * rename, with no Hadoop commit protocol.
  *
  * Every file goes through `ParquetFileFormat.prepareWrite` →
  * `OutputWriterFactory.newInstance`, the writer `FileFormatWriter` uses,
  * so the format and the footer metadata (Spark's row schema and version)
  * are the ones a `df.write.parquet` produces. What is left out is the
  * committer: no `_temporary` tree, no task and job commit rounds, no
  * `_SUCCESS`. Each file is written under a hidden temp name in its final
  * directory ([[tempOf]]: a leading `.` and a `.tmp` suffix, so no
  * listing that skips hidden names or keeps only `.parquet` ever sees it)
  * and then renamed to its final name, which on one filesystem is atomic.
  *
  * A writer that dies between the two leaves a hidden temp behind; store
  * maintenance sweeps the old ones (`RollupStore.rewrite`).
  */
object ParquetFiles {

  private val TempSuffix = ".tmp"

  /** The hidden temp a file is written to before it is published. */
  private def tempOf(dest: Path): Path = new Path(dest.getParent, s".${dest.getName}$TempSuffix")

  /** Whether a file name is a [[tempOf]] name. */
  def isTemp(name: String): Boolean = name.startsWith(".") && name.endsWith(TempSuffix)

  private def finalOf(temp: Path): Path =
    new Path(temp.getParent, temp.getName.stripPrefix(".").stripSuffix(TempSuffix))

  /** Spark's parquet writer for rows of `schema`, prepared on the driver.
    * Serializable: a task carries the factory and the prepared Hadoop conf
    * (shipped as a `SerializableWritable`).
    */
  private final class Writer(factory: OutputWriterFactory,
      conf: SerializableWritable[Configuration], schema: StructType) extends Serializable {

    def context(partition: Int, attempt: Int): TaskAttemptContext =
      new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft", 0, TaskType.MAP, partition, attempt))

    def extension(ctx: TaskAttemptContext): String = factory.getFileExtension(ctx)

    def open(path: Path, ctx: TaskAttemptContext): OutputWriter =
      factory.newInstance(path.toString, schema, ctx)

    /** `rows` as one file at `path` (written even when there are none, so
      * the file still carries the schema).
      */
    def writeFile(rows: Iterator[InternalRow], path: Path, ctx: TaskAttemptContext): Unit = {
      val out = open(path, ctx)
      try rows.foreach(out.write) finally out.close()
    }
  }

  private def writer(spark: SparkSession, schema: StructType): Writer = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new Writer(factory, new SerializableWritable(job.getConfiguration), schema)
  }

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `f` over the rows of `df` as one SQL execution. */
  private def onRows[A](df: DataFrame)(f: RDD[InternalRow] => A): A = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("parquet files"))(f(qe.toRdd))
  }

  /** Rename each temp to its final name, checking every result: Hadoop
    * reports a failed rename by returning `false`, not by throwing. A
    * directory a concurrent maintenance swap tidied away is made again.
    */
  private def publish(fs: FileSystem, moves: Seq[(Path, Path)]): Unit =
    moves.foreach { case (temp, dest) =>
      val dir = dest.getParent
      if (!fs.exists(dir))
        require(fs.mkdirs(dir) || fs.exists(dir), s"publish: cannot create $dir")
      require(fs.rename(temp, dest), s"publish: rename $temp -> $dest failed")
    }

  /** Publish one file `dir/name` that `write` writes to the hidden temp
    * it is given; a failed write leaves no temp behind.
    */
  private def writeOne(spark: SparkSession, dir: String, name: String)(
      write: Path => Unit): Unit = {
    val dest = new Path(dir, name)
    val temp = tempOf(dest)
    val fs = fsOf(spark, dir)
    try write(temp) catch { case e: Throwable => fs.delete(temp, false); throw e }
    publish(fs, Seq(temp -> dest))
  }

  /** Write `rows` as one file `dir/name` on the calling thread, with no
    * Spark job: the rows are written to the hidden temp in `dir`, which is
    * then renamed to `name`. Nothing is created outside `dir`.
    */
  def stageRows(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow],
      dir: String, name: String): Unit = {
    val w = writer(spark, schema)
    writeOne(spark, dir, name)(w.writeFile(rows, _, w.context(0, 0)))
  }

  /** [[stageRows]] for a frame: one task writes all of `df` to the hidden
    * temp in `dir` (one Spark job), and the driver renames it to `name`.
    */
  def stage(df: DataFrame, dir: String, name: String): Unit = {
    val one = df.coalesce(1)
    val w = writer(df.sparkSession, one.schema)
    writeOne(df.sparkSession, dir, name) { temp =>
      onRows(one) { rdd =>
        if (rdd.getNumPartitions == 0) w.writeFile(Iterator.empty, temp, w.context(0, 0))
        else rdd.foreachPartition { rows =>
          val tc = TaskContext.get()
          w.writeFile(rows, temp, w.context(tc.partitionId(), tc.attemptNumber()))
        }
      }
    }
  }

  /** Append `rows` under `path`, in `partitionCols` directories named the
    * way Spark's writer names them (each value cast to a string in the
    * session time zone, then `ExternalCatalogUtils.getPartitionPathString`;
    * a null is the default partition), data columns only in the files.
    * Each task writes its own rows as hidden temps in their final
    * directories, one writer open at a time, rolling to a new file every
    * `maxRowsPerFile` rows, and returns the temp names; the driver then
    * renames each to its final name.
    *
    * One writer at a time means a task's rows must arrive grouped by
    * directory: the caller sorts each partition by `partitionCols`
    * (an unsorted task would open one file per run of equal values).
    * Files are named like Spark's, `part-<task>-<uuid>-c<n><ext>`.
    */
  def append(rows: DataFrame, path: String, partitionCols: Seq[String],
      maxRowsPerFile: Long): Unit = {
    val spark = rows.sparkSession
    val schema = rows.schema
    val dataIdx = schema.fields.indices.filterNot(i => partitionCols.contains(schema(i).name))
    val partIdx = partitionCols.map(schema.fieldIndex)
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val w = writer(spark, dataSchema)
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val uuid = UUID.randomUUID().toString
    def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
    val temps = onRows(rows)(_.mapPartitionsWithIndex { (task, it) =>
      val ctx = w.context(task, TaskContext.get().attemptNumber())
      val ext = w.extension(ctx)
      val data = UnsafeProjection.create(dataIdx.map(ref))
      val keys = UnsafeProjection.create(partIdx.map(ref))
      val names = UnsafeProjection.create(partIdx.map(i => Cast(ref(i), StringType, tz)))
      def dirOf(r: InternalRow): Path =
        if (partIdx.isEmpty) new Path(path)
        else {
          val v = names(r)
          new Path(path, partitionCols.indices.map { i =>
            ExternalCatalogUtils.getPartitionPathString(partitionCols(i),
              if (v.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              else v.getUTF8String(i).toString)
          }.mkString("/"))
        }
      val written = ArrayBuffer.empty[Path]
      var out: OutputWriter = null
      var key: InternalRow = null
      var inFile = 0L
      try {
        it.foreach { r =>
          val k = keys(r)
          if (out == null || inFile >= maxRowsPerFile || k != key) {
            if (out != null) out.close()
            out = null
            key = k.copy()
            val temp = tempOf(new Path(dirOf(r), f"part-$task%05d-$uuid-c${written.size}%03d$ext"))
            written += temp
            out = w.open(temp, ctx)
            inFile = 0
          }
          out.write(data(r))
          inFile += 1
        }
        if (out != null) out.close()
      } catch {
        case e: Throwable =>
          try if (out != null) out.close() catch { case _: Throwable => () }
          written.foreach(p => try p.getFileSystem(ctx.getConfiguration).delete(p, false)
            catch { case _: Throwable => () })
          throw e
      }
      written.iterator
    }.collect())
    publish(fsOf(spark, path), temps.toSeq.map(t => t -> finalOf(t)))
  }
}
