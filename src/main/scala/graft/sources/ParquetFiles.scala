package graft.sources

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.{RDD, UnionRDD}
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
  *
  * Local files are written and renamed through [[LocalFiles]], which
  * starts no process per file; the paths callers pass and see are
  * unchanged.
  *
  * Three writes: [[stageRows]] (driver rows, no Spark job: the wire
  * listeners' flush slices), [[stage]] (frames as one file each, all in
  * one job: the daemon's staged slices and every stream replay's
  * fixture, `CarbonStream.replaySlices`) and [[append]] (a partitioned
  * store append or maintenance's staged fold output).
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
    LocalFiles.path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `f` over the rows of each of `dfs`, each frame planned in its own
    * SQL execution (nested, so `f` runs inside all of them).
    */
  private def onRows[A](dfs: Seq[DataFrame])(f: Seq[RDD[InternalRow]] => A): A =
    dfs match {
      case Seq() => f(Nil)
      case df +: rest =>
        val qe = df.queryExecution
        SQLExecution.withNewExecutionId(qe, Some("parquet files")) {
          val rdd = qe.toRdd
          onRows(rest)(rdds => f(rdd +: rdds))
        }
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

  /** Write `rows` as one file `dir/name` on the calling thread, with no
    * Spark job: the rows are written to the hidden temp in `dir`, which is
    * then renamed to `name`. Nothing is created outside `dir`; a failed
    * write leaves no temp behind.
    */
  def stageRows(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow],
      dir: String, name: String): Unit = {
    val w = writer(spark, schema)
    val dest = new Path(LocalFiles.path(dir), name)
    val temp = tempOf(dest)
    val fs = fsOf(spark, dir)
    try w.writeFile(rows, temp, w.context(0, 0))
    catch { case e: Throwable => fs.delete(temp, false); throw e }
    publish(fs, Seq(temp -> dest))
  }

  /** [[stageRows]] for a frame: the one-slice [[stage]]. */
  def stage(df: DataFrame, dir: String, name: String): Unit =
    stage(Seq(df), dir, Seq(name))

  /** Write each of `slices` as one file `dir/names(i)`, in ONE Spark job
    * with one task per slice, and publish each by rename once all are
    * written. The job runs over the slices' `coalesce(1)` RDDs joined by
    * a `UnionRDD`, whose partitions are its inputs' partitions in order
    * (a Dataset `union` may merge single-partition children), so task `t`
    * writes the `t`-th non-empty slice. A slice planned as no partition
    * is written by the driver as an empty file that still carries its
    * schema. A failed write leaves no temp behind.
    */
  def stage(slices: Seq[DataFrame], dir: String, names: Seq[String]): Unit = {
    require(slices.nonEmpty && slices.size == names.size,
      s"stage: ${slices.size} slices for ${names.size} names")
    val spark = slices.head.sparkSession
    val ones = slices.map(_.coalesce(1))
    val writerOf = ones.map(_.schema).distinct.map(s => s -> writer(spark, s)).toMap
    val writers = ones.map(s => writerOf(s.schema))
    val dests = names.map(new Path(LocalFiles.path(dir), _))
    val temps = dests.map(tempOf)
    val fs = fsOf(spark, dir)
    try onRows(ones) { rdds =>
      val (empty, full) = rdds.indices.partition(rdds(_).getNumPartitions == 0)
      empty.foreach(i => writers(i).writeFile(Iterator.empty, temps(i), writers(i).context(0, 0)))
      if (full.nonEmpty) {
        val tasks = full.map(i => (writers(i), temps(i).toString))
        new UnionRDD(spark.sparkContext, full.map(rdds)).foreachPartition { rows =>
          val tc = TaskContext.get()
          val (w, temp) = tasks(tc.partitionId())
          w.writeFile(rows, new Path(temp), w.context(tc.partitionId(), tc.attemptNumber()))
        }
      }
    } catch { case e: Throwable => temps.foreach(fs.delete(_, false)); throw e }
    publish(fs, temps.zip(dests))
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
    val root = LocalFiles.path(path).toString
    def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
    val temps = onRows(Seq(rows))(_.head.mapPartitionsWithIndex { (task, it) =>
      val ctx = w.context(task, TaskContext.get().attemptNumber())
      val ext = w.extension(ctx)
      val data = UnsafeProjection.create(dataIdx.map(ref))
      val keys = UnsafeProjection.create(partIdx.map(ref))
      val names = UnsafeProjection.create(partIdx.map(i => Cast(ref(i), StringType, tz)))
      def dirOf(r: InternalRow): Path =
        if (partIdx.isEmpty) new Path(root)
        else {
          val v = names(r)
          new Path(root, partitionCols.indices.map { i =>
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
