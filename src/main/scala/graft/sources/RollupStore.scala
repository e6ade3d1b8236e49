package graft.sources

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.functions._

import graft.model.RollupWindow

/** The storage mapping for cassabon's Cassandra backend: one logical table
  * per retention (`rollup_%09d`, reference datastore/metricmanager.go:155-171)
  * becomes a partition of ONE parquet dataset, sub-partitioned by stat date:
  *
  *   /store/tbl=rollup_000007200/stat_date=2024-01-05/part-*.parquet
  *
  * Cassandra's `default_time_to_live` maps to a partition-prune filter:
  * expired data is never read (and at scale is dropped by deleting whole
  * date partitions — no tombstones, no compaction debt). Both `tbl` and
  * `stat_date` are partition columns, so retention filters resolve at file
  * listing, before any I/O.
  *
  * Every maintenance write of a partitioned append-only store — rollup
  * compaction, TTL expiry, and [[VecIndexStore]]'s cell folding — is one
  * [[rewrite]] pass; every append is one [[appendClustered]] write, whose
  * files are published by rename ([[ParquetFiles]]) with no commit
  * protocol.
  */
object RollupStore {

  private val Partitions = Seq("tbl", "stat_date")

  private def statDate: Column = to_date(timestamp_seconds(col("stat_time")))

  /** Persist a rollup write set (tbl, path, stat_time, stat), partitioned
    * for prune-friendly reads. `maxRecordsPerFile` guards against giant
    * files on 1000-executor writes; dynamic overwrite only replaces the
    * partitions present in this batch (the streaming flush contract).
    */
  def write(rollups: DataFrame, path: String): Unit = {
    recoverIfNeeded(rollups.sparkSession, path)
    rollups
      .withColumn("stat_date", statDate)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(Partitions: _*)
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    recoverIfNeeded(spark, path)
    spark.read.parquet(path)
  }

  /** batchwriter.go's size-triggered flush pacing (datastore/
    * batchwriter.go:44-52: `Append` accumulates statements and flushes
    * the batch the moment `stmtCount >= batchSize`) re-expressed as the
    * store's write-batching knob: it caps each published parquet file at
    * the batch size, so one oversized flush lands as SEVERAL bounded
    * files in its partition directory — the same bounded-unit-of-write
    * property (a reader never waits on, and a retry never redoes, more
    * than one batch) the reference's Cassandra batches provide. The
    * default keeps files row-group-sized; tighten it where the downstream
    * consumer wants smaller commit units.
    */
  val DefaultMaxRowsPerFile = 5000000L

  /** Append one flush cycle's MERGEABLE rollup state (see
    * `Rollups.mergeableFrom`) into the same partition layout — the
    * streaming-flush write path (`CarbonStream.streamRollupsToStore`).
    * Append-only: collisions between cycles are resolved by the
    * associative merge at read ([[readFinalized]]) or by a compaction
    * rewrite, never by read-modify-write during ingest.
    */
  def appendStateSlice(state: DataFrame, path: String,
      maxRowsPerFile: Long = DefaultMaxRowsPerFile): Unit =
    appendClustered(state.withColumn("stat_date", statDate), path, Partitions,
      maxRowsPerFile)

  /** Append `rows` as one slice of a store partitioned on `partitionCols`,
    * recovering first. Rows are clustered onto their partition before the
    * write: without it every hash-partitioned task scatters a few rows
    * into EVERY partition directory, so each flush writes tasks ×
    * directories tiny files and every later read/compaction pays the
    * listing+open cost. One file per directory per slice is the right
    * shape for state slices at any scale, and `maxRowsPerFile` still
    * splits a pathological directory.
    *
    * The write is [[ParquetFiles.append]]: each task sorts its rows by
    * the partition columns and writes them as hidden temps in their final
    * directories, and the driver publishes each file by rename. No Hadoop
    * commit protocol runs, so an append costs its tasks plus one rename
    * per file, whatever the number of directories it touches. Rows
    * planned as one partition skip the clustering shuffle
    * ([[singlePartition]]).
    */
  private[graft] def appendClustered(rows: DataFrame, path: String,
      partitionCols: Seq[String], maxRowsPerFile: Long): Unit = {
    recoverIfNeeded(rows.sparkSession, path, partitionCols.size)
    writeClustered(rows, path, partitionCols, maxRowsPerFile)
  }

  /** [[ParquetFiles.append]] of `rows` clustered onto `partitionCols`
    * (the write of [[appendClustered]], with no recovery: maintenance
    * stages its fold output this way, under its own lease).
    */
  private def writeClustered(rows: DataFrame, path: String,
      partitionCols: Seq[String], maxRowsPerFile: Long): Unit = {
    val keys = partitionCols.map(col)
    val inPlace = rows.sortWithinPartitions(keys: _*)
    ParquetFiles.append(
      if (singlePartition(inPlace)) inPlace
      else rows.repartition(keys: _*).sortWithinPartitions(keys: _*),
      path, partitionCols, maxRowsPerFile)
  }

  /** Whether `df` is planned as one partition (a flush batch over one
    * staged file): its rows are clustered already, and the append runs as
    * one job with no shuffle. Judged on the physical plan before
    * exchanges are placed — under adaptive execution the final plan
    * reports an unknown partitioning — which an aggregate over one
    * partition keeps as `SinglePartition`, since one partition satisfies
    * any clustering.
    */
  private def singlePartition(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.outputPartitioning == SinglePartition

  /** Merge-on-read over an append-only state store: collapse all flush
    * cycles' slices and finalize to (tbl, path, stat_time, stat) — by the
    * associativity of the state algebra, equal to a single batch pass over
    * the raw points no matter how ingest was sliced.
    */
  def readFinalized(spark: SparkSession, path: String): DataFrame =
    graft.operators.Rollups.finalize(
      graft.operators.Rollups.mergeAll(
        read(spark, path).drop("stat_date")))

  /** One committed slice file: store-relative path, length, mtime. */
  final case class SliceFile(path: String, length: Long, mtime: Long)

  /** The store's committed slice files, sorted by path — the serving
    * path's ONE listing per request. Names starting with `_` or `.` are
    * skipped at every level, the rule Spark's own listing applies, so the
    * staged `_compact`, in-flight `_temporary` output, the lease, the
    * manifest and checksum files never appear. A missing store (or a
    * directory maintenance removed mid-walk) lists as empty. Recovers first,
    * like every other entry point.
    *
    * Walks with `listStatus`, not `listFiles`: on the local filesystem
    * `listFiles` builds a `LocatedFileStatus` per file and loads its
    * permissions. On a 4-core host a 481-file store lists in about 2 s
    * that way and in 25 ms with this walk.
    *
    * Never a listing from inside a live maintenance swap: [[rewrite]]
    * deletes nothing before its swap, and the swap deletes its manifest's
    * files and renames the rewritten ones in one directory at a time, so
    * a walk that overlaps it can miss rows of both. A walk that saw a
    * manifest file missing, or saw the manifest come or go, is taken
    * again until the swap is done (at most [[SwapWaitAttempts]] walks,
    * 10 ms apart; past that, e.g. a pass that crashed mid-swap under a
    * young lease, the last walk is returned).
    */
  def snapshot(spark: SparkSession, path: String): Seq[SliceFile] = {
    recoverIfNeeded(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = manifestPath(root)
    def walk(dir: Path, rel: String): Seq[SliceFile] =
      (try fs.listStatus(dir).toSeq
       catch {
         // gone since its parent was listed: a FileNotFoundException, or on
         // the local filesystem an IOException "Invalid directory"
         case _: java.io.IOException if !fs.exists(dir) => Nil
       })
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap { s =>
          val r = rel + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, r + "/")
          else Seq(SliceFile(r, s.getLen, s.getModificationTime))
        }
    def midSwap(before: Boolean, files: Seq[SliceFile]): Boolean =
      if (!fs.exists(manifest)) before
      else try {
        val listed = files.map(_.path).toSet
        !before || !readManifest(fs, root).forall(listed)
      } catch { case _: java.io.FileNotFoundException => true }
    var attempt = 1
    var before = fs.exists(manifest)
    var files = walk(root, "")
    while (midSwap(before, files) && attempt < SwapWaitAttempts) {
      Thread.sleep(10)
      attempt += 1
      before = fs.exists(manifest)
      files = walk(root, "")
    }
    files.sortBy(_.path)
  }

  /** Walks [[snapshot]] takes at most while a maintenance swap runs. */
  val SwapWaitAttempts = 100

  /** The SERVING-PATH variant of [[readFinalized]]: reads EXACTLY the
    * files of one [[snapshot]] (the way [[rewrite]] reads its manifest),
    * so the frame is a function of that listing and nothing else — a
    * directory read would re-list at scan time and could fold a slice the
    * snapshot never saw.
    *
    * Tolerant of the per-directory swap window: a file the snapshot lists
    * can be deleted by a live maintenance swap before the scan opens it.
    * `ignoreMissingFiles` turns the crash into the documented transient
    * state, "the folded slices are briefly absent from this one
    * directory". Such a frame undercounts, but it is never served past
    * the swap: its snapshot names the deleted file, which no later
    * [[snapshot]] lists, so a caller keying its reuse on the snapshot
    * rebuilds. The schema is pinned, so planning opens no footer outside
    * the guard. Batch/oracle paths keep the STRICT [[readFinalized]]:
    * outside live serving, a vanished file is corruption and must fail
    * loudly.
    */
  def readFinalizedResilient(spark: SparkSession, path: String,
      files: Seq[SliceFile]): DataFrame = {
    val state =
      if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), StateSchema)
      else spark.read.schema(StateSchema)
        .option("basePath", path)
        .option("ignoreMissingFiles", "true")
        .parquet(files.map(f => new Path(path, f.path).toString): _*)
    graft.operators.Rollups.finalize(
      graft.operators.Rollups.mergeAll(state.drop("stat_date")))
  }

  /** Optimistic read-retry for serving-path ACTIONS over the store.
    *
    * `ignoreMissingFiles` covers a file that is GONE at open time (a bare
    * FileNotFoundException). It does NOT cover the other face of the same
    * swap window: the parquet reader opens a file more than once (footer,
    * then row groups), and a fold source deleted between those opens
    * surfaces as a WRAPPED read error (`FAILED_READ_FILE`, cause chain not
    * a bare FNF) that the option never sees. Nor does it cover a file a
    * [[snapshot]] listed that is gone before the read is planned: naming
    * files explicitly makes planning check they exist (`PATH_NOT_FOUND`).
    * The window is two renames wide and bounded to one directory, so the
    * production answer is the optimistic one: re-plan from a fresh file
    * listing and try again.
    * Anything still failing after [[ReadRetryAttempts]] attempts is real
    * corruption and propagates loudly. `alsoRetry` names the caller's own
    * retryable failures (the serving view's lost checkpoint blocks).
    */
  val ReadRetryAttempts = 3

  private def isTransientReadRace(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    chain.exists {
      case _: java.io.FileNotFoundException => true
      case t => val m = t.getMessage
        m != null && (m.contains("FAILED_READ_FILE") ||
          m.contains("PATH_NOT_FOUND") || m.contains("FileNotFoundException"))
    }
  }

  private[graft] def retryTransientReads[A](f: () => A,
      alsoRetry: Throwable => Boolean = _ => false): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(f())
      catch {
        case e: Throwable if attempt < ReadRetryAttempts &&
            (isTransientReadRace(e) || alsoRetry(e)) =>
          attempt += 1
          Thread.sleep(20L * attempt)
      }
    }
    out.get
  }

  /** The on-disk mergeable-state schema (`Rollups.mergeableFrom`'s columns
    * plus the two partition columns), supplied EXPLICITLY on the serving
    * read: schema inference opens parquet footers OUTSIDE the
    * `ignoreMissingFiles` guard, so a footer vanishing in the swap window
    * would fail the query at plan time — with the schema pinned, planning
    * never opens a file at all (cheaper per request, too).
    */
  private val StateSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "path STRING, stat_time BIGINT, expr STRING, s_cents BIGINT, " +
      "s_count BIGINT, s_max DOUBLE, s_min DOUBLE, s_last DOUBLE, " +
      "s_lastkey BIGINT, tbl STRING, stat_date DATE")

  /** How long a maintenance lease protects an in-flight `_compact` from
    * concurrent recovery. A LIVE pass finishes a staged write well inside
    * this window; a lease older than it is a crashed pass's orphan and
    * recovery may take over. Tests override via the `leaseMs` parameters.
    */
  val CompactLeaseMs: Long = 15L * 60 * 1000

  private[graft] def leasePath(root: Path) =
    new Path(root, "_compact.lease") // '_' prefix: invisible to parquet listing

  /** The fold manifest: the exact source parquet files a staged maintenance
    * write folded, recorded BEFORE the staged write starts (so `_SUCCESS`
    * present implies the manifest is present). The swap deletes ONLY these
    * files — a slice `appendStateSlice` lands in a partition AFTER the
    * pass's staged read survives the swap untouched (it simply gets
    * folded by a later compaction). '_' prefix: invisible to parquet listing.
    */
  private[graft] def manifestPath(root: Path) = new Path(root, "_compact.manifest")

  /** Relative `tbl=T/stat_date=D/file.parquet` paths, one per line. */
  private[graft] def writeManifest(fs: FileSystem, root: Path, files: Seq[String]): Unit = {
    val out = fs.create(manifestPath(root), true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readManifest(fs: FileSystem, root: Path): Seq[String] = {
    val in = fs.open(manifestPath(root))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private[graft] def leaseIsYoung(fs: FileSystem, root: Path, leaseMs: Long): Boolean = {
    val l = leasePath(root)
    try fs.exists(l) &&
      System.currentTimeMillis() - fs.getFileStatus(l).getModificationTime < leaseMs
    catch { case _: java.io.FileNotFoundException => false } // lost exists/stat race
  }

  private def parquets(fs: FileSystem, d: Path) =
    fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))

  /** THE maintenance pass. Every rewrite of a partitioned append-only
    * store runs this protocol, in this order, and nothing else takes the
    * lease:
    *
    *  1. a missing store or a young lease skips the pass (another writer
    *     is mid-maintenance; the store stays correct unmaintained, so
    *     "later" is always safe); otherwise [[recover]] finishes or
    *     discards a crashed predecessor and [[sweepOrphanTemps]] deletes
    *     the old temps of dead appends;
    *  2. `pick` sorts the partition directories (`partitionCols.size`
    *     levels deep) into ones to drop whole and ones to fold; with
    *     neither, no lease is taken;
    *  3. [[acquireLease]] (a lost race bails), then [[startHeartbeat]]: a
    *     staged write's duration grows with the store, so a once-written
    *     lease would age out mid-flight, while a crashed pass's lease stops
    *     refreshing and ages out as intended;
    *  4. the manifest — every parquet file now in the drop and fold
    *     directories — is recorded BEFORE the staged write, so
    *     `_compact/_SUCCESS` implies the manifest. Nothing is deleted
    *     before the swap, so a listing sees the store as it was before the
    *     pass until the swap starts ([[snapshot]] waits out the swap);
    *  5. `fold` transforms a read of EXACTLY the fold files: a directory
    *     read re-lists at scan time, and a slice landing between the
    *     listing and the scan would be folded AND survive the swap — a
    *     double count. One listing, one truth;
    *  6. the output is staged under `_compact`, one file per directory (a
    *     write READING the directories it replaces would race its own
    *     listing), by the same rename-published write as an append
    *     ([[writeClustered]]), and committed by creating `_compact/_SUCCESS`
    *     after its last file; a pass that only drops commits an empty
    *     `_compact`;
    *  7. [[swapInAdditive]] deletes only the manifest's files (tidying
    *     directories they emptied) and renames the staged ones in, so
    *     ingest never quiesces;
    *  8. the lease is released in `finally`.
    *
    * The pass's own files (lease, manifest, `_compact`) are written
    * through [[LocalFiles]] when the store is local; its reads keep `path`.
    *
    * A crash anywhere leaves state the next entry point's [[recover]]
    * resolves: `_SUCCESS` present means the staged copies are committed
    * truth and the directories not yet swapped are swapped in; absent
    * means the sources are untouched and the staging is dropped. Each
    * directory is swapped on its own, so a crash exposes at most one.
    */
  private[graft] def rewrite(spark: SparkSession, path: String,
      partitionCols: Seq[String], leaseMs: Long)(
      pick: (FileSystem, Seq[Path]) => (Seq[Path], Seq[Path]))(
      fold: DataFrame => DataFrame): Unit = {
    val root = LocalFiles.path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || leaseIsYoung(fs, root, leaseMs)) return
    val depth = partitionCols.size
    val staged = new Path(root, "_compact")
    recover(fs, root, staged, leaseMs, depth)
    val dirs = partitionDirs(fs, root, depth).toSeq
    sweepOrphanTemps(fs, dirs)
    val (drop, folds) = pick(fs, dirs)
    if ((drop.isEmpty && folds.isEmpty) || !acquireLease(fs, root)) return
    val heartbeat = startHeartbeat(fs, root, leaseMs)
    try {
      val filesOf = (dirs: Seq[Path]) => dirs.flatMap(d =>
        parquets(fs, d).map(f => s"${relDirName(d, depth)}/${f.getPath.getName}"))
      val (dropped, folded) = (filesOf(drop), filesOf(folds))
      if (dropped.nonEmpty || folded.nonEmpty) {
        writeManifest(fs, root, dropped ++ folded)
        require(fs.mkdirs(staged), s"maintenance: cannot create $staged")
        if (folded.nonEmpty) {
          val sources = spark.read.option("basePath", path)
            .parquet(folded.map(f => new Path(path, f).toString): _*)
          writeClustered(fold(sources), staged.toString, partitionCols, DefaultMaxRowsPerFile)
        }
        fs.create(new Path(staged, "_SUCCESS"), true).close()
        swapInAdditive(fs, root, staged, depth)
      }
    } finally {
      heartbeat.interrupt()
      fs.delete(leasePath(root), false)
    }
  }

  /** Compaction: fold each key's accumulated slices to ONE row — the
    * same associative `mergeAll` the reader applies, run once so
    * subsequent reads don't re-pay it. State stays MERGEABLE (compaction
    * is lossless re-slicing, not finalization), so ingest can keep
    * appending afterwards and [[readFinalized]] is unchanged before,
    * during intent, and after.
    *
    * SELECTIVE per-partition: every flush is one merged file per
    * `(tbl, stat_date)` directory ([[appendStateSlice]]), so a directory
    * with a single file is already one-row-per-key — only MULTI-file
    * directories are folded. Maintenance scales with the partitions
    * recent flushes touched, not with store size — cassabon leans on
    * Cassandra compaction for exactly this (upsert columns collapse in
    * SSTable merges); here it is explicit and schedulable.
    */
  def compact(spark: SparkSession, path: String): Unit =
    rewrite(spark, path, Partitions, CompactLeaseMs)(multiFileDirs) { state =>
      graft.operators.Rollups.mergeAll(state.drop("stat_date"))
        .withColumn("stat_date", statDate)
    }

  /** Delete the hidden temps ([[ParquetFiles.isTemp]]) older than
    * [[CompactLeaseMs]] from `dirs`: what an append task that failed or
    * was killed left before its driver published. A younger temp may
    * belong to an append still running and is never touched. Run by
    * maintenance only, not by every entry point's recovery: it lists
    * every partition directory, which the serving path must not pay per
    * request.
    */
  private def sweepOrphanTemps(fs: FileSystem, dirs: Seq[Path]): Unit = {
    val horizon = System.currentTimeMillis() - CompactLeaseMs
    dirs.foreach(d => fs.listStatus(d).foreach { s =>
      if (ParquetFiles.isTemp(s.getPath.getName) && s.getModificationTime < horizon)
        fs.delete(s.getPath, false)
    })
  }

  /** The compaction pick: fold every directory holding more than one file. */
  private[graft] def multiFileDirs(fs: FileSystem, dirs: Seq[Path]): (Seq[Path], Seq[Path]) =
    (Nil, dirs.filter(parquets(fs, _).length > 1))

  /** Atomic-where-supported lease acquisition: `createNewFile` goes through
    * `create(overwrite = false)`, so on filesystems with atomic
    * create-if-absent (HDFS, local) two passes through the same
    * `leaseIsYoung` window resolve to exactly one winner — the loser bails
    * (maintenance is lossless; "later" is always safe). On stores without
    * the primitive the failure mode degrades to the documented
    * single-maintenance-job contract, no worse than before.
    */
  private[graft] def acquireLease(fs: FileSystem, root: Path): Boolean =
    try fs.createNewFile(leasePath(root))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }

  /** Keep the lease young for as long as the maintenance write runs. A
    * transient `setTimes` failure (object stores that don't support mtime
    * updates, or the release delete racing a mid-flight touch) must NOT
    * kill the thread — a dead heartbeat lets the lease age out mid-write
    * and re-opens the concurrent-recovery hazard it exists to close — so
    * IOExceptions fall back to delete+recreate of the lease file and the
    * loop continues; only interrupt (the owner finishing) exits. The
    * thread is a daemon: it dies with the process.
    */
  private[graft] def startHeartbeat(fs: FileSystem, root: Path, leaseMs: Long): Thread = {
    val t = new Thread(() => {
      var warned = false
      try while (!Thread.interrupted()) {
        Thread.sleep(math.max(leaseMs / 3, 1L))
        try fs.setTimes(leasePath(root), System.currentTimeMillis(), -1)
        catch {
          case e: java.io.IOException =>
            try { fs.delete(leasePath(root), false); fs.create(leasePath(root), true).close() }
            catch { case _: java.io.IOException =>
              if (!warned) { warned = true
                System.err.println(s"[graft] compact-lease heartbeat degraded on $root: $e") }
            }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-compact-lease-heartbeat")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Partition directories `depth` levels under `base` (each level a
    * `name=value` dir) — depth 2 is the rollup store's
    * `tbl=… / stat_date=…`, depth 1 a flat layout like the ANN index
    * store's `c_id=*` ([[VecIndexStore]]).
    */
  private[graft] def partitionDirs(fs: FileSystem, base: Path, depth: Int): Array[Path] = {
    def level(ps: Array[Path]) = ps.flatMap(p =>
      fs.listStatus(p).filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath))
    (1 to depth).foldLeft(Array(base))((ps, _) => level(ps))
  }

  /** `base`-relative dir name of a partition dir `depth` levels down. */
  private def relDirName(d: Path, depth: Int): String =
    if (depth == 1) d.getName else s"${d.getParent.getName}/${d.getName}"

  /** ADDITIVE swap: per staged partition directory, delete exactly the
    * manifest-recorded fold sources, then rename the staged files in
    * beside anything NEWER — a slice appended after the pass's staged
    * read is left in place (un-folded, still mergeable, picked up by the
    * next compaction). This is what makes SERVING WHILE INGESTING safe:
    * live flush cycles target exactly the recently-written partitions
    * compaction folds, and wholesale directory replacement would silently
    * destroy a slice appended mid-compaction.
    *
    * CONCURRENCY CONTRACT: one maintenance writer at a time, enforced by
    * the lease. Appenders never need to quiesce: their new files are not
    * in the manifest, so the swap cannot touch them. Readers racing the
    * per-directory swap see a partition transiently missing its folded
    * slices (bounded to one directory, same exposure as a mid-swap crash)
    * — never a double-count, because sources are deleted BEFORE their
    * staged fold is renamed in. Crash anywhere: idempotent re-run via
    * [[recover]] (deletes are exists-checked, renames consume their staged
    * source). Each rename/delete is checked so a lost race fails LOUDLY
    * instead of silently dropping files.
    */
  private[graft] def swapInAdditive(fs: FileSystem, root: Path, staged: Path,
      depth: Int = 2): Unit = {
    val folded = readManifest(fs, root)
    val byDir = folded.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    def dropFolded(relDir: String): Unit =
      byDir.getOrElse(relDir, Nil).foreach { rel =>
        val src = new Path(root, rel)
        if (fs.exists(src))
          require(fs.delete(src, false), s"compact swap: cannot delete $src")
      }
    val stagedDirs = partitionDirs(fs, staged, depth)
    val covered = stagedDirs.map(d => relDirName(d, depth)).toSet
    stagedDirs.foreach { d =>
      val relDir = relDirName(d, depth)
      val destDir = new Path(root, relDir)
      require(fs.mkdirs(destDir) || fs.exists(destDir),
        s"compact swap: cannot create $destDir")
      dropFolded(relDir) // sources out first: a racing reader may undercount, never double-count
      parquets(fs, d).foreach { f =>
        val dest = new Path(destDir, f.getPath.getName)
        if (fs.exists(dest))
          require(fs.delete(dest, false), s"compact swap: cannot clear $dest")
        require(fs.rename(f.getPath, dest),
          s"compact swap: rename ${f.getPath} -> $dest failed (concurrent writer?)")
      }
    }
    // dropped directories, and fold sources whose partition vanished from
    // the staged output (a TTL rewrite can filter a boundary partition down
    // to zero rows): still deleted, and an emptied directory is tidied away
    byDir.keys.filterNot(covered).foreach { relDir =>
      dropFolded(relDir)
      val dir = new Path(root, relDir)
      if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    }
    require(fs.delete(staged, true),
      s"compact swap: cannot drop staging root $staged")
    fs.delete(manifestPath(root), false)
  }

  /** LEGACY whole-directory swap, kept for recovery of a committed staged
    * write that carries no fold manifest (a pre-manifest store, or the
    * narrow crash window between the spark job's `_SUCCESS` and nothing —
    * the manifest is written BEFORE the staged write, so that window does
    * not exist for this engine's own compactions; hand-staged maintenance
    * is the remaining caller). Replaces each partition directory wholesale:
    * correct when nothing appended since staging, which recovery of a
    * CRASHED compactor can assume (its ingest died with it).
    */
  private[graft] def swapIn(fs: FileSystem, root: Path, staged: Path): Unit = {
    fs.listStatus(staged).filter(_.getPath.getName.startsWith("tbl="))
      .foreach { t =>
        val destTbl = new Path(root, t.getPath.getName)
        require(fs.mkdirs(destTbl) || fs.exists(destTbl),
          s"compact swap: cannot create $destTbl")
        fs.listStatus(t.getPath).foreach { d =>
          val dest = new Path(destTbl, d.getPath.getName)
          if (fs.exists(dest))
            require(fs.delete(dest, true), s"compact swap: cannot delete $dest")
          require(fs.rename(d.getPath, dest),
            s"compact swap: rename ${d.getPath} -> $dest failed (concurrent writer?)")
        }
      }
    require(fs.delete(staged, true),
      s"compact swap: cannot drop staging root $staged")
  }

  /** Finish (committed staged write → swap the leftovers in) or discard
    * (uncommitted → sources untouched, drop the garbage) a maintenance
    * pass a crash interrupted. Idempotent; no-op when `_compact` is absent.
    *
    * LEASE GUARD (closes the r7/r8 concurrent-recover hazard): a `_compact`
    * younger than the pass's lease is an IN-FLIGHT pass, not a crash —
    * recovery leaves it (and the lease) completely alone. Reads stay
    * correct against the un-swapped store (merge-on-read folds the very
    * duplicates compaction would have folded), and the live pass swaps in
    * when its staged write commits. Only once the lease has aged out does
    * recovery treat `_compact` as crash debt: finish it if `_SUCCESS`
    * committed, discard it otherwise, and clear the orphan lease either
    * way.
    */
  private[graft] def recover(fs: FileSystem, root: Path, staged: Path,
      leaseMs: Long = CompactLeaseMs, depth: Int = 2): Unit =
    if (!leaseIsYoung(fs, root, leaseMs)) {
      if (fs.exists(staged)) {
        // re-check the lease IMMEDIATELY before acting: a pass may have
        // taken it between our first check and the exists() above (this
        // host's documented steal spikes can park a thread for many
        // seconds) — the destructive branch must see a fresh view
        if (leaseIsYoung(fs, root, leaseMs)) return
        if (fs.exists(new Path(staged, "_SUCCESS"))) {
          // manifest present = this engine's own additive maintenance
          // (manifest committed before the staged write, so `_SUCCESS`
          // implies it); absent = hand-staged legacy swap (rollup layout
          // only — every flat-layout maintenance write carries a manifest)
          if (fs.exists(manifestPath(root))) swapInAdditive(fs, root, staged, depth)
          else swapIn(fs, root, staged)
        } else fs.delete(staged, true)
      }
      fs.delete(leasePath(root), false) // clear a stale orphan lease, if any
      fs.delete(manifestPath(root), false) // and an orphan manifest (staged write crashed)
    }

  /** EVERY public entry point recovers before touching the store, not just
    * maintenance. Two failure modes this closes (both real data loss):
    * a crash mid-swap leaves one partition's dest dir deleted with its
    * staged replacement not yet renamed in — a read that skipped recovery
    * would silently return a store missing that partition's rows; and an
    * append that landed a fresh slice in such a partition BEFORE the next
    * pass would have that slice deleted when recover's swapIn later
    * replaced the whole directory. Recovering first means no slice can
    * ever land in (and no read can ever observe) a half-swapped store.
    * Cost when healthy: one `exists` on `_compact`, nothing else.
    */
  private[graft] def recoverIfNeeded(spark: SparkSession, path: String,
      depth: Int = 2): Unit = {
    val root = LocalFiles.path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) recover(fs, root, new Path(root, "_compact"), CompactLeaseMs, depth)
  }

  /** Per-row TTL horizon in epoch seconds: `now` minus the retention the
    * row's own table name carries ([[RollupWindow.retentionOf]]'s pattern).
    */
  private def cutoffSec(nowSec: Long): Column =
    lit(nowSec) - regexp_extract(col("tbl"), RollupWindow.TablePattern, 1).try_cast("long")

  private def utcDate(epochSec: Long): LocalDate =
    LocalDate.ofEpochDay(Math.floorDiv(epochSec, 86400L))

  /** TTL-enforced read: each table only yields rows newer than its
    * retention, with the cutoff ALSO expressed on the partition columns
    * alone so the planner prunes expired directories at listing time
    * (`.explain` shows them in PartitionFilters, not PushedFilters).
    * Every `rollup_%09d` table on disk is covered, whatever config wrote it.
    */
  def readRetained(spark: SparkSession, path: String, nowSec: Long): DataFrame = {
    val cutoff = cutoffSec(nowSec)
    read(spark, path)
      .filter(col("stat_date") >= date_from_unix_date(floor(cutoff / 86400).cast("int")))
      .filter(col("stat_time") > cutoff) // exact row-level TTL on top of the prune
  }

  /** PHYSICAL TTL expiry — the `default_time_to_live` half of the
    * reference's retention model (datastore/metricmanager.go:166-171:
    * Cassandra physically removes expired rows) that [[readRetained]]'s
    * read-time filter doesn't cover: without it a 100 TB store grows
    * without bound. Two-grained, matching the partition layout, and run
    * as one [[rewrite]] pass (so a live lease skips it, a crash is
    * recovered, and a slice appended mid-pass survives):
    *
    *  1. every `(tbl, stat_date)` directory STRICTLY older than its
    *     table's cutoff date is dropped wholesale — its files deleted in
    *     the swap, no data read (the no-tombstone promise of the layout);
    *  2. each table's BOUNDARY directory (`stat_date` == the cutoff's own
    *     date) can hold both expired and live rows, so it is folded through
    *     a filter keeping only rows newer than the cutoff.
    *
    * Each table's retention comes from its name, so every `rollup_%09d`
    * table on disk expires, including ones only a yaml config declares.
    * Maintenance cost scales with days crossing the retention horizon
    * since the last run plus |tables| boundary rewrites of one day's rows
    * — independent of store size. After this, `read` ==
    * `readRetained(nowSec)` row-for-row for every such table: the filter
    * has nothing left to remove.
    */
  def dropExpired(spark: SparkSession, path: String, nowSec: Long): Unit =
    rewrite(spark, path, Partitions, CompactLeaseMs)({ (fs, dirs) =>
      val vsCutoff = dirs.flatMap { d =>
        RollupWindow.retentionOf(d.getParent.getName.stripPrefix("tbl=")).map(ret =>
          d -> LocalDate.parse(d.getName.stripPrefix("stat_date="))
            .compareTo(utcDate(nowSec - ret)))
      }
      (vsCutoff.collect { case (d, c) if c < 0 => d },
        vsCutoff.collect { case (d, 0) if parquets(fs, d).nonEmpty => d })
    })(_.filter(col("stat_time") > cutoffSec(nowSec)))
}
