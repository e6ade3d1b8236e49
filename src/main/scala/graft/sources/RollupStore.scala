package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.RollupConfig

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
  */
object RollupStore {

  /** Persist a rollup write set (tbl, path, stat_time, stat), partitioned
    * for prune-friendly reads. `maxRecordsPerFile` guards against giant
    * files on 1000-executor writes; dynamic overwrite only replaces the
    * partitions present in this batch (the streaming flush contract).
    */
  def write(rollups: DataFrame, path: String): Unit = {
    recoverIfNeeded(rollups.sparkSession, path)
    rollups
      .withColumn("stat_date", to_date(timestamp_seconds(col("stat_time"))))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("tbl", "stat_date")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    recoverIfNeeded(spark, path)
    spark.read.parquet(path)
  }

  /** Append one flush cycle's MERGEABLE rollup state (see
    * `Rollups.mergeableFrom`) into the same partition layout — the
    * streaming-flush write path (`CarbonStream.streamRollupsToStore`).
    * Append-only: collisions between cycles are resolved by the
    * associative merge at read ([[readFinalized]]) or by a compaction
    * rewrite, never by read-modify-write during ingest.
    *
    * Rows are clustered onto their `(tbl, stat_date)` partition before
    * the write: without it every hash-partitioned task scatters a few
    * rows into EVERY partition directory, so each flush commits
    * tasks × directories tiny files and every later read/compaction pays
    * the listing+open cost. One file per directory per slice is the
    * right shape for state slices at any scale — a slice's rows per
    * (tbl, date) are bounded by |paths| × windows/day, not by the point
    * count, and `maxRecordsPerFile` still splits a pathological
    * directory. (What this does NOT remove is the per-directory writer
    * open/commit cost itself — a flush's wall time scales with how many
    * partitions it touches, which is why flush cycles should be
    * time-contiguous; see `Rollups.storeLifecycle`.)
    */
  /** batchwriter.go's size-triggered flush pacing (datastore/
    * batchwriter.go:44-52: `Append` accumulates statements and flushes
    * the batch the moment `stmtCount >= batchSize`) re-expressed as the
    * store's write-batching knob: Spark's `maxRecordsPerFile` caps each
    * committed parquet file at the batch size, so one oversized flush
    * lands as SEVERAL bounded files in its partition directory — the
    * same bounded-unit-of-write property (a reader never waits on, and a
    * retry never redoes, more than one batch) the reference's Cassandra
    * batches provide. The default keeps files row-group-sized; tighten it
    * where the downstream consumer wants smaller commit units.
    */
  val DefaultMaxRowsPerFile = 5000000L

  def appendStateSlice(state: DataFrame, path: String,
      maxRowsPerFile: Long = DefaultMaxRowsPerFile): Unit = {
    recoverIfNeeded(state.sparkSession, path)
    state
      .withColumn("stat_date", to_date(timestamp_seconds(col("stat_time"))))
      .repartition(col("tbl"), col("stat_date"))
      .write
      .mode("append")
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy("tbl", "stat_date")
      .parquet(path)
  }

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
    * directory a swap removed mid-walk) lists as empty. Recovers first,
    * like every other entry point.
    *
    * Walks with `listStatus`, not `listFiles`: on the local filesystem
    * `listFiles` builds a `LocatedFileStatus` per file and loads its
    * permissions. On a 4-core host a 481-file store lists in about 2 s
    * that way and in 25 ms with this walk.
    */
  def snapshot(spark: SparkSession, path: String): Seq[SliceFile] = {
    recoverIfNeeded(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: org.apache.hadoop.fs.Path, rel: String): Seq[SliceFile] =
      (try fs.listStatus(dir).toSeq
       catch { case _: java.io.FileNotFoundException => Nil })
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap { s =>
          val r = rel + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, r + "/")
          else Seq(SliceFile(r, s.getLen, s.getModificationTime))
        }
    walk(root, "").sortBy(_.path)
  }

  /** The SERVING-PATH variant of [[readFinalized]]: reads EXACTLY the
    * files of one [[snapshot]] (the way [[compact]] reads its manifest),
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
      if (files.isEmpty) spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), StateSchema)
      else spark.read.schema(StateSchema)
        .option("basePath", path)
        .option("ignoreMissingFiles", "true")
        .parquet(files.map(f => new org.apache.hadoop.fs.Path(path, f.path).toString): _*)
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
    * corruption and propagates loudly.
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

  private[graft] def retryTransientReads[A](f: () => A): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(f())
      catch {
        case e: Throwable if attempt < ReadRetryAttempts && isTransientReadRace(e) =>
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

  /** Compaction: fold each key's accumulated slices to ONE row — the
    * same associative `mergeAll` the reader applies, run once so
    * subsequent reads don't re-pay it. State stays MERGEABLE (compaction
    * is lossless re-slicing, not finalization), so ingest can keep
    * appending afterwards and [[readFinalized]] is unchanged before,
    * during intent, and after.
    *
    * SELECTIVE per-partition: because every flush is one merged file per
    * `(tbl, stat_date)` directory ([[appendStateSlice]]), a directory
    * with a single file is already one-row-per-key — only MULTI-file
    * directories (ones several flush cycles landed in) are read and
    * rewritten; the rest of the store is never touched. That is the
    * behind-the-ingest-frontier maintenance pass at 100 TB: work scales
    * with the partitions recent flushes touched, not with store size —
    * cassabon leans on Cassandra compaction for exactly this (upsert
    * columns collapse in SSTable merges); here it's explicit and
    * schedulable. The rewrite stages through `_compact` + renames
    * because a write READING FROM the partitions being replaced would
    * race its own file listing; each directory is swapped (delete +
    * rename) individually AFTER the staged write is fully committed, so
    * a crash exposes at most the ONE directory mid-swap — and the next
    * `compact()` SELF-HEALS via [[recover]]: `_compact/_SUCCESS` present
    * means the staged copies are committed truth, so the remaining ones
    * (renames remove staged dirs as they land, so what's left is exactly
    * what hasn't been swapped) are swapped in before anything else;
    * `_SUCCESS` absent means the staged WRITE itself crashed, the source
    * directories are untouched, and the garbage is dropped.
    */
  /** How long a compaction lease protects an in-flight `_compact` from
    * concurrent recovery. A LIVE compactor finishes a staged write well
    * inside this window; a lease older than it is a crashed compactor's
    * orphan and recovery may take over. Tests override via the `leaseMs`
    * parameters.
    */
  val CompactLeaseMs: Long = 15L * 60 * 1000

  private[graft] def leasePath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_compact.lease") // '_' prefix: invisible to parquet listing

  /** The fold manifest: the exact source parquet files a staged maintenance
    * write folded, recorded BEFORE the staged write starts (so `_SUCCESS`
    * present implies the manifest is present). The swap deletes ONLY these
    * files — a slice `appendStateSlice` lands in a partition AFTER the
    * compactor's staged read survives the swap untouched (it simply gets
    * folded by a later compaction). '_' prefix: invisible to parquet listing.
    */
  private[graft] def manifestPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_compact.manifest")

  /** Relative `tbl=T/stat_date=D/file.parquet` paths, one per line. */
  private[graft] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            files: Seq[String]): Unit = {
    val out = fs.create(manifestPath(root), true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(manifestPath(root))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private[graft] def leaseIsYoung(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path,
                           leaseMs: Long): Boolean = {
    val l = leasePath(root)
    try fs.exists(l) &&
      System.currentTimeMillis() - fs.getFileStatus(l).getModificationTime < leaseMs
    catch { case _: java.io.FileNotFoundException => false } // lost exists/stat race
  }

  def compact(spark: SparkSession, path: String): Unit =
    compact(spark, path, CompactLeaseMs)

  private[graft] def compact(spark: SparkSession, path: String, leaseMs: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return // never-written store: nothing to fold
    val staged = new org.apache.hadoop.fs.Path(root, "_compact")
    // another compactor's lease is live: skip this pass rather than race
    // its staged write / swap. (The store stays correct un-compacted —
    // compaction is lossless re-slicing, so "later" is always safe.)
    if (leaseIsYoung(fs, root, leaseMs)) return
    recover(fs, root, staged, leaseMs)
    def parquets(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
    val multi = Option(fs
        .globStatus(new org.apache.hadoop.fs.Path(root, "tbl=*/stat_date=*")))
      .getOrElse(Array.empty)
      .map(_.getPath)
      .filter(d => parquets(d).length > 1)
    if (multi.isEmpty) return
    // take the lease BEFORE the staged write so every other entry point's
    // recovery leaves the in-flight _compact alone until we finish or die —
    // and HEARTBEAT it while the write runs: a staged write's duration is
    // unbounded by store size, so a once-written lease would silently age
    // out mid-flight on a big compaction and hand the hazard right back.
    // The heartbeat dies with the process (daemon thread), so a crashed
    // compactor's lease stops refreshing and ages out as intended.
    if (!acquireLease(fs, root)) return // lost a same-window race: one compactor bails
    val heartbeat = startHeartbeat(fs, root, leaseMs)
    try {
      // record the fold set FIRST: every parquet file the staged read will
      // fold, by store-relative path. The swap deletes only these, so a
      // slice appended mid-compaction (ingest keeps running) is never lost.
      // The staged read consumes EXACTLY these files (not the directories):
      // directory reads re-list at scan time, so a slice landing between
      // the manifest listing and the scan would be folded into the staged
      // output AND survive the swap — a double count. One listing, one
      // truth.
      val folded = multi.flatMap(d => parquets(d).map(f =>
        s"${d.getParent.getName}/${d.getName}/${f.getPath.getName}")).toSeq
      writeManifest(fs, root, folded)
      graft.operators.Rollups.mergeAll(
          spark.read.option("basePath", path)
            .parquet(folded.map(f => new org.apache.hadoop.fs.Path(root, f).toString): _*)
            .drop("stat_date"))
        .withColumn("stat_date", to_date(timestamp_seconds(col("stat_time"))))
        .repartition(col("tbl"), col("stat_date")) // one file per directory
        .write.mode("overwrite").option("maxRecordsPerFile", 5000000)
        .partitionBy("tbl", "stat_date").parquet(staged.toString)
      swapInAdditive(fs, root, staged)
    } finally {
      heartbeat.interrupt()
      fs.delete(leasePath(root), false)
    }
  }

  /** Atomic-where-supported lease acquisition: `createNewFile` goes through
    * `create(overwrite = false)`, so on filesystems with atomic
    * create-if-absent (HDFS, local) two compactors passing the same
    * `leaseIsYoung` window resolve to exactly one winner — the loser bails
    * (compaction is lossless re-slicing; "later" is always safe). On stores
    * without the primitive the failure mode degrades to the documented
    * single-maintenance-job contract, no worse than before.
    */
  private[graft] def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Boolean =
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
    * loop continues; only interrupt (the owner finishing) exits.
    */
  private[graft] def startHeartbeat(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             leaseMs: Long): Thread = {
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

  /** ADDITIVE swap: per staged partition directory, delete exactly the
    * manifest-recorded fold sources, then rename the staged files in
    * beside anything NEWER — a slice `appendStateSlice` landed after the
    * compactor's staged read is left in place (un-folded, still mergeable,
    * picked up by the next compaction). This is what makes SERVING WHILE
    * INGESTING safe: live flush cycles target exactly the recently-written
    * partitions compaction folds, and wholesale directory replacement
    * would silently destroy a slice appended mid-compaction.
    *
    * CONCURRENCY CONTRACT: one maintenance writer at a time, enforced by
    * the lease ([[acquireLease]] is atomic create-if-absent where the fs
    * supports it; a second `compact` bails). Appenders never need to
    * quiesce: their new files are not in the manifest, so the swap cannot
    * touch them. Readers racing the per-directory swap see a partition
    * transiently missing its folded slices (bounded to one directory, same
    * exposure as a mid-swap crash) — never a double-count, because sources
    * are deleted BEFORE their staged fold is renamed in. Crash anywhere:
    * idempotent re-run via [[recover]] (deletes are exists-checked, renames
    * consume their staged source). Each rename/delete is checked so a lost
    * race fails LOUDLY instead of silently dropping files.
    */
  /** Partition directories `depth` levels under `base` (each level a
    * `name=value` dir) — depth 2 is the rollup store's
    * `tbl=… / stat_date=…`, depth 1 a flat layout like the ANN index
    * store's `c_id=*` ([[VecIndexStore]]). Generalizing THIS listing (and
    * the store-relative dir names below) is all it takes for the
    * manifest + staged `_compact` + additive-swap machinery to maintain
    * any partitioned append-only store.
    */
  private[graft] def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, depth: Int): Array[org.apache.hadoop.fs.Path] = {
    def level(ps: Array[org.apache.hadoop.fs.Path]) = ps.flatMap(p =>
      fs.listStatus(p).filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath))
    (1 to depth).foldLeft(Array(base))((ps, _) => level(ps))
  }

  /** `base`-relative dir name of a partition dir `depth` levels down. */
  private def relDirName(d: org.apache.hadoop.fs.Path, depth: Int): String =
    if (depth == 1) d.getName else s"${d.getParent.getName}/${d.getName}"

  private[graft] def swapInAdditive(fs: org.apache.hadoop.fs.FileSystem,
                                    root: org.apache.hadoop.fs.Path,
                                    staged: org.apache.hadoop.fs.Path,
                                    depth: Int = 2): Unit = {
    val folded = readManifest(fs, root)
    val byDir = folded.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    def dropFolded(relDir: String): Unit =
      byDir.getOrElse(relDir, Nil).foreach { rel =>
        val src = new org.apache.hadoop.fs.Path(root, rel)
        if (fs.exists(src))
          require(fs.delete(src, false), s"compact swap: cannot delete $src")
      }
    val stagedDirs = partitionDirs(fs, staged, depth)
    val covered = stagedDirs.map(d => relDirName(d, depth)).toSet
    stagedDirs.foreach { d =>
      val relDir = relDirName(d, depth)
      val destDir = new org.apache.hadoop.fs.Path(root, relDir)
      require(fs.mkdirs(destDir) || fs.exists(destDir),
        s"compact swap: cannot create $destDir")
      dropFolded(relDir) // sources out first: a racing reader may undercount, never double-count
      fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val dest = new org.apache.hadoop.fs.Path(destDir, f.getPath.getName)
        if (fs.exists(dest))
          require(fs.delete(dest, false), s"compact swap: cannot clear $dest")
        require(fs.rename(f.getPath, dest),
          s"compact swap: rename ${f.getPath} -> $dest failed (concurrent writer?)")
      }
    }
    // fold sources whose partition vanished from the staged output (a TTL
    // rewrite can filter a boundary partition down to zero rows): still
    // deleted, and an emptied directory is tidied away
    byDir.keys.filterNot(covered).foreach { relDir =>
      dropFolded(relDir)
      val dir = new org.apache.hadoop.fs.Path(root, relDir)
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
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            staged: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(staged).filter(_.getPath.getName.startsWith("tbl="))
      .foreach { t =>
        val destTbl = new org.apache.hadoop.fs.Path(root, t.getPath.getName)
        require(fs.mkdirs(destTbl) || fs.exists(destTbl),
          s"compact swap: cannot create $destTbl")
        fs.listStatus(t.getPath).foreach { d =>
          val dest = new org.apache.hadoop.fs.Path(destTbl, d.getPath.getName)
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
    * (uncommitted → sources untouched, drop the garbage) a compaction a
    * crash interrupted. Idempotent; no-op when `_compact` is absent.
    *
    * LEASE GUARD (closes the r7/r8 concurrent-recover hazard): a `_compact`
    * younger than the compactor's lease is an IN-FLIGHT compaction, not a
    * crash — recovery leaves it (and the lease) completely alone. Reads
    * stay correct against the un-swapped store (merge-on-read folds the
    * very duplicates compaction would have folded), and the live compactor
    * swaps in when its staged write commits. Only once the lease has aged
    * out does recovery treat `_compact` as crash debt: finish it if
    * `_SUCCESS` committed, discard it otherwise, and clear the orphan
    * lease either way.
    */
  private[graft] def recover(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             staged: org.apache.hadoop.fs.Path,
                             leaseMs: Long = CompactLeaseMs,
                             depth: Int = 2): Unit =
    if (!leaseIsYoung(fs, root, leaseMs)) {
      if (fs.exists(staged)) {
        // re-check the lease IMMEDIATELY before acting: a compactor may
        // have taken it between our first check and the exists() above
        // (this host's documented steal spikes can park a thread for
        // many seconds) — the destructive branch must see a fresh view
        if (leaseIsYoung(fs, root, leaseMs)) return
        if (fs.exists(new org.apache.hadoop.fs.Path(staged, "_SUCCESS"))) {
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
    * `compact()`. Two failure modes this closes (both real data loss):
    * a crash mid-swap leaves one partition's dest dir deleted with its
    * staged replacement not yet renamed in — a read that skipped recovery
    * would silently return a store missing that partition's rows; and an
    * `appendStateSlice` that landed a fresh slice in such a partition
    * BEFORE the next compact would have that slice deleted when recover's
    * swapIn later replaced the whole directory. Recovering first means no
    * slice can ever land in (and no read can ever observe) a half-swapped
    * store. Cost when healthy: one `exists` on `_compact`, nothing else.
    */
  private def recoverIfNeeded(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      recover(fs, root, new org.apache.hadoop.fs.Path(root, "_compact"))
  }

  /** TTL-enforced read: each table only yields rows newer than its
    * retention, with the cutoff expressed on the PARTITION columns so the
    * planner prunes expired directories at listing time
    * (`.explain` shows them in PartitionFilters, not PushedFilters).
    */
  def readRetained(spark: SparkSession, path: String, nowSec: Long): DataFrame = {
    val keep = RollupConfig.tables.map { t =>
      val retention = RollupConfig.reference.flatMap(_.windows)
        .find(_.table == t).get.retentionSec
      val cutoff = java.time.LocalDate.ofInstant(
        java.time.Instant.ofEpochSecond(nowSec - retention),
        java.time.ZoneOffset.UTC)
      col("tbl") === t && col("stat_date") >= lit(cutoff.toString).cast("date")
    }.reduce(_ || _)
    read(spark, path).filter(keep).filter(col("stat_time") > {
      // exact row-level TTL on top of the coarse partition prune
      val retentionOf = RollupConfig.tables.foldLeft(lit(0L)) { (acc, t) =>
        when(col("tbl") === t,
          RollupConfig.reference.flatMap(_.windows).find(_.table == t).get.retentionSec)
          .otherwise(acc)
      }
      lit(nowSec) - retentionOf
    })
  }

  /** PHYSICAL TTL expiry — the `default_time_to_live` half of the
    * reference's retention model (datastore/metricmanager.go:166-171:
    * Cassandra physically removes expired rows) that [[readRetained]]'s
    * read-time filter doesn't cover: without it a 100 TB store grows
    * without bound. Two-grained, matching the partition layout:
    *
    *  1. every `(tbl, stat_date)` directory STRICTLY older than its
    *     table's cutoff date is dropped wholesale — a directory delete per
    *     expired day, no data read (the no-tombstone promise of the layout);
    *  2. each table's BOUNDARY directory (`stat_date` == the cutoff's own
    *     date) can hold both expired and live rows, so it is rewritten
    *     through the same manifest + staged `_compact` + additive-swap
    *     machinery compaction uses — crash anywhere and [[recover]]
    *     finishes or discards it, and a slice appended mid-rewrite
    *     survives (it is not in the manifest).
    *
    * Maintenance cost scales with days crossing the retention horizon
    * since the last run (one dir delete each) plus |tables| boundary
    * rewrites of one day's rows — independent of store size. Takes the
    * compaction lease (directory deletes racing a compactor's staged read
    * would resurrect dropped rows at swap time); a live lease skips the
    * pass, like `compact`. After this, `read` == `readRetained(nowSec)`
    * row-for-row: the filter has nothing left to remove.
    */
  def dropExpired(spark: SparkSession, path: String, nowSec: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val staged = new org.apache.hadoop.fs.Path(root, "_compact")
    if (leaseIsYoung(fs, root, CompactLeaseMs)) return
    recover(fs, root, staged, CompactLeaseMs)
    if (!acquireLease(fs, root)) return
    val heartbeat = startHeartbeat(fs, root, CompactLeaseMs)
    try {
      val cutoffs = RollupConfig.tables.map { t =>
        t -> (nowSec - RollupConfig.reference.flatMap(_.windows)
          .find(_.table == t).get.retentionSec)
      }.toMap
      var boundaries = List.empty[org.apache.hadoop.fs.Path]
      cutoffs.foreach { case (t, cutoffSec) =>
        val cutoffDate = java.time.LocalDate.ofInstant(
          java.time.Instant.ofEpochSecond(cutoffSec), java.time.ZoneOffset.UTC)
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, s"tbl=$t/stat_date=*")))
          .getOrElse(Array.empty).map(_.getPath).foreach { d =>
            val date = java.time.LocalDate.parse(d.getName.stripPrefix("stat_date="))
            if (date.isBefore(cutoffDate))
              require(fs.delete(d, true), s"ttl drop: cannot delete $d")
            else if (date == cutoffDate &&
              fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
              boundaries ::= d
          }
      }
      if (boundaries.nonEmpty) {
        val folded = boundaries.flatMap(d =>
          fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => s"${d.getParent.getName}/${d.getName}/${f.getPath.getName}"))
        writeManifest(fs, root, folded)
        val rowCutoff = RollupConfig.tables.foldLeft(lit(0L)) { (acc, t) =>
          when(col("tbl") === t, cutoffs(t)).otherwise(acc)
        }
        // read exactly the manifest files (see compact: a slice landing
        // between listing and scan must not be rewritten AND survive)
        spark.read.option("basePath", path)
          .parquet(folded.map(f => new org.apache.hadoop.fs.Path(root, f).toString): _*)
          .filter(col("stat_time") > rowCutoff)
          .repartition(col("tbl"), col("stat_date"))
          .write.mode("overwrite").option("maxRecordsPerFile", 5000000)
          .partitionBy("tbl", "stat_date").parquet(staged.toString)
        swapInAdditive(fs, root, staged)
      }
    } finally {
      heartbeat.interrupt()
      fs.delete(leasePath(root), false)
    }
  }
}
