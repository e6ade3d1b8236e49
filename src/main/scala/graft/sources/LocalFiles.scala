package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem under graft's own scheme,
  * `graftfile:`, for the local files graft writes itself: the files
  * [[ParquetFiles]] publishes, [[RollupStore]]'s maintenance files and the
  * checkpoint of every query graft starts.
  *
  * It is `LocalFileSystem` with one change: permissions are set through
  * `java.nio.file.Files.setPosixFilePermissions`. Hadoop's own
  * `RawLocalFileSystem` forks a `chmod` process for every file it creates
  * when Hadoop's native IO library is missing. The bytes on disk, the
  * `.crc` side files and the rename semantics are Hadoop's.
  *
  * Structured Streaming finds no `FileContext` implementation for the
  * scheme, so a checkpoint here is kept by Spark's
  * `FileSystemBasedCheckpointFileManager`, whose renames are
  * `RawLocalFileSystem.rename` (no process either; the `FileContext`
  * manager forks `readlink` for each rename without native IO). That
  * manager fences a second writer of the same checkpoint with a
  * check-then-rename, which is not one atomic step. Only checkpoints with
  * one writer go here: each is a fresh directory of one query
  * ([[checkpoint]]), and a local rename(2) is atomic.
  *
  * Hadoop finds the class through
  * `META-INF/services/org.apache.hadoop.fs.FileSystem`, which it consults
  * for any scheme with no `fs.<scheme>.impl`, so no configuration is set.
  * Paths are converted at the FileSystem boundary only ([[path]]): the
  * paths callers, manifests and listings see keep their form.
  */
final class LocalFiles extends LocalFileSystem(new LocalFiles.Raw) {
  override def getScheme: String = LocalFiles.Scheme
}

object LocalFiles {

  private val Scheme = "graftfile"

  private val Root = URI.create(s"$Scheme:///")

  /** `PosixFilePermission.values` is in mode-bit order, owner read first. */
  private val PosixBits = PosixFilePermission.values.toSeq

  private final class Raw extends RawLocalFileSystem {
    override def getUri: URI = Root

    /** A `file:` path names the same local file. `LocalFileSystem`'s copy
      * methods read and write both ends through this filesystem, and
      * RocksDB's state store copies between its local `file:` directory
      * and the checkpoint with them.
      */
    override protected def checkPath(p: Path): Unit =
      if (p.toUri.getScheme != "file") super.checkPath(p)

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixBits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) set.add(b) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }

  /** `p` on this filesystem when it is local (no scheme, or `file:`),
    * made absolute; a path of any other scheme is returned unchanged.
    */
  def path(p: String): Path = {
    val given = new Path(p)
    val uri = given.toUri
    if (uri.getScheme != null && uri.getScheme != "file") given
    else new Path(Scheme, null, new java.io.File(uri.getPath).getAbsolutePath)
  }

  /** A fresh empty directory for one query's checkpoint, as a location
    * on this filesystem. Whoever starts the query deletes it
    * ([[deleteCheckpoint]]) when the query ends.
    */
  def checkpoint(): String =
    path(Files.createTempDirectory("graft_checkpoint").toString).toString

  def deleteCheckpoint(location: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(new Path(location).toUri.getPath))

  /** `run` with a fresh [[checkpoint]], deleted when `run` returns. */
  def withCheckpoint[A](run: String => A): A = {
    val location = checkpoint()
    try run(location) finally deleteCheckpoint(location)
  }
}
