package graft.ops

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}

/** Hadoop's checksummed local filesystem, setting permissions without
  * a process fork.
  *
  * Why it exists: without libhadoop (`NativeIO` unavailable),
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod")`
  * as a child process, and the raw layer calls it for every file it
  * creates (each data file and its `.crc`) and every directory it
  * makes. A parquet write of a few small files therefore forks dozens
  * of `chmod`s, each costing milliseconds, so a local write's cost
  * grows with the paths it creates rather than with its bytes. This
  * class applies the same mode bits with
  * `java.nio.file.Files.setPosixFilePermissions` (one syscall).
  *
  * What stays the same: the files and directories created, the `.crc`
  * checksum files, and the permission bits of each (the raw layer still
  * applies the umask and the defaults; only the last step, setting the
  * computed bits, changes). Bits NIO cannot express (sticky, setuid,
  * setgid) and a default filesystem that is not POSIX take the stock
  * path.
  *
  * The companion is the one entry point for program-owned local I/O:
  * [[write]] for path-based DataFrame writes and [[fsOf]] for
  * FileSystem handles. Both select this class for `file:` paths
  * through per-write options and a per-handle conf, never through the
  * session conf, so writes the program does not own keep the stock
  * filesystem. Other URI schemes are untouched.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs)

object LocalFs {

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission.values is ordered owner rwx, group rwx, others
  // rwx: value i is mode bit 8 - i
  private val permBits = PosixFilePermission.values.toIndexedSeq.zipWithIndex

  private[ops] final class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        permBits.foreach { case (perm, i) => if ((mode & (1 << (8 - i))) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }

  /** Hadoop conf entries that select [[LocalFs]] for `file:` paths.
    * Hadoop caches one filesystem per scheme and the stock instance
    * exists from session start, so the cache is bypassed too. */
  private val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.write` with [[Conf]] among its options. Spark copies a write's
    * options into that write's Hadoop conf, which reaches both the
    * driver (committer, `_SUCCESS`) and the tasks (part files, `.crc`).
    * For path-based writes only: `saveAsTable` persists write options
    * into the catalog. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(Conf)

  /** The FileSystem of `path` under the session's Hadoop conf plus
    * [[Conf]]: a fresh, uncached handle. */
  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConfWithOptions(Conf))
}
