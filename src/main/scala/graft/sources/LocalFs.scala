package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf

/** The `file:` filesystem of the production mains' session: Hadoop's own
  * local filesystem minus its process forks.
  *
  * Without `libhadoop`, `RawLocalFileSystem` starts a process for two
  * calls: `setPermission` runs `chmod` on every file or directory it
  * creates, and `getFileLinkStatus` runs `readlink` (twice per rename:
  * once in `AbstractFileSystem.renameInternal`, once in
  * `FileSystem.rename`). A checkpointed micro-batch writes an offset log,
  * a commit log, the file-source log and one state delta per state
  * partition, each with its checksum file, so it forked dozens of
  * processes a trigger. [[NioRawLocalFileSystem]] answers both calls through
  * `java.nio` instead. Everything else is Hadoop's: the `.crc` sidecars of
  * `LocalFileSystem`/`ChecksumFs`, rename and overwrite semantics, and the
  * umask-applied modes, so checkpoints written by either resume under the
  * other.
  */
object LocalFs {
  /** The two Hadoop keys, in their `spark.hadoop.` form, that select the
    * `file:` filesystem for the `FileSystem` and the `FileContext` API. */
  val FileSystemKey = "spark.hadoop.fs.file.impl"
  val AbstractFileSystemKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** The confs a session needs to use this filesystem: both keys, less
    * any the SparkConf already names (`-Dspark.hadoop.fs.file.impl=...`,
    * `spark-submit --conf`), which then stands. */
  def confs(conf: SparkConf): Seq[(String, String)] =
    Seq(FileSystemKey -> classOf[NioLocalFileSystem].getName,
      AbstractFileSystemKey -> classOf[NioLocalFs].getName)
      .filterNot { case (k, _) => conf.contains(k) }

  // PosixFilePermission.values is ordered owner rwx, group rwx, others rwx:
  // the mode bits 0400 down to 0001
  private val modeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (1 << (8 - i)) }

  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    modeBits.foreach { case (p, bit) => if ((mode & bit) != 0) perms.add(p) }
    perms
  }
}

/** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus` done
  * in-process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits `chmod` would set, on the same (symlink-followed)
    * file. The sticky bit, which `java.nio` cannot set, and a file store
    * without a POSIX view keep Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        LocalFs.posix(permission.toShort))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  /** A path that is not a symlink gets `getFileStatus`, which is what
    * Hadoop returns once `readlink` prints nothing; a missing path throws
    * its `FileNotFoundException`. Real symlinks keep Hadoop's path. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]: Hadoop's `LocalFileSystem`, `.crc` sidecars
  * included. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[NioRawLocalFileSystem]], with
  * Hadoop's `RawLocalFs` overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
      false) {
  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`)
  * that `FileContext`, and so Spark's checkpoint manager, uses: Hadoop's
  * `LocalFs` over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
