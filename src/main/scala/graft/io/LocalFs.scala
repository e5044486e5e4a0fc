package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's `RawLocalFileSystem` without its two per-file process
  * starts. Without the Hadoop native library, the stock class runs
  * `chmod` for every file or directory it creates with a permission
  * and `readlink` for every link-status lookup (twice per
  * `FileContext.rename`). Here both are `java.nio` calls:
  *  - `setPermission` with mode bits ≤ 0777 on a non-symlink is
  *    `Files.setPosixFilePermissions`;
  *  - `getFileLinkStatus` on a non-symlink (an lstat answers which)
  *    is `getFileStatus`, which is what the stock class returns there.
  * Symlinks and modes carrying setuid/setgid/sticky bits go to
  * Hadoop's own code, unchanged.
  */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if ((mode & ~RawLocalFileSystem.ModeBits) != 0 || Files.isSymbolicLink(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, RawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object RawLocalFileSystem {
  private val ModeBits = 0x1ff // 0777

  // PosixFilePermission declares owner r/w/x, group r/w/x, others r/w/x:
  // value i is mode bit 8 - i. Built from the bits, not from
  // `FsPermission.toString`: FileContext passes an `FsCreateModes`,
  // whose toString is not a mode string.
  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] =
    attribute.PosixFilePermission.values.zipWithIndex
      .collect { case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm }
      .toSet.asJava
}

/** `fs.file.impl`: the stock `LocalFileSystem` (`.crc` side files)
  * over [[RawLocalFileSystem]].
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** `FileContext` raw layer: Hadoop's `RawLocalFs` over
  * [[RawLocalFileSystem]] (the stock class cannot take another
  * delegate, so its overrides are repeated here).
  */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the stock `LocalFs` (`ChecksumFs`,
  * same `.crc` layout) over [[RawLocalFs]].
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

object LocalFs {

  /** The Hadoop conf keys that route `file://` to these classes. */
  val Impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
}
