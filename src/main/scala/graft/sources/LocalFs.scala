package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without process forks. Without libhadoop, Hadoop's
  * [[RawLocalFileSystem]] runs `chmod` for every file and directory it
  * creates and `readlink` for every link-status probe (two per
  * `FileContext` rename) — ~30 processes per streaming micro-batch, which
  * is most of each `walCommit`/`commitOffsets` log write. This subclass
  * sets mode bits through `java.nio`'s POSIX attribute view and answers
  * link status from `Files.isSymbolicLink` plus [[getFileStatus]]; Hadoop's
  * own code still handles what `java.nio` cannot express (the sticky bit)
  * and real symlinks. `src/main/resources/core-site.xml` binds the scheme,
  * for [[org.apache.hadoop.fs.FileSystem]] and [[org.apache.hadoop.fs.FileContext]] alike. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xFFFF
    if ((mode & ~0x1FF) != 0 || !LocalFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posixBits(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` twin of Hadoop's `RawLocalFs` (whose constructors are
  * package-private) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` local
  * filesystem, like Hadoop's `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private[sources] object LocalFs {
  val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** rwxrwxrwx mode bits → the POSIX permission set (enum order is bit order). */
  def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}
