package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every [[GraftSession]]: Hadoop's checksummed
  * local filesystem over [[LocalFs.Raw]]. Without the native `libhadoop`,
  * the stock raw filesystem sets a mode by forking `chmod`, and it sets one
  * on every file and directory it creates: a parquet part file, its `.crc`,
  * `_SUCCESS`, each `_temporary` attempt directory and each `date=`
  * directory. Checksums, renames and the commit protocol are Hadoop's own.
  * [[LocalFs.Fs]] is the same for Hadoop's `FileContext`, which Spark's
  * streaming checkpoints write through.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` that sets the same mode bits in-process, with one
    * `chmod` syscall instead of a forked `chmod` command. A sticky bit, which
    * `java.nio` cannot express, or a filesystem without POSIX modes keeps the
    * stock path.
    *
    * It also answers `getFileLinkStatus` of a path that is not a symbolic
    * link, as `FileContext` asks before each rename, without the stock
    * `readlink` fork: `java.nio` says the path is no link, and the status is
    * then the plain file status, as the stock call returns when `readlink`
    * prints nothing. A symbolic link keeps the stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      }

    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p) else getFileStatus(p)
  }

  /** The `file://` filesystem of `FileContext` (`fs.AbstractFileSystem.file.impl`):
    * Hadoop's own `org.apache.hadoop.fs.local.LocalFs`, checksums over a raw
    * local filesystem, with [[Raw]] as the raw one.
    */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** `FileContext` over [[Raw]], configured as Hadoop's `RawLocalFs`. */
  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
