package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every [[GraftSession]]: Hadoop's checksummed
  * local filesystem over [[LocalFs.Raw]]. Without the native `libhadoop`,
  * the stock raw filesystem sets a mode by forking `chmod`, and it sets one
  * on every file and directory it creates: a parquet part file, its `.crc`,
  * `_SUCCESS`, each `_temporary` attempt directory and each `date=`
  * directory. Checksums, renames and the commit protocol are Hadoop's own.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` that sets the same mode bits in-process, with one
    * `chmod` syscall instead of a forked `chmod` command. A sticky bit, which
    * `java.nio` cannot express, or a filesystem without POSIX modes keeps the
    * stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      }
  }
}
