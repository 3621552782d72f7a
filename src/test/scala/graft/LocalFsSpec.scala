package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file://` filesystem sets the modes the stock local
  * filesystem sets. It is resolved as a warehouse resolves it, from the
  * session's Hadoop configuration on the root's URI: Hadoop caches a
  * filesystem per scheme and user, not per configuration, so a stock one
  * created first would silently stay in use.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val root  = Files.createTempDirectory("graft_localfs_")
  private lazy val fs    = new Path(root.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private lazy val stock: FileSystem = {
    val raw = new RawLocalFileSystem
    raw.initialize(URI.create("file:///"), new Configuration())
    raw
  }

  private def mode(rel: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(root.resolve(rel)))

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def touch(filesystem: FileSystem, p: String): Path = {
    val f = new Path(root.toString, p)
    val out = filesystem.create(f)
    try out.write(1) finally out.close()
    f
  }

  test("the session resolves a warehouse root to LocalFs") {
    assert(fs.isInstanceOf[LocalFs], fs.getClass.getName)
  }

  test("a created file and a new nested directory get the stock filesystem's modes") {
    touch(fs, "graft/date=2024-05-01/part-0.parquet")
    touch(stock, "stock/date=2024-05-01/part-0.parquet")
    fs.mkdirs(new Path(root.toString, "graft/a/b"))
    stock.mkdirs(new Path(root.toString, "stock/a/b"))
    Seq("date=2024-05-01", "date=2024-05-01/part-0.parquet", "a", "a/b").foreach { rel =>
      assert(mode(s"graft/$rel") === mode(s"stock/$rel"), rel)
    }
    // Hadoop's default umask, 022
    assert(mode("graft/date=2024-05-01/part-0.parquet") === "rw-r--r--")
    assert(mode("graft/date=2024-05-01/.part-0.parquet.crc") === "rw-r--r--")
    assert(mode("graft/a/b") === "rwxr-xr-x")
  }

  test("an explicit setPermission of 0600 and of 0750 round-trips") {
    val f = touch(fs, "explicit/f")
    val d = f.getParent
    fs.setPermission(f, octal("600"))
    fs.setPermission(d, octal("750"))
    assert(mode("explicit/f") === "rw-------")
    assert(mode("explicit") === "rwxr-x---")
    assert(fs.getFileStatus(f).getPermission === octal("600"))
    assert(fs.getFileStatus(d).getPermission === octal("750"))
  }

  test("a sticky-bit permission takes effect through the stock fallback") {
    val d = new Path(root.toString, "sticky")
    fs.mkdirs(d)
    fs.setPermission(d, octal("1777"))
    val got = fs.getFileStatus(d).getPermission
    assert(got.getStickyBit, got)
    assert(got === octal("1777"))
  }
}
