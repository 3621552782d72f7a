package graft.etl

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The local file system under the `faulty://` scheme, whose `rename`
  * returns false, as a failed rename does, when its destination is the
  * path [[FaultyFs.failingRenameTo]] names. Spark's writers and
  * [[Warehouse]] run over it unchanged, and it sets file modes as the
  * session's `file://` filesystem does, without forking `chmod`.
  */
class FaultyFs extends graft.LocalFs.Raw {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = FaultyFs.Uri.getScheme

  override def rename(src: Path, dst: Path): Boolean =
    !FaultyFs.failing.contains(Path.getPathWithoutSchemeAndAuthority(dst)) && super.rename(src, dst)
}

object FaultyFs {
  private val Uri = URI.create("faulty:///")

  @volatile private var failing: Option[Path] = None

  /** A fresh warehouse root under the `faulty://` scheme, which `spark`
    * resolves to [[FaultyFs]] from then on.
    */
  def freshRoot(spark: SparkSession): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    s"faulty://${java.nio.file.Files.createTempDirectory("graft_faulty_")}"
  }

  /** Runs `body` with every rename onto `dst` failing. */
  def failingRenameTo[T](dst: String)(body: => T): T = {
    failing = Some(Path.getPathWithoutSchemeAndAuthority(new Path(dst)))
    try body
    finally failing = None
  }
}
