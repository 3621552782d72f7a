package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The warehouse as seen from outside: its files, walked on disk. */
object WarehouseWalk {
  /** Data file path → (bytes, mtime) under `root`, Spark's hidden
    * checksum and marker files left out.
    */
  def snapshot(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root))
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length(), f.lastModified()))
      .toMap
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
}
