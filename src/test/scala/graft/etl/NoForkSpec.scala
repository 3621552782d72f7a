package graft.etl

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.TestSpark
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.scalatest.funsuite.AnyFunSuite

/** A medallion cycle starts no operating-system process. Without the
  * native `libhadoop`, the stock local filesystem forks `chmod` for each
  * file and directory it creates and `ls -ld` for each file status whose
  * permission is read, so a fork per warehouse file would show here as
  * one `jdk.ProcessStart` event.
  */
class NoForkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Spark removes a garbage-collected session's artifact directory with
    * `rm -rf`, on a JDK cleaner thread, whenever a GC finds the session:
    * the sessions of earlier suites, not work of the cycle.
    */
  private def sessionCleanup(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))

  test("a medallion cycle, compaction of every append table included, starts no process") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_nofork_").toString)
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 300, nInventory = 100, nEquipment = 100, nFeedback = 50)
    // Spark's executor heartbeat forks `getconf PAGESIZE` once per JVM, on
    // its first metrics poll, whenever that falls; take it before the cycle
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val file = Files.createTempFile("graft_nofork_", ".jfr")
    val rec  = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(file)
      rec.start()
      try p.runAll(java.sql.Date.valueOf("2025-06-20"))
      finally rec.stop()
    } finally rec.close()
    val commands = RecordingFile.readAllEvents(file).asScala.filterNot(sessionCleanup)
      .map(_.getString("command")).toSeq
    Files.delete(file)
    // one line per program and first argument (`chmod 0644`), then a few whole commands
    if (commands.nonEmpty) fail(s"${commands.size} process starts:\n" +
      commands.groupBy(_.split(" ").take(2).mkString(" ")).toSeq.sortBy(-_._2.size)
        .map { case (c, cs) => s"${cs.size} x $c" }.mkString("\n") +
      commands.take(5).mkString("\ne.g. ", "\ne.g. ", ""))
  }
}
