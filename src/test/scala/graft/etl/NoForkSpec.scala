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

  /** The commands of the processes started while `body` ran, less the
    * session cleanups above.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    // Spark's executor heartbeat forks `getconf PAGESIZE` once per JVM, on
    // its first metrics poll, whenever that falls; take it before `body`
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val file = Files.createTempFile("graft_nofork_", ".jfr")
    val rec  = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(file)
      rec.start()
      try body
      finally rec.stop()
    } finally rec.close()
    val commands = RecordingFile.readAllEvents(file).asScala.filterNot(sessionCleanup)
      .map(_.getString("command")).toSeq
    Files.delete(file)
    commands
  }

  /** Fails listing `commands`: one line per program and first argument
    * (`chmod 0644`), then a few whole commands.
    */
  private def assertNone(commands: Seq[String]): Unit =
    if (commands.nonEmpty) fail(s"${commands.size} process starts:\n" +
      commands.groupBy(_.split(" ").take(2).mkString(" ")).toSeq.sortBy(-_._2.size)
        .map { case (c, cs) => s"${cs.size} x $c" }.mkString("\n") +
      commands.take(5).mkString("\ne.g. ", "\ne.g. ", ""))

  test("a medallion cycle, compaction of every append table included, starts no process") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_nofork_").toString)
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 300, nInventory = 100, nEquipment = 100, nFeedback = 50)
    assertNone(processStarts(p.runAll(java.sql.Date.valueOf("2025-06-20"))))
  }

  test("a streaming query that writes a checkpoint starts no process") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft_nofork_ckpt_")
    val input      = MemoryStream[Int]
    val query = input.toDF().writeStream.format("memory").queryName("graft_nofork_stream")
      .option("checkpointLocation", checkpoint.toString).start()
    try {
      // each batch writes its offsets, then its commit, through FileContext:
      // a temp file per entry, renamed into place
      val commands = processStarts {
        Seq(1 to 10, 11 to 20).foreach { rows =>
          input.addData(rows)
          query.processAllAvailable()
        }
      }
      assert(spark.table("graft_nofork_stream").count() === 20)
      assert(Files.exists(checkpoint.resolve("commits/1")), "the query committed no second batch")
      assertNone(commands)
    } finally query.stop()
  }
}
