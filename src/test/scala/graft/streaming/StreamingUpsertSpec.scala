package graft.streaming

import graft.TestSpark
import graft.etl.Warehouse
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

// top-level so Spark can derive the encoder without an outer scope
final case class Upd(k: String, v: Int, version: java.sql.Timestamp)
final case class DatedUpd(k: String, v: Int, version: java.sql.Timestamp, date: java.sql.Date)

/** Streaming MERGE into the warehouse: newer-wins across micro-batches,
  * ties keep the already-merged row (idempotent re-delivery).
  */
class StreamingUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-03-01 09:$m%02d:00")

  test("foreachBatch MERGE applies newer-wins upserts per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh  = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_supsert_").toString)
    val src = MemoryStream[Upd]
    val q = StreamingUpsert.start(
      src.toDF(), wh, "silver", "state", Seq("k"), "version")
    try {
      src.addData(Upd("a", 1, ts(0)), Upd("b", 1, ts(5)))
      q.processAllAvailable()
      assert(wh.load("silver", "state").count() == 2)

      // a: newer -> replaces; b: older -> ignored; c: new -> inserted
      src.addData(Upd("a", 2, ts(10)), Upd("b", 99, ts(0)), Upd("c", 7, ts(5)))
      q.processAllAvailable()
      val rows = wh.load("silver", "state")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(rows == Map("a" -> 2, "b" -> 1, "c" -> 7), rows.toString)

      // replayed batch: exact ties lose to the merged target (idempotent)
      src.addData(Upd("a", 2, ts(10)))
      q.processAllAvailable()
      val again = wh.load("silver", "state")
      assert(again.count() == 3)
      assert(again.where(col("k") === "a").head().getInt(1) == 2)
    } finally q.stop()
  }

  test("a micro-batch rewrites only the date partitions of its new and replaced rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh  = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_supsert_dated_").toString)
    def day(d: Int) = java.sql.Date.valueOf(f"2025-03-$d%02d")
    def files(): Map[String, Set[String]] =
      new java.io.File(wh.path("silver", "state")).listFiles()
        .filter(_.getName.startsWith("date="))
        .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    val src = MemoryStream[DatedUpd]
    val q = StreamingUpsert.start(
      src.toDF(), wh, "silver", "state", Seq("k"), "version")
    try {
      src.addData(DatedUpd("a", 1, ts(0), day(1)), DatedUpd("e", 1, ts(0), day(1)),
        DatedUpd("b", 1, ts(0), day(2)), DatedUpd("c", 1, ts(0), day(3)))
      q.processAllAvailable()
      val first = files()

      // only new keys: an append, no existing file rewritten
      src.addData(DatedUpd("d", 1, ts(0), day(4)))
      q.processAllAvailable()
      val second = files()
      assert(second - "date=2025-03-04" === first)

      // a newer version of a moves it from day 1 to day 2
      src.addData(DatedUpd("a", 2, ts(10), day(2)))
      q.processAllAvailable()
      val third = files()
      Seq("date=2025-03-01", "date=2025-03-02").foreach { d =>
        assert(third(d).intersect(second(d)).isEmpty, s"$d was not rewritten")
      }
      assert(third - "date=2025-03-01" - "date=2025-03-02" ===
        second - "date=2025-03-01" - "date=2025-03-02")
      val rows = wh.load("silver", "state")
        .collect().map(r => r.getAs[String]("k") -> (r.getAs[Int]("v"), r.getAs[java.sql.Date]("date")))
        .toMap
      assert(rows === Map("a" -> (2, day(2)), "b" -> (1, day(2)), "c" -> (1, day(3)),
        "d" -> (1, day(4)), "e" -> (1, day(1))), rows.toString)
    } finally q.stop()
  }
}
