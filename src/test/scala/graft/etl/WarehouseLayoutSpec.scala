package graft.etl

import graft.TestSpark
import org.apache.spark.graft.JobMeter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse storage layout: a date-partitioned write leaves one file
  * per date, an overwrite replaces exactly the scope it states, a table
  * opens without a schema job, and the count report is one scan of every
  * table.
  */
class WarehouseLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_layout_").toString

  private lazy val wh: Warehouse = new Warehouse(spark, freshRoot())
  private lazy val pipeline = new Pipeline(wh)

  /** (layer, table) of every table directory under the warehouse root. */
  private def tables(w: Warehouse): Seq[(String, String)] =
    for {
      layer <- Seq("bronze", "silver", "gold")
      dir   <- Option(new java.io.File(w.root, layer).listFiles()).toSeq.flatten.sortBy(_.getName)
      if dir.isDirectory
    } yield (layer, dir.getName)

  test("one overwrite of a 4-partition frame over 5 dates leaves one file per date") {
    import spark.implicits._
    val w = new Warehouse(spark, freshRoot())
    val df = (0 until 200).map(i => (i, s"2024-05-0${i % 5 + 1}", i * 0.5))
      .toDF("id", "date_s", "v")
      .select(col("id"), col("date_s").cast("date").as("date"), col("v"))
      .repartition(4)
    w.overwrite(df, "bronze", "clustered")
    val dirs = new java.io.File(w.path("bronze", "clustered")).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("date=")).sortBy(_.getName)
    assert(dirs.length === 5)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName}: ${files.map(_.getName).mkString(", ")}")
    }
    assert(w.load("bronze", "clustered").count() === 200L)
  }

  private def day(i: Int) = java.sql.Date.valueOf(f"2024-05-$i%02d")

  /** Ten (id, date, v) rows on each of the given days of May 2024. */
  private def onDays(days: Int*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    days.flatMap(i => (0 until 10).map(j => (i * 100 + j, day(i), j * 0.5))).toDF("id", "date", "v")
  }

  private def dates(w: Warehouse, table: String): Set[String] =
    w.load("bronze", table).select(col("date").cast("string")).distinct().collect()
      .map(_.getString(0)).toSet

  /** Every file under a table's directory, by path relative to it. */
  private def files(w: Warehouse, table: String): Map[String, Set[String]] = {
    val root = new java.io.File(w.path("bronze", table))
    root.listFiles().filter(_.isDirectory).map(d => d.getName -> d.list().toSet).toMap +
      ("" -> root.listFiles().filter(_.isFile).map(_.getName).toSet)
  }

  test("a whole overwrite replaces every date the table held") {
    val w = new Warehouse(spark, freshRoot())
    w.overwrite(onDays(1, 2, 3, 4, 5), "bronze", "t")
    w.overwrite(onDays(4, 5, 6), "bronze", "t")
    assert(dates(w, "t") === Set(4, 5, 6).map(i => day(i).toString))
    assert(w.load("bronze", "t").count() === 30L)
  }

  test("a dated overwrite deletes a named date it has no rows for and leaves the others' files") {
    val w = new Warehouse(spark, freshRoot())
    w.overwrite(onDays(1, 2, 3, 4, 5), "bronze", "t")
    val before = files(w, "t")
    w.overwrite(onDays(3).where(col("id") < 305), "bronze", "t", Seq(day(2), day(3)))
    val after = files(w, "t")
    assert(dates(w, "t") === Set(1, 3, 4, 5).map(i => day(i).toString))
    assert(w.load("bronze", "t").where(col("date") === day(3)).count() === 5L)
    Seq(1, 4, 5).map(i => s"date=${day(i)}").foreach(d => assert(after(d) === before(d), d))
    assert(!after.contains(s"date=${day(2)}"))
  }

  test("a dated overwrite with a row outside its dates throws and leaves every file") {
    val w = new Warehouse(spark, freshRoot())
    w.overwrite(onDays(1, 2, 3), "bronze", "t")
    val before = files(w, "t")
    assertThrows[IllegalArgumentException] {
      w.overwrite(onDays(2, 4), "bronze", "t", Seq(day(2)))
    }
    assert(files(w, "t") === before)
    assert(new java.io.File(w.path("bronze", "")).list().toSet === Set("t"))
    assert(w.load("bronze", "t").count() === 30L)
  }

  test("a dated overwrite whose swap fails keeps the date for the next write to restore") {
    val w = new Warehouse(spark, FaultyFs.freshRoot(spark))
    w.overwrite(onDays(1, 2, 3), "bronze", "t")
    // day 1 has no stage rows and is deleted on purpose; day 2's rows fail to swap in
    FaultyFs.failingRenameTo(s"${w.path("bronze", "t")}/date=${day(2)}") {
      intercept[java.io.IOException] {
        w.overwrite(onDays(2).where(col("id") < 205), "bronze", "t", Seq(day(1), day(2)))
      }
    }
    w.overwrite(onDays(4), "bronze", "t", Seq(day(4)))
    assert(dates(w, "t") === Set(2, 3, 4).map(i => day(i).toString))
    assert(w.load("bronze", "t").count() === 30L, "day 2 lost its rows")
  }

  test("a whole overwrite whose swap fails keeps the table for the next write to restore") {
    val w = new Warehouse(spark, FaultyFs.freshRoot(spark))
    w.overwrite(onDays(1, 2, 3), "bronze", "t")
    FaultyFs.failingRenameTo(w.path("bronze", "t")) {
      intercept[java.io.IOException](w.overwrite(onDays(5), "bronze", "t"))
    }
    w.overwrite(onDays(4), "bronze", "t", Seq(day(4)))
    assert(dates(w, "t") === Set(1, 2, 3, 4).map(i => day(i).toString))
    assert(w.load("bronze", "t").count() === 40L)
  }

  test("after runAll every table loads with the inferred schema and no Spark job") {
    pipeline.initBronze(nSales = 1000, nInventory = 250, nEquipment = 500, nFeedback = 100)
    pipeline.runAll(java.sql.Date.valueOf("2025-06-20"))
    val ts = tables(wh)
    assert(ts.size > 20, ts)
    val inferred = ts.map { case (l, t) => spark.read.parquet(wh.path(l, t)).schema }
    val meter = JobMeter(spark.sparkContext)
    meter.reset()
    val loaded = ts.map { case (l, t) => wh.load(l, t).schema }
    val jobs = meter.read().jobs
    assert(jobs.isEmpty, s"${jobs.size} jobs at ${jobs.map(_.site).distinct.mkString(", ")}")
    ts.zip(loaded.zip(inferred)).foreach { case (lt, (got, want)) =>
      assert(got === want, s"$lt")
    }
  }

  test("report counts every table in one scan, with a 0 row for an empty table") {
    // an existing but empty table: a non-partitioned write of no rows
    // still leaves one data file carrying the schema
    wh.overwrite(wh.load("gold", "dim_marketing_events").limit(0), "gold", "dim_marketing_events")
    val meter = JobMeter(spark.sparkContext)
    meter.reset()
    val got = pipeline.report().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toSeq
    assert(meter.read().jobs.size <= 2)
    val want = got.map { case (lt @ (l, t), _) => lt -> wh.load(l, t).count() }
    assert(got === want)
    assert(got.map(_._1) === got.map(_._1).sorted)
    assert(got.toMap.get(("gold", "dim_marketing_events")).contains(0L))
    assert(got.toMap.get(("gold", "fact_sales")).exists(_ > 0L))
  }
}
