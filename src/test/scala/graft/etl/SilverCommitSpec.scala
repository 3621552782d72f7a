package graft.etl

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Silver as the processed set: a bronze row is pending until its key is
  * in silver, and each batch reaches silver with one append. Covers the
  * batch's key uniqueness, the late-inventory reconcile's crash window,
  * and the compaction of the files late batches add to old dates.
  */
class SilverCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_silverwh_").toString)

  private def keys(wh: Warehouse): (Long, Long) = {
    val s = wh.load("silver", "sales_events")
    (s.count(), s.select(col("event_id")).distinct().count())
  }

  test("a key repeated inside one bronze batch lands once in silver, first cycle and later") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    // the same 500 sales sent twice before the first cycle
    p.appendBronzeSales(Generators.salesEvents(spark, 500))
    p.bronzeToSilver()
    assert(keys(wh) === ((500L, 500L)), "first cycle kept a repeated key twice")

    // a later batch, also sent twice
    (1 to 2).foreach(_ => p.appendBronzeSales(Generators.salesEvents(spark, 300, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 1000000L)))
    p.bronzeToSilver()
    assert(keys(wh) === ((800L, 800L)), "later cycle kept a repeated key twice")
  }

  test("generated sales keys stay distinct past 10 digits, zero-padded below") {
    val ids = Generators.salesEvents(spark, 250, idOffset = 10200000000L)
      .select(col("event_id")).collect().map(_.getString(0))
    assert(ids.distinct.length === 250, "an 11-digit idOffset collapsed distinct sales onto one key")
    assert(ids.contains("EVT_10200000249"))
    assert(Generators.salesEvents(spark, 6).select(col("event_id")).collect()
      .map(_.getString(0)).toSeq === (0 until 6).map(i => s"EVT_000000000$i"))
  }

  test("a late-inventory date is recorded before the reconcile rewrites silver") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))

    // re-send one processed update_id with a newer ingestion_time
    val old = wh.load("bronze", "inventory_updates").orderBy(col("update_id")).limit(1)
    val id  = old.select(col("update_id")).first().getString(0)
    val day = old.select(col("date")).first().getDate(0)
    val hours = old.select(col("late_arrival_hours")).first().getDouble(0) + 1.0
    wh.append(old
      .withColumn("ingestion_time", col("ingestion_time") + expr("INTERVAL 1 HOUR"))
      .withColumn("late_arrival_hours", lit(hours))
      .withColumn("processing_status", lit("LATE_ARRIVAL")),
      "bronze", "inventory_updates")

    // a plain file where the pending-dates append stages its output
    val dir = new java.io.File(wh.path("silver", "gold_pending_dates"), "domain=inventory_updates")
    assert(dir.mkdirs())
    val squat = new java.io.File(dir, "_temporary")
    assert(squat.createNewFile())
    intercept[Exception](p.bronzeToSilver())

    assert(squat.delete())
    p.bronzeToSilver()
    val pending = wh.load("silver", "gold_pending_dates")
      .where(col("domain") === "inventory_updates")
      .collect().map(_.getAs[java.sql.Date]("date")).toSet
    assert(pending.contains(day), s"late date $day lost: pending $pending")

    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-21"))
    val fact = wh.load("gold", "fact_inventory").where(col("update_id") === id)
      .select(col("late_arrival_hours")).collect().map(_.getDouble(0)).toSeq
    assert(fact === Seq(hours), s"fact_inventory kept the stale row for $id")
  }

  /** Canonical comparable form, as IncrementalGoldSpec builds it. */
  private def canonical(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types.DoubleType
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = if (f.dataType == DoubleType) bround(col(f.name), 6) else col(f.name)
      c.cast("string").as(f.name)
    }
    df.select(cols.toSeq: _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  private def filesPerDate(wh: Warehouse): Map[String, Int] =
    new java.io.File(wh.path("silver", "sales_events")).listFiles()
      .filter(_.getName.startsWith("date="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  test("maintain compacts late silver files to one per date; gold still equals a full rebuild") {
    val whInc  = freshWarehouse()
    val whFull = freshWarehouse()
    val pInc   = new Pipeline(whInc)
    val pFull  = new Pipeline(whFull)
    def cycle(asOf: String)(prepare: Pipeline => Unit): Unit = {
      val day = java.sql.Date.valueOf(asOf)
      Seq(pInc -> true, pFull -> false).foreach { case (p, inc) =>
        prepare(p)
        p.bronzeToSilver()
        if (inc) p.silverToGoldIncremental(day) else p.silverToGold(day)
      }
    }
    def late(offset: Long)(p: Pipeline): Unit =
      p.appendBronzeSales(Generators.salesEvents(spark, 200, days = 2,
        baseTs = "2025-06-05 00:00:00", idOffset = offset))

    cycle("2025-06-20")(_.initBronze(nSales = 1000, nInventory = 200, nEquipment = 300,
      nFeedback = 100))
    cycle("2025-06-21")(late(2000000L))
    assert(filesPerDate(whInc).values.exists(_ > 1), "late batch left no second file")

    pInc.maintain()
    val after = filesPerDate(whInc)
    assert(after.nonEmpty && after.values.forall(_ == 1), s"silver files per date: $after")

    // one more late cycle over the compacted dates
    cycle("2025-06-22")(late(3000000L))
    Seq("fact_sales", "agg_daily_sales", "agg_customer_daily", "dim_customer",
        "fact_inventory", "agg_inventory_daily", "dim_calendar").foreach { t =>
      assert(canonical(whInc.load("gold", t)) === canonical(whFull.load("gold", t)),
        s"gold/$t differs from the full rebuild")
    }
  }
}
