package graft.etl

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The warehouse's keyed merge: which rows of a batch land and which
  * date partitions a commit rewrites, in the bronze→silver pipeline and
  * on a table of its own.
  */
class WarehouseMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_mergewh_").toString)

  /** Canonical comparable form, as IncrementalGoldSpec builds it. */
  private def canonical(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types.DoubleType
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = if (f.dataType == DoubleType) bround(col(f.name), 6) else col(f.name)
      c.cast("string").as(f.name)
    }
    df.select(cols.toSeq: _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  /** Parquet file names per date directory of a table. */
  private def filesByDate(wh: Warehouse, layer: String, table: String): Map[String, Set[String]] =
    new java.io.File(wh.path(layer, table)).listFiles()
      .filter(_.getName.startsWith("date="))
      .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap

  test("an empty silver table directory reads as absent: bronze→silver still lands every key") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 300, nInventory = 60, nEquipment = 60, nFeedback = 30)
    // what a failed first commit leaves behind
    assert(new java.io.File(wh.path("silver", "sales_events")).mkdirs())
    assert(!wh.exists("silver", "sales_events"))

    p.bronzeToSilver()
    val s = wh.load("silver", "sales_events")
    assert(s.count() === 300L)
    assert(s.select(col("event_id")).distinct().count() === 300L)
  }

  test("an inventory update re-sent one day later replaces its silver and gold rows") {
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
    cycle("2025-06-20")(_.initBronze(nSales = 500, nInventory = 200, nEquipment = 100,
      nFeedback = 50))

    def resend(wh: Warehouse): Unit = {
      val first = wh.load("bronze", "inventory_updates").orderBy(col("update_id")).limit(1)
      wh.append(first
        .withColumn("date", date_add(col("date"), 1))
        .withColumn("event_time", col("event_time") + expr("INTERVAL 1 DAY"))
        .withColumn("ingestion_time", col("ingestion_time") + expr("INTERVAL 1 DAY")),
        "bronze", "inventory_updates")
    }
    val id = whInc.load("bronze", "inventory_updates").orderBy(col("update_id"))
      .select(col("update_id")).first().getString(0)
    val oldDay = whInc.load("silver", "inventory_updates").where(col("update_id") === id)
      .select(col("date")).first().getDate(0)
    cycle("2025-06-21")(p => resend(if (p eq pInc) whInc else whFull))

    val silver = whInc.load("silver", "inventory_updates").where(col("update_id") === id)
    assert(silver.count() === 1L, "silver kept both versions of the key")
    assert(silver.select(col("date")).first().getDate(0).toLocalDate === oldDay.toLocalDate.plusDays(1))
    assert(whInc.load("gold", "fact_inventory").where(col("update_id") === id).count() === 1L,
      "fact_inventory counts the key twice")
    Seq("fact_inventory", "agg_inventory_daily", "product_demand_features").foreach { t =>
      assert(canonical(whInc.load("gold", t)) === canonical(whFull.load("gold", t)),
        s"gold/$t differs from the full rebuild")
    }
  }

  test("inventory rows all re-sent twenty days later leave their old date empty in silver and gold") {
    val whInc  = freshWarehouse()
    val whFull = freshWarehouse()
    val runs   = Seq(whInc -> true, whFull -> false)
    def cycle(asOf: String)(prepare: Warehouse => Unit): Unit = runs.foreach { case (wh, inc) =>
      val p = new Pipeline(wh)
      prepare(wh)
      p.bronzeToSilver()
      if (inc) p.silverToGoldIncremental(java.sql.Date.valueOf(asOf))
      else p.silverToGold(java.sql.Date.valueOf(asOf))
    }
    cycle("2025-06-20")(wh => new Pipeline(wh).initBronze(nSales = 500, nInventory = 200,
      nEquipment = 100, nFeedback = 50))
    val oldDay = whInc.load("silver", "inventory_updates").agg(min(col("date"))).first().getDate(0)
    cycle("2025-06-21") { wh =>
      wh.append(wh.load("bronze", "inventory_updates").where(col("date") === oldDay)
        .withColumn("date", date_add(col("date"), 20))
        .withColumn("event_time", col("event_time") + expr("INTERVAL 20 DAYS"))
        .withColumn("ingestion_time", col("ingestion_time") + expr("INTERVAL 20 DAYS")),
        "bronze", "inventory_updates")
    }

    def countsByDate(df: DataFrame): Map[java.sql.Date, Long] =
      df.groupBy(col("date")).count().collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    runs.foreach { case (wh, inc) =>
      val silver = wh.load("silver", "inventory_updates")
      assert(!countsByDate(silver).contains(oldDay), s"silver kept $oldDay")
      assert(countsByDate(wh.load("gold", "fact_inventory")) ===
        countsByDate(SilverToGold.factInventory(silver)),
        s"fact_inventory (incremental = $inc) differs from silver")
      Seq("fact_inventory", "agg_inventory_daily").foreach { t =>
        assert(wh.load("gold", t).where(col("date") === oldDay).count() === 0L,
          s"gold/$t (incremental = $inc) kept $oldDay")
      }
    }
    Seq("fact_inventory", "agg_inventory_daily", "product_demand_features").foreach { t =>
      assert(canonical(whInc.load("gold", t)) === canonical(whFull.load("gold", t)),
        s"gold/$t differs from the full rebuild")
    }
  }

  test("sales rows without a date land in silver and stay out of the per-date quality state") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 300, nInventory = 60, nEquipment = 60, nFeedback = 30)
    p.bronzeToSilver()
    p.appendBronzeSales(Generators.salesEvents(spark, 5, baseTs = "2025-08-01 00:00:00",
      idOffset = 9000000L)
      .withColumn("event_time", lit(null).cast("timestamp"))
      .withColumn("date", lit(null).cast("date")))
    p.bronzeToSilver()
    val silver = wh.load("silver", "sales_events")
    assert(silver.where(col("date").isNull).count() === 5L)
    assert(wh.load("silver", "agg_quality_daily").where(col("date").isNull).count() === 0L)
    val dated = silver.where(col("date").isNotNull)
      .agg(avg(col("data_quality_score"))).first().getDouble(0)
    assert(math.abs(p.qualityGate(0.0) - dated) < 1e-9)
  }

  private def d(day: Int) = java.sql.Date.valueOf(f"2025-03-$day%02d")

  /** (key, version, day of March) rows with a `date` column. */
  private def batch(rows: (String, Int, Int)*): DataFrame = {
    import spark.implicits._
    rows.map { case (k, v, day) => (k, v, d(day)) }.toDF("k", "v", "date")
  }

  private val keys = Seq("k")

  test("a newer version moving a key off its date rewrites both dates and no other") {
    import spark.implicits._
    val wh = freshWarehouse()
    assert(wh.merge(batch(("a", 1, 1), ("b", 1, 2), ("c", 1, 3)), "silver", "t", keys,
      Some("v")) === Seq(d(1), d(2), d(3)))
    val before = filesByDate(wh, "silver", "t")

    // a moves from day 1 (its only row) to day 2; a replayed c ties and stays out
    assert(wh.merge(batch(("a", 2, 2), ("c", 1, 3)), "silver", "t", keys, Some("v"))
      === Seq(d(1), d(2)))
    val after = filesByDate(wh, "silver", "t")
    assert(!after.contains("date=2025-03-01"), s"emptied date kept its stale file: $after")
    assert(after("date=2025-03-03") === before("date=2025-03-03"))
    assert(after("date=2025-03-02").intersect(before("date=2025-03-02")).isEmpty)
    val rows = wh.load("silver", "t").as[(String, Int, java.sql.Date)].collect().toSet
    assert(rows === Set(("a", 2, d(2)), ("b", 1, d(2)), ("c", 1, d(3))))

    // insert-only: a known key never lands, a new one is appended
    assert(wh.merge(batch(("a", 9, 4), ("e", 1, 4)), "silver", "t", keys) === Seq(d(4)))
    assert(wh.load("silver", "t").where(col("k") === "a").as[(String, Int, java.sql.Date)]
      .collect().toSeq === Seq(("a", 2, d(2))))
    assert(filesByDate(wh, "silver", "t") - "date=2025-03-04" === after)
  }

  test("a key the table already holds twice is left once by its newest version") {
    import spark.implicits._
    val wh = freshWarehouse()
    wh.append(batch(("a", 1, 1), ("b", 1, 1), ("a", 2, 2)), "silver", "t")
    // equal to one held copy, newer than the other
    assert(wh.merge(batch(("a", 2, 2)), "silver", "t", keys, Some("v")) === Seq(d(1), d(2)))
    assert(wh.load("silver", "t").as[(String, Int, java.sql.Date)].collect().toSet ===
      Set(("a", 2, d(2)), ("b", 1, d(1))))
  }
}
