package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end medallion pipeline on deterministic generated data
  * (SURVEY.md §5 rebuild test plan items 1-3).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val wh: Warehouse = {
    val root = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    new Warehouse(spark, root)
  }
  private lazy val pipeline = new Pipeline(wh)
  private val asOf = java.sql.Date.valueOf("2025-06-20")

  test("full pipeline runs bronze -> silver -> gold with nonempty outputs") {
    pipeline.initBronze(nSales = 3000, nInventory = 800, nEquipment = 2000, nFeedback = 300)
    val report = pipeline.runAll(asOf)
    val counts = report.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("bronze", "sales_events")) == 3000)
    assert(counts(("silver", "sales_events")) == 3000) // all statuses normalize to pending
    assert(counts(("gold", "dim_product")) == 10)
    assert(counts(("gold", "dim_store")) == 5)
    assert(counts(("gold", "dim_equipment")) == 7)
    assert(counts(("gold", "fact_sales")) > 0)
    assert(counts(("gold", "fact_inventory")) > 0)
    assert(counts(("gold", "fact_equipment_performance")) > 0)
    assert(counts(("gold", "product_demand_features")) > 0)
  }

  test("second cycle is idempotent: no new silver rows, gate still passes") {
    val before = wh.load("silver", "sales_events").count()
    pipeline.bronzeToSilver()
    assert(wh.load("silver", "sales_events").count() == before)
    assert(pipeline.qualityGate() >= 50.0)
  }

  test("silver inventory preserves the derived-measure identities") {
    val inv = wh.load("silver", "inventory_updates")
    val bad = inv.where(
      col("closing_stock") =!=
        (col("beginning_stock") + col("restocked_quantity")
          - col("sold_quantity") - col("waste_quantity"))
    )
    assert(bad.count() == 0)
    val badRatio = inv.where(col("waste_ratio") < 0 || col("waste_ratio") > 1)
    assert(badRatio.count() == 0)
  }

  test("quality scores are within [0,100]") {
    val s = wh.load("silver", "sales_events")
    assert(s.where(col("data_quality_score") < 0 || col("data_quality_score") > 100).count() == 0)
  }

  test("SCD2 dims: at most one current row per business key") {
    val store = wh.load("gold", "dim_store")
    val dup = store.where(col("is_current_record"))
      .groupBy(col("store_id")).count().where(col("count") > 1)
    assert(dup.count() == 0)
    val pricing = wh.load("gold", "dim_pricing")
    val dupP = pricing.where(col("is_current_record"))
      .groupBy(col("product_id")).count().where(col("count") > 1)
    assert(dupP.count() == 0)
  }

  test("fact_sales measures are consistent and quality-gated") {
    val fs = wh.load("gold", "fact_sales")
    assert(fs.where(col("data_quality_score") < 50).count() == 0)
    val bad = fs.where(
      col("gross_amount") =!= (col("quantity") * col("unit_price")).cast(Schemas.Money))
    assert(bad.count() == 0)
    // transaction sequence is dense per (store, date)
    val seqCheck = fs.groupBy(col("store_id"), col("date"))
      .agg(count(lit(1)).as("n"), max(col("transaction_sequence")).as("mx"))
      .where(col("n") =!= col("mx"))
    assert(seqCheck.count() == 0)
  }

  test("late-data reconcile keeps one row per update_id (newest wins)") {
    val inv = wh.load("silver", "inventory_updates")
    val dup = inv.groupBy(col("update_id")).count().where(col("count") > 1)
    assert(dup.count() == 0)
  }

  test("dashboard KPI queries answer off the gold layer") {
    val fs  = wh.load("gold", "fact_sales")
    val fi  = wh.load("gold", "fact_inventory")
    val dp  = wh.load("gold", "dim_product")
    val pdf = wh.load("gold", "product_demand_features")

    val kpis = DashboardQueries.revenueKpis(fs).head()
    assert(kpis.getAs[java.math.BigDecimal]("total_revenue").signum() > 0)
    assert(kpis.getAs[Long]("n_days") > 0)

    val slice = DashboardQueries.revenueBy(fs,
      java.sql.Date.valueOf("2025-06-01"), java.sql.Date.valueOf("2025-06-30"))
    assert(slice.count() > 0)

    val health = DashboardQueries.inventoryHealth(fi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(health.values.sum == fi.count())

    val waste = DashboardQueries.wasteByCategory(fi, dp)
    assert(waste.where(col("category").isNull).count() == 0)

    assert(DashboardQueries.demandVsForecast(pdf).count() > 0)
  }

  test("incremental fact build appends only new-date partitions and is idempotent") {
    val july   = java.sql.Date.valueOf("2025-07-01")
    val before = wh.load("gold", "fact_sales").count()
    val oldRows = wh.load("gold", "fact_sales").collect().toSet
    // a later producer window: disjoint event ids AND disjoint dates
    pipeline.appendBronzeSales(
      Generators.salesEvents(spark, 500, baseTs = "2025-07-01 00:00:00", idOffset = 1000000L))
    pipeline.bronzeToSilver() // ledger picks up only the new event ids
    val batch = SilverToGold.factSales(
      wh.load("silver", "sales_events").where(col("date") >= july),
      wh.load("gold", "dim_product")).count()
    val dayAfter = java.sql.Date.valueOf("2025-07-15")
    pipeline.silverToGoldIncremental(dayAfter)
    val after = wh.load("gold", "fact_sales").count()
    assert(batch > 0 && after == before + batch)
    // old partitions untouched: every pre-existing row still present, unchanged
    val preBatch = wh.load("gold", "fact_sales").where(col("date") < july)
    assert(preBatch.count() == before && preBatch.collect().toSet == oldRows)
    // re-running the gold stage adds nothing: the batch's dates were consumed
    pipeline.silverToGoldIncremental(dayAfter)
    assert(wh.load("gold", "fact_sales").count() == after)
  }

  test("re-running the full pipeline over an existing warehouse keeps dims intact") {
    // Regression: static (non-partitioned) overwrite used to delete the dim
    // directory before the write job read it, destroying every gold dim on
    // the second silverToGold() over the same warehouse.
    val dimBefore  = wh.load("gold", "dim_product").count()
    val factBefore = wh.load("gold", "fact_sales").count()
    pipeline.runAll(java.sql.Date.valueOf("2025-07-05"))
    assert(wh.load("gold", "dim_product").count() == dimBefore)
    assert(wh.load("gold", "dim_store").where(col("is_current_record")).count() == 5)
    assert(wh.load("gold", "dim_pricing").count() > 0)
    assert(wh.load("gold", "dim_customer").count() > 0)
    // the re-run rebuilds fact_sales from full silver: nothing lost
    assert(wh.load("gold", "fact_sales").count() >= factBefore)
  }

  test("feedback silver carries rule-based sentiment") {
    val fb = wh.load("silver", "feedback")
    assert(fb.where(col("sentiment_category").isNull).count() == 0)
    val wrong = fb.where(col("rating") >= 4 && col("sentiment_category") =!= "POSITIVE")
    assert(wrong.count() == 0)
  }

  test("weather and marketing dims exist with the DDL shape") {
    val wx = wh.load("gold", "dim_weather")
    assert(wx.count() == 14L * 5) // one row per (store, day)
    assert(wx.where(col("humidity").isNull || col("wind_speed").isNull).count() == 0)
    assert(wx.groupBy(col("store_id"), col("date")).count()
      .where(col("count") > 1).count() == 0)
    val mkt = wh.load("gold", "dim_marketing_events")
    assert(mkt.count() == 12)
    assert(mkt.where(col("end_date") < col("start_date")).count() == 0)
    assert(mkt.columns.toSet == Set("event_id", "event_name", "start_date",
      "end_date", "affected_products", "discount_percentage",
      "campaign_budget", "target_audience", "channel"))
  }

  test("demand features carry the reference's full feature vector") {
    val pdf = wh.load("gold", "product_demand_features")
    val expected = Seq("sales_last_7_days", "sales_last_30_days",
      "avg_daily_sales", "price", "inventory_level", "waste_ratio",
      "day_of_week", "is_holiday", "season", "seasonality_index",
      "promotion_active", "weather_impact_score")
    assert(expected.forall(pdf.columns.contains),
      s"missing: ${expected.filterNot(pdf.columns.contains)}")
    // range frames: 7-day sum is bounded by the 30-day sum, both >= daily
    assert(pdf.where(col("sales_last_7_days") > col("sales_last_30_days")).count() == 0)
    assert(pdf.where(col("daily_units") > col("sales_last_7_days")).count() == 0)
    // joins filled: every row has a season + calendar day + weather score
    assert(pdf.where(col("season").isNull || col("day_of_week").isNull).count() == 0)
    assert(pdf.where(col("weather_impact_score").isNull).count() == 0)
    assert(pdf.where(col("price").isNull).count() == 0)
    // seasonality index averages to ~1 over a product's seasons weighted
    // by rows; here just bound it away from degenerate values
    assert(pdf.where(col("seasonality_index") <= 0).count() == 0)
  }

  test("bronze backup snapshots every table before a reload (CTAS backup stage)") {
    val day   = java.sql.Date.valueOf("2025-07-06")
    val before = Seq("sales_events", "inventory_updates", "promotions")
      .map(t => t -> wh.load("bronze", t).count()).toMap
    val snaps = pipeline.backupBronze(day)
    assert(snaps.contains("sales_events_20250706"))
    before.foreach { case (t, n) =>
      assert(wh.load("backup", s"${t}_20250706").count() == n,
        s"backup of $t must capture the pre-load row count")
    }
    // same-day re-run overwrites the same snapshot, not a second copy
    assert(pipeline.backupBronze(day) == snaps)
    assert(wh.load("backup", "sales_events_20250706").count() == before("sales_events"))
    // full replace, not a partition merge: after bronze changes, the
    // re-taken snapshot reflects ONLY the new bronze state (a dynamic
    // partition overwrite would leave stale date partitions behind)
    val extra = Generators.salesEvents(spark, 100,
      baseTs = "2025-08-01 00:00:00", idOffset = 9000000L)
    pipeline.appendBronzeSales(extra)
    pipeline.backupBronze(day)
    assert(wh.load("backup", "sales_events_20250706").count() ==
      wh.load("bronze", "sales_events").count())
  }

  test("calendar dim carries holiday + season enrichments") {
    val cal = wh.load("gold", "dim_calendar")
    assert(cal.where(col("season").isNull).count() == 0)
    // generated dates are June-July -> all Summer
    assert(cal.where(col("season") =!= "Summer").count() == 0)
    assert(cal.where(col("is_holiday")).count() ==
      cal.where(col("holiday_name").isNotNull).count())
    // July 4 inside the second-cycle window
    assert(cal.where(col("date") === java.sql.Date.valueOf("2025-07-04"))
      .select(col("is_holiday")).head().getBoolean(0))
  }

  test("a small warehouse's cycle runs interpreted without touching the caller's session") {
    val meter = org.apache.spark.graft.JobMeter(spark.sparkContext)
    val small = new Pipeline(freshWarehouse())
    small.initBronze(nSales = 500, nInventory = 125, nEquipment = 250, nFeedback = 50)
    meter.reset()
    small.runAll(asOf)
    // what still compiles ignores the factory mode: the unsafe-row joiner
    // of hash aggregation and the columnar iterator of a persisted batch
    val classes = meter.read().compiledClasses
    assert(small.interpreted)
    assert(classes <= 30, s"$classes classes compiled by an interpreted cycle")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") === "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") === "FALLBACK")
  }

  test("a Pipeline built over an empty warehouse compiles once its seed passes the bound") {
    val meter = org.apache.spark.graft.JobMeter(spark.sparkContext)
    val p = new Pipeline(freshWarehouse(), 10L << 10)
    p.initBronze(nSales = 500, nInventory = 125, nEquipment = 250, nFeedback = 50)
    assert(!p.interpreted)
    meter.reset()
    p.runAll(asOf)
    val classes = meter.read().compiledClasses
    assert(!p.interpreted)
    assert(classes > 100, s"$classes classes compiled by a compiled cycle")
  }

  test("each stage reads the bronze size afresh: an append past the bound compiles the next stage") {
    val wh = freshWarehouse()
    new Pipeline(wh).initBronze(nSales = 500, nInventory = 125, nEquipment = 250, nFeedback = 50)
    val bronze = new org.apache.hadoop.fs.Path(wh.root, "bronze")
    val seeded = bronze.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(bronze).getLength
    val p = new Pipeline(wh, seeded)
    p.bronzeToSilver()
    assert(p.interpreted)
    p.appendBronzeSales(
      Generators.salesEvents(spark, 100, days = 1, baseTs = "2025-06-20 00:00:00", idOffset = 7000000L))
    p.qualityGate()
    assert(!p.interpreted)
  }

  test("the registry reports the medallion's 29 tables and compacts its 8 append tables") {
    val p = new Pipeline(freshWarehouse())
    p.initBronze(nSales = 300, nInventory = 75, nEquipment = 150, nFeedback = 30)
    val reported = p.runAll(asOf).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val bronze = Seq("sales_events", "inventory_updates", "equipment_metrics", "customer_feedback",
      "promotions", "weather_data")
    val silver = Seq("sales_events", "inventory_updates", "equipment_metrics", "feedback")
    val gold = Seq(
      "dim_product", "dim_store", "dim_pricing", "dim_customer", "dim_calendar", "dim_equipment",
      "dim_weather", "dim_marketing_events",
      "agg_daily_sales", "agg_customer_daily", "agg_inventory_daily",
      "fact_sales", "fact_inventory", "fact_equipment_performance", "fact_promotions",
      "fact_customer_feedback",
      "product_demand_features", "equipment_health_features", "production_batch_features")
    val want = bronze.map("bronze" -> _) ++ silver.map("silver" -> _) ++ gold.map("gold" -> _)
    assert(want.size === 29)
    assert(reported === want.sorted)
    val appendTables = bronze.take(4).map(t => s"bronze.$t") ++ silver.map(t => s"silver.$t")
    assert(p.maintain().keySet === appendTables.toSet)
  }

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_wh_").toString)
}
