package graft.etl

import graft.TestSpark
import org.apache.spark.graft.JobMeter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The questions the medallion answers from parquet footers, not scans:
  * the count report, the calendar spine's bounds and compaction's row
  * budget. One warehouse runs a cycle, then takes a second append to an
  * existing date (a partition of two files), a batch on a new date, a late
  * inventory version that moves its date, a batch of undated sales and an
  * empty `date=` directory in silver, runs a second cycle and the
  * maintenance stage. Each answer must equal what a scan gives.
  */
class FooterAnswersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val tables = Seq(
    "bronze" -> Seq("sales_events", "inventory_updates", "equipment_metrics", "customer_feedback",
      "promotions", "weather_data"),
    "silver" -> Seq("sales_events", "inventory_updates", "equipment_metrics", "feedback"),
    "gold" -> Seq("dim_product", "dim_store", "dim_pricing", "dim_customer", "dim_calendar",
      "dim_equipment", "dim_weather", "dim_marketing_events", "agg_daily_sales",
      "agg_customer_daily", "agg_inventory_daily", "fact_sales", "fact_inventory",
      "fact_equipment_performance", "fact_promotions", "fact_customer_feedback",
      "product_demand_features", "equipment_health_features", "production_batch_features"))

  private lazy val wh = new Warehouse(spark,
    java.nio.file.Files.createTempDirectory("graft_footers_").toString)
  private lazy val p = new Pipeline(wh)

  /** (min, max) of `date` over a table's rows, by a scan. */
  private def scanBounds(layer: String, table: String): (String, String) = {
    val r = wh.load(layer, table).agg(min(col("date")), max(col("date"))).first()
    (r.getDate(0).toString, r.getDate(1).toString)
  }

  /** Rows per data file, by a scan, keyed by the file's `date=` directory. */
  private def scanLayout(layer: String, table: String): Map[String, Seq[Long]] =
    wh.load(layer, table).groupBy(input_file_name().as("f")).count().collect().toSeq
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getParent.getName -> r.getLong(1))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).sorted }

  private lazy val cycles: Unit = {
    p.initBronze(nSales = 1000, nInventory = 200, nEquipment = 200, nFeedback = 100)
    p.runAll(java.sql.Date.valueOf("2025-06-20"))
    // a second file in the existing 2025-06-05 partitions, and a new date
    p.appendBronzeSales(Generators.salesEvents(spark, 100, days = 1,
      baseTs = "2025-06-05 00:00:00", idOffset = 1000000L))
    p.appendBronzeSales(Generators.salesEvents(spark, 50, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 2000000L))
    p.appendBronzeSales(Generators.salesEvents(spark, 5, idOffset = 3000000L)
      .withColumn("event_time", lit(null).cast("timestamp"))
      .withColumn("date", lit(null).cast("date")))
    // the first inventory update re-sent one day later, at a newer version
    wh.append(wh.load("bronze", "inventory_updates").orderBy(col("update_id")).limit(1)
      .withColumn("date", date_add(col("date"), 1))
      .withColumn("event_time", col("event_time") + expr("INTERVAL 1 DAY"))
      .withColumn("ingestion_time", col("ingestion_time") + expr("INTERVAL 1 DAY")),
      "bronze", "inventory_updates")
    // a partition directory without a data file holds no date
    assert(new java.io.File(wh.path("silver", "sales_events"), "date=2030-01-01").mkdirs())
    p.bronzeToSilver()
    p.qualityGate()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-07-11"))
  }

  test("the incremental calendar spine spans silver's dated sales, as a scan bounds them") {
    cycles
    assert(wh.load("silver", "sales_events").where(col("date").isNull).count() === 5)
    val cal = wh.load("gold", "dim_calendar").agg(min(col("date")), max(col("date"))).first()
    assert((cal.getDate(0).toString, cal.getDate(1).toString) === scanBounds("silver", "sales_events"))
    assert(scanBounds("silver", "sales_events")._2 === "2025-07-10")
  }

  test("compaction splits the fragmented partitions by the budget of their scanned rows") {
    cycles
    val before = scanLayout("bronze", "sales_events")
    assert(before("date=2025-06-05").size === 2, before("date=2025-06-05"))
    val files = wh.fileRows("bronze", "sales_events")
    // small enough that the two-file partition is split
    val targetBytes = files.filter(_.path.getParent.getName == "date=2025-06-05").map(_.bytes).sum / 3
    val paths = files.map(_.path.toString).toSet
    wh.compact("bronze", "sales_events", targetBytes)
    val after     = wh.fileRows("bronze", "sales_events")
    val rewritten = after.filterNot(f => paths(f.path.toString)).map(_.path.getParent.getName).toSet
    assert(rewritten.contains("date=2025-06-05"), rewritten)
    assert(!rewritten.contains("date=__HIVE_DEFAULT_PARTITION__"), "the null partition was compacted")
    // the budget from the rewritten dates' bytes and scanned rows
    val bytes  = files.filter(f => rewritten(f.path.getParent.getName)).map(_.bytes).sum
    val rows   = rewritten.toSeq.map(before(_).sum).sum
    val budget = math.max(1L, targetBytes / math.max(1L, bytes / rows))
    val layout = scanLayout("bronze", "sales_events")
    rewritten.foreach { d =>
      val n = before(d).sum
      assert(layout(d) === (Seq.fill((n / budget).toInt)(budget) ++ Seq(n % budget).filter(_ > 0)).sorted,
        s"$d: $n rows at $budget a file")
    }
    (before.keySet -- rewritten).foreach(d => assert(layout(d) === before(d), d))
  }

  test("the report equals a scan's count of every table, and runs no job") {
    cycles
    p.maintain()
    val meter = JobMeter(spark.sparkContext)
    meter.reset()
    val report = p.report().collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}" -> r.getLong(2)).toMap
    assert(meter.read().jobs.isEmpty, meter.read().jobs.map(_.site))
    val expected = for ((layer, ts) <- tables; t <- ts if wh.exists(layer, t))
      yield s"$layer.$t" -> wh.load(layer, t).count()
    assert(expected.size === 29)
    assert(report === expected.toMap)
    // and every row count the footers give equals a scan of that one file
    wh.fileRows("silver", "sales_events").foreach { f =>
      assert(f.rows === spark.read.parquet(f.path.toString).count(), f.path)
    }
  }

  test("the full rebuild's calendar spine spans silver's dated sales, as a scan bounds them") {
    cycles
    p.silverToGold(java.sql.Date.valueOf("2025-07-11"))
    val cal = wh.load("gold", "dim_calendar").agg(min(col("date")), max(col("date"))).first()
    assert((cal.getDate(0).toString, cal.getDate(1).toString) === scanBounds("silver", "sales_events"))
  }
}
