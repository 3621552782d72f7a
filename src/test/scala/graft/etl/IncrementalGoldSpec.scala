package graft.etl

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the partition-scoped gold build (the round-12 verdict's
  * scale-killer fix): an incremental cycle must (a) leave every gold
  * table hash-equal to a per-cycle FULL rebuild fed the same bronze
  * sequence, and (b) touch only the delta's date partitions on disk —
  * the property that keeps a 2-hour-cadence gold build at O(batch) cost
  * instead of O(history) at 100 TB.
  */
class IncrementalGoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_incwh_").toString)

  /** Canonical comparable form: doubles rounded to 6dp (partial-agg sum
    * order may differ by an ulp between scoped and full input splits),
    * everything stringified, sorted column order.
    */
  private def canonical(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types.DoubleType
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = if (f.dataType == DoubleType) bround(col(f.name), 6) else col(f.name)
      c.cast("string").as(f.name)
    }
    df.select(cols.toSeq: _*)
      .collect()
      .map(_.mkString("|"))
      .sorted
      .toSeq
  }

  private val goldTables = Seq(
    "dim_product", "dim_store", "dim_pricing", "dim_customer", "dim_equipment",
    "dim_calendar", "dim_weather", "dim_marketing_events",
    "agg_daily_sales", "agg_customer_daily", "agg_inventory_daily",
    "fact_sales", "fact_inventory", "fact_equipment_performance",
    "fact_promotions", "fact_customer_feedback",
    "product_demand_features", "equipment_health_features",
    "production_batch_features")

  test("incremental gold build is hash-equal to a per-cycle full rebuild " +
      "(new dates, late rows into old dates, three cycles)") {
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

    // cycle 1: initial load (14 June days across all domains)
    cycle("2025-06-20") { p =>
      p.initBronze(nSales = 2000, nInventory = 500, nEquipment = 800, nFeedback = 200)
    }
    // cycle 2: a NEW date plus late sales landing in EXISTING June dates —
    // the case that forces an old fact partition to be recomputed
    cycle("2025-07-11") { p =>
      p.appendBronzeSales(Generators.salesEvents(spark, 300, days = 1,
        baseTs = "2025-07-10 00:00:00", idOffset = 1000000L))
      p.appendBronzeSales(Generators.salesEvents(spark, 200, days = 2,
        baseTs = "2025-06-05 00:00:00", idOffset = 2000000L))
    }
    // cycle 3: another later window
    cycle("2025-07-15") { p =>
      p.appendBronzeSales(Generators.salesEvents(spark, 400, days = 3,
        baseTs = "2025-07-12 00:00:00", idOffset = 3000000L))
    }

    goldTables.foreach { t =>
      assert(whInc.exists("gold", t) === whFull.exists("gold", t), s"existence of gold/$t")
      if (whInc.exists("gold", t)) {
        val inc  = canonical(whInc.load("gold", t))
        val full = canonical(whFull.load("gold", t))
        assert(inc.size === full.size, s"gold/$t row count (inc=${inc.size} full=${full.size})")
        val diff = inc.zip(full).find { case (a, b) => a != b }
        assert(diff.isEmpty,
          s"gold/$t first differing row: ${diff.map(d => s"${d._1} vs ${d._2}").getOrElse("")}")
      }
    }
  }

  /** Recursive (relativePath -> length) listing of a table directory,
    * data files only.
    */
  private def listing(wh: Warehouse, layer: String, table: String): Map[String, Long] = {
    val root = new java.io.File(wh.path(layer, table))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length())
      .toMap
  }

  test("second cycle rewrites only the delta's date partitions (file-level)") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 2000, nInventory = 500, nEquipment = 800, nFeedback = 200)
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))

    val watched = Seq(
      ("silver", "sales_events"), ("gold", "fact_sales"),
      ("gold", "agg_daily_sales"), ("gold", "agg_customer_daily"),
      ("gold", "fact_inventory"), ("gold", "agg_inventory_daily"),
      ("gold", "fact_equipment_performance"), ("gold", "fact_customer_feedback"))
    val before = watched.map { case (l, t) => (l, t) -> listing(wh, l, t) }.toMap

    // one single-date sales batch; no other domain receives data
    p.appendBronzeSales(Generators.salesEvents(spark, 300, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 1000000L))
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-07-11"))

    watched.foreach { case (l, t) =>
      val b = before((l, t))
      val a = listing(wh, l, t)
      // every pre-existing file survives byte-for-byte (same path+length):
      // untouched date partitions were not rewritten
      val rewritten = b.filter { case (path, len) => a.get(path).forall(_ != len) }
      assert(rewritten.isEmpty, s"$l/$t rewrote old files: ${rewritten.keys.take(3)}")
      val fresh = (a.keySet -- b.keySet).toSeq
      val isSalesTable = t.contains("sales") || t.contains("customer_daily")
      if (isSalesTable) {
        // new files confined to the new date's partition
        assert(fresh.nonEmpty, s"$l/$t gained no files for the new date")
        assert(fresh.forall(_.contains("date=2025-07-10")),
          s"$l/$t wrote outside the delta partition: ${fresh.filterNot(_.contains("date=2025-07-10")).take(3)}")
        // bytes written this cycle are batch-proportional, not history-sized
        val freshBytes = fresh.map(a).sum.toDouble
        val totalBytes = a.values.sum.toDouble
        info(f"$l/$t cycle-2 wrote ${freshBytes / 1024}%.1f KiB = " +
          f"${100 * freshBytes / totalBytes}%.1f%% of the table (1 new date over 14 old)")
        assert(freshBytes / totalBytes < 0.5,
          f"$l/$t cycle-2 bytes ${freshBytes / totalBytes}%.2f of table — not batch-proportional")
      } else {
        // domains with no delta: zero writes at all
        assert(fresh.isEmpty, s"$l/$t wrote files with an empty delta: ${fresh.take(3)}")
      }
    }
  }

  test("quality gate reads the maintained daily aggregate, equal to the full scan") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    assert(wh.exists("silver", "agg_quality_daily"),
      "bronzeToSilver must maintain the per-date quality aggregate")
    val fromAgg = p.qualityGate()
    val fullScan = wh.load("silver", "sales_events")
      .agg(avg(col("data_quality_score"))).first().getDouble(0)
    assert(math.abs(fromAgg - fullScan) < 1e-9,
      s"aggregate gate $fromAgg != full-scan $fullScan")
    // a second cycle's late batch into the same dates keeps it exact
    p.appendBronzeSales(Generators.salesEvents(spark, 200, days = 3,
      baseTs = "2025-06-03 00:00:00", idOffset = 5000000L))
    p.bronzeToSilver()
    val fromAgg2 = p.qualityGate()
    val fullScan2 = wh.load("silver", "sales_events")
      .agg(avg(col("data_quality_score"))).first().getDouble(0)
    assert(math.abs(fromAgg2 - fullScan2) < 1e-9)
  }

  test("warehouse predating the quality aggregate backfills ALL silver dates") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    // simulate a warehouse built before agg_quality_daily existed
    wh.drop("silver", "agg_quality_daily")
    // next cycle's batch touches ONLY a new July date; historical June
    // dates must still enter the re-established aggregate
    p.appendBronzeSales(Generators.salesEvents(spark, 100, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 7000000L))
    p.bronzeToSilver()
    val fromAgg = p.qualityGate()
    val fullScan = wh.load("silver", "sales_events")
      .agg(avg(col("data_quality_score"))).first().getDouble(0)
    assert(math.abs(fromAgg - fullScan) < 1e-9,
      s"backfilled gate $fromAgg != full-scan $fullScan — historical dates excluded")
    val aggDates = wh.load("silver", "agg_quality_daily").count()
    val silverDates = wh.load("silver", "sales_events")
      .select(col("date")).distinct().count()
    assert(aggDates === silverDates, "aggregate must cover every silver date")
  }

  test("dropped calendar spine rebuilds from silver history, not the delta") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))
    wh.drop("gold", "dim_calendar")
    // delta = one July date; the rebuilt spine must still span June history
    p.appendBronzeSales(Generators.salesEvents(spark, 100, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 7100000L))
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-07-11"))
    val silverBounds = wh.load("silver", "sales_events")
      .agg(min(col("date")), max(col("date"))).first()
    val calBounds = wh.load("gold", "dim_calendar")
      .agg(min(col("date")), max(col("date"))).first()
    assert(calBounds.getDate(0) === silverBounds.getDate(0),
      "rebuilt spine must start at silver history's min date")
    assert(calBounds.getDate(1).getTime >= silverBounds.getDate(1).getTime)
  }

  test("feature stage degrades when the inventory domain never produced a cycle") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))
    // warehouse whose sales domain has run but whose inventory aggregate
    // is gone; the next sales-only cycle must not crash the feature build
    wh.drop("gold", "agg_inventory_daily")
    p.appendBronzeSales(Generators.salesEvents(spark, 100, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 7200000L))
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-07-11"))
    assert(wh.exists("gold", "product_demand_features"))
    assert(wh.load("gold", "product_demand_features").count() > 0)
  }

  test("pending-dates ledger is consumed by the gold build and survives a stage gap") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    assert(wh.exists("silver", "gold_pending_dates"),
      "bronzeToSilver must persist pending dates for a decoupled gold stage")
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))
    assert(!wh.exists("silver", "gold_pending_dates"),
      "gold build must consume the pending-dates ledger")
    // empty-delta cycle: gold facts untouched, no pending table reappears
    val factBefore = listing(wh, "gold", "fact_sales")
    p.bronzeToSilver()
    assert(!wh.exists("silver", "gold_pending_dates"))
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-21"))
    assert(listing(wh, "gold", "fact_sales") === factBefore)
  }

  test("a failed silver commit leaves the batch pending, and its re-run adds no duplicates") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 500, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.bronzeToSilver()
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-06-20"))
    val silverBefore = wh.load("silver", "sales_events").count()
    p.appendBronzeSales(Generators.salesEvents(spark, 100, days = 1,
      baseTs = "2025-07-10 00:00:00", idOffset = 7300000L))
    // a plain file where the silver append stages its output: the commit
    // fails, every earlier write of the sales domain succeeds
    val squat = new java.io.File(wh.path("silver", "sales_events"), "_temporary")
    assert(squat.createNewFile())
    intercept[Exception](p.bronzeToSilver())
    val pending =
      if (!wh.exists("silver", "gold_pending_dates")) Set.empty[String]
      else wh.load("silver", "gold_pending_dates")
        .where(col("domain") === "sales_events")
        .collect().map(_.getAs[java.sql.Date]("date").toString).toSet
    assert(pending === Set("2025-07-10"), "the uncommitted batch's date must stay pending")

    assert(squat.delete())
    p.bronzeToSilver()
    assert(wh.load("silver", "sales_events").count() === silverBefore + 100,
      "re-running the uncommitted batch duplicated silver rows")
    val fullScan = wh.load("silver", "sales_events")
      .agg(avg(col("data_quality_score"))).first().getDouble(0)
    assert(math.abs(p.qualityGate() - fullScan) < 1e-9,
      "the quality aggregate written before the failed commit was not rewritten exactly")
    p.silverToGoldIncremental(java.sql.Date.valueOf("2025-07-11"))
    assert(wh.load("gold", "fact_sales").count() === silverBefore + 100)
  }

  test("sales without a date stay in silver and out of gold, incremental and full alike") {
    val whInc  = freshWarehouse()
    val whFull = freshWarehouse()
    val asOf   = java.sql.Date.valueOf("2025-06-20")
    Seq(whInc -> true, whFull -> false).foreach { case (wh, inc) =>
      val p = new Pipeline(wh)
      p.initBronze(nSales = 300, nInventory = 100, nEquipment = 100, nFeedback = 50)
      p.appendBronzeSales(Generators.salesEvents(spark, 5, idOffset = 7400000L)
        .withColumn("event_time", lit(null).cast("timestamp"))
        .withColumn("date", lit(null).cast("date")))
      p.bronzeToSilver()
      if (inc) p.silverToGoldIncremental(asOf) else p.silverToGold(asOf)
    }
    Seq(whInc, whFull).foreach { wh =>
      assert(wh.load("silver", "sales_events").where(col("date").isNull).count() === 5)
    }
    Seq("fact_sales", "agg_daily_sales", "agg_customer_daily", "dim_customer").foreach { t =>
      val inc  = canonical(whInc.load("gold", t))
      val full = canonical(whFull.load("gold", t))
      assert(inc.size === full.size, s"gold/$t row count (inc=${inc.size} full=${full.size})")
      assert(inc === full, s"gold/$t")
    }
  }

  test("a warehouse whose every sale lacks a date runs a cycle, incremental and full " +
      "writing the same gold tables") {
    import org.apache.spark.sql.types.DateType
    val whInc  = freshWarehouse()
    val whFull = freshWarehouse()
    val asOf   = java.sql.Date.valueOf("2025-06-20")
    Seq(whInc -> true, whFull -> false).foreach { case (wh, inc) =>
      val p = new Pipeline(wh)
      p.initBronze(nSales = 0, nInventory = 100, nEquipment = 100, nFeedback = 50)
      p.appendBronzeSales(Generators.salesEvents(spark, 5, idOffset = 7400000L)
        .withColumn("event_time", lit(null).cast("timestamp"))
        .withColumn("date", lit(null).cast("date")))
      p.bronzeToSilver()
      if (inc) p.silverToGoldIncremental(asOf) else p.silverToGold(asOf)
    }
    Seq(whInc, whFull).foreach { wh =>
      assert(wh.load("bronze", "sales_events").schema("date").dataType === DateType)
      assert(wh.load("silver", "sales_events").where(col("date").isNull).count() === 5)
    }
    val written = Seq(whInc, whFull).map(wh => goldTables.filter(wh.exists("gold", _)))
    assert(written.head === written.last)
    assert(written.head.contains("fact_inventory"), written.head)
    assert(!written.head.contains("dim_calendar"), "a calendar spine with no dated sale")
  }

  test("a warehouse whose every sale lacks a date runs a whole cycle, the gate passing with " +
      "nothing to average") {
    val wh = freshWarehouse()
    val p  = new Pipeline(wh)
    p.initBronze(nSales = 0, nInventory = 100, nEquipment = 100, nFeedback = 50)
    p.appendBronzeSales(Generators.salesEvents(spark, 5, idOffset = 7400000L)
      .withColumn("event_time", lit(null).cast("timestamp"))
      .withColumn("date", lit(null).cast("date")))
    val report = p.runAll(java.sql.Date.valueOf("2025-06-20")).collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}" -> r.getLong(2)).toMap
    assert(p.qualityGate().isNaN)
    assert(report("silver.sales_events") === 5L)
    assert(!report.contains("gold.fact_sales"), "a sales fact from no dated sale")
    assert(report("gold.fact_inventory") === wh.load("gold", "fact_inventory").count())
  }
}
