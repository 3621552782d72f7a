package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.etl.{DashboardQueries, Generators, Pipeline, Warehouse}

/** The reference system's scheduled job: bronze is seeded, then each
  * cycle appends one day of sales and runs bronze→silver, the quality
  * gate, the partition-scoped gold build, maintenance and the count
  * report, and the dashboard reads what was just written. The first
  * cycle of a run also carries the seeded bronze through every layer
  * (the backfill); later cycles process only their own day.
  */
object Medallion {
  /** Seeded bronze: sales, with inventory/equipment/feedback scaled as
    * the pipeline's own CLI scales them.
    */
  val SeedSales  = 1000L
  /** Sales rows in each cycle's appended day. */
  val BatchSales = 250L

  private val goldScoped = Seq(
    "fact_sales", "agg_daily_sales", "agg_customer_daily", "dim_customer",
    "fact_inventory", "agg_inventory_daily", "fact_equipment_performance",
    "fact_customer_feedback", "dim_calendar")

  def run(spark: SparkSession, tr: Trace, work: File, seed: Int, seconds: Int,
      out: Outcome): Unit = {
    val root = new File(work, "warehouse").getAbsolutePath
    val wh   = new Warehouse(spark, root)
    val pipe = new Pipeline(wh)

    tr.span("seed_bronze", "staging") {
      pipe.initBronze(SeedSales, SeedSales / 4, SeedSales / 2, SeedSales / 10)
    }

    val before = if (tr.enabled) Some(WarehouseWalk.snapshot(root)) else None
    var report: Map[String, Long] = Map.empty
    var days = Vector.empty[java.time.LocalDate]
    var compacted = 0L
    val t0 = System.nanoTime()
    tr.span("measure", "bench") {
      while (out.passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val k   = out.passes
        // the seed picks the new day (after the seeded 14) and the ids
        val day = java.time.LocalDate.parse("2025-06-15").plusDays((seed % 7 + 7) % 7 + k)
        days :+= day
        val asOf = java.sql.Date.valueOf(day.plusDays(1))
        val c0 = System.nanoTime()
        tr.span("cycle", "medallion") {
          tr.span("append", "etl") {
            pipe.appendBronzeSales(Generators.salesEvents(spark, BatchSales, days = 1,
              baseTs = s"$day 00:00:00",
              idOffset = 100000000L * (seed.toLong.abs % 1000 + 1) + 1000000L * k))
          }
          tr.span("bronze_to_silver", "etl")(pipe.bronzeToSilver())
          tr.span("quality_gate", "etl")(pipe.qualityGate())
          tr.span("gold", "etl")(pipe.silverToGoldIncremental(asOf))
          val m = tr.span("maintain", "etl")(pipe.maintain())
          compacted += m.values.map { case (b, a) => b - a }.sum
          report = tr.span("report", "etl")(pipe.report().collect())
            .map(r => s"${r.getString(0)}.${r.getString(1)}" -> r.getLong(2)).toMap
        }
        val cycleS = (System.nanoTime() - c0) / 1e9
        out.opS += cycleS
        // one dashboard refresh per cycle: a run's budget has no room for
        // more (see the README's Sizing)
        val d0 = System.nanoTime()
        val read = tr.span("dashboard", "dashboard") {
          Seq(
            tr.span("revenue_kpis", "dashboard")(
              DashboardQueries.revenueKpis(wh.load("gold", "fact_sales")).collect()),
            tr.span("inventory_health", "dashboard")(
              DashboardQueries.inventoryHealth(wh.load("gold", "fact_inventory")).collect()),
            tr.span("waste_by_category", "dashboard")(
              DashboardQueries.wasteByCategory(wh.load("gold", "fact_inventory"),
                wh.load("gold", "dim_product")).collect()))
        }
        out.readS += (System.nanoTime() - d0) / 1e9
        tr.sample()
        out.passes += 1

        // outputs of this cycle, checked outside its timed region
        val salesRows = SeedSales + BatchSales * out.passes
        out.check(s"cycle $k: bronze sales rows ${report.get("bronze.sales_events")} != $salesRows")(
          report.get("bronze.sales_events").contains(salesRows))
        out.check(s"cycle $k: silver sales rows ${report.get("silver.sales_events")} != $salesRows")(
          report.get("silver.sales_events").contains(salesRows))
        out.check(s"cycle $k: gold fact_sales rows ${report.get("gold.fact_sales")} != $salesRows")(
          report.get("gold.fact_sales").contains(salesRows))
        val nDays = read.head.head.getAs[Long]("n_days")
        out.check(s"cycle $k: revenue KPIs span $nDays days, expected ${14 + days.distinct.size}")(
          nDays == 14 + days.distinct.size)
        val invRecords = read(1).map(_.getAs[Long]("n_records")).sum
        out.check(s"cycle $k: inventory health covers $invRecords records, " +
          s"fact_inventory has ${report.get("gold.fact_inventory")}")(
          report.get("gold.fact_inventory").contains(invRecords))
      }
    }
    out.measuredS = (System.nanoTime() - t0) / 1e9
    val cyc = out.opS.toSeq
    val dash = out.readS.toSeq
    out.extra("backfill_rows_per_s") = ((SeedSales + BatchSales) / cyc.head, "rows/s", 1)
    out.extra("cycle_s.p50") = (Stats.median(cyc), "s", cyc.size)
    out.extra("dashboard_s.p50") = (Stats.median(dash), "s", dash.size)
    Stats.tail(cyc).foreach { case (p, v) => out.extra(s"cycle_s.tail(p$p)") = (v, "s", cyc.size) }
    Stats.tail(dash).foreach { case (p, v) => out.extra(s"dashboard_s.tail(p$p)") = (v, "s", dash.size) }

    before.foreach { b =>
      val after   = WarehouseWalk.snapshot(root)
      val written = after.filter { case (p, v) => !b.get(p).contains(v) }
      val bronze  = after.filter(_._1.startsWith(s"$root/bronze/")).values.map(_._1).sum
      val n = out.passes.toDouble
      out.layer("etl.maintain.files_compacted") = compacted / n
      out.layer("warehouse.bytes_written") = written.values.map(_._1).sum / n
      out.layer("warehouse.files_written") = written.size / n
      out.layer("warehouse.files") = after.size.toDouble
      out.layer("warehouse.bytes_per_input_byte") =
        written.values.map(_._1).sum.toDouble / math.max(1L, bronze)
      // the stronger check, in traced runs: the partition-scoped gold
      // tables equal a full rebuild from a copy of the same silver
      tr.span("check_full_rebuild", "bench") {
        val copy = new File(work, "rebuild").getAbsolutePath
        Seq("bronze", "silver").foreach(l =>
          WarehouseWalk.copyTree(new File(root, l), new File(copy, l)))
        val full = new Pipeline(new Warehouse(spark, copy))
        full.silverToGold(java.sql.Date.valueOf(days.last.plusDays(1)))
        val fullWh = new Warehouse(spark, copy)
        goldScoped.foreach { t =>
          val a = Digests.of(wh.load("gold", t))
          val f = Digests.of(fullWh.load("gold", t))
          out.check(s"gold/$t incremental $a != full rebuild $f")(a == f)
        }
      }
    }
  }
}
