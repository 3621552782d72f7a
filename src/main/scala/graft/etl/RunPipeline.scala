package graft.etl

import graft.GraftSession
import org.apache.spark.graft.JobMeter

/** CLI entry point for the medallion pipeline (SURVEY.md §7 step 8):
  * seeds bronze with the deterministic generators, runs
  * bronze→silver→gold with the quality gate, prints the count report.
  * `increment` instead appends a later sales window to an existing
  * warehouse and runs the same cycle over it. After the cycle one
  * `[cycle]` line gives its jobs, its wall time, the wall during which a
  * job ran (`busy`) and the rest (`driver`: planning, footer reads,
  * commits), the task time, the classes compiled and whether the cycle's
  * last stage ran interpreted or compiled (see [[Pipeline]]).
  *
  * Usage: runMain graft.etl.RunPipeline <warehouseDir> [nSales | <csv> | increment]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val whDir  = args.headOption.getOrElse("/tmp/graft_warehouse")
    val spark  = GraftSession.getOrCreate()
    val wh     = new Warehouse(spark, whDir)
    val pipe   = new Pipeline(wh)
    val seedAsOf = java.sql.Date.valueOf("2025-06-20")
    val asOf = args.lift(1) match {
      case Some(csv) if csv.endsWith(".csv") =>
        // mirror the reference DAG's backup-before-load order on re-runs
        pipe.initBronzeFromCsv(csv, backupAsOf = Some(seedAsOf))
        seedAsOf
      case Some("increment") =>
        // a later producer window (14 days from 2025-07-01): the cycle
        // processes only its delta, as of the day after the batch
        pipe.appendBronzeSales(
          Generators.salesEvents(spark, 2000, baseTs = "2025-07-01 00:00:00", idOffset = 5000000L))
        java.sql.Date.valueOf("2025-07-15")
      case other =>
        val nSales = other.map(_.toLong).getOrElse(10000L)
        pipe.initBronze(nSales, nSales / 4, nSales / 2, nSales / 10)
        seedAsOf
    }
    val meter = JobMeter(spark.sparkContext)
    meter.reset()
    val t0     = System.nanoTime()
    val report = pipe.runAll(asOf)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val cycle  = meter.read()
    println(f"[cycle] jobs=${cycle.jobs.size} wall=${wallMs / 1e3}%.2f s " +
      f"driver=${(wallMs - cycle.busyMs) / 1e3}%.2f s busy=${cycle.busyMs / 1e3}%.2f s " +
      f"taskSum=${cycle.taskMs / 1e3}%.2f s compiled=${cycle.compiledClasses} " +
      s"mode=${if (pipe.interpreted) "interpreted" else "compiled"}")
    report.show(50, truncate = false)
    println("=== dashboard KPIs (SURVEY §2.12) ===")
    DashboardQueries.revenueKpis(wh.load("gold", "fact_sales")).show(truncate = false)
    DashboardQueries
      .inventoryHealth(wh.load("gold", "fact_inventory"))
      .orderBy("health")
      .show(truncate = false)
    DashboardQueries
      .wasteByCategory(wh.load("gold", "fact_inventory"), wh.load("gold", "dim_product"))
      .orderBy("category")
      .show(truncate = false)
    spark.stop()
  }
}
