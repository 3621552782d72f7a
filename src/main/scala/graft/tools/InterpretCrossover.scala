package graft.tools

import graft.GraftSession
import graft.etl.{Generators, Pipeline, Warehouse}
import org.apache.spark.graft.JobMeter

/** Times the medallion pipeline at one seed size in one codegen mode,
  * the measurement behind [[Pipeline.MaxInterpretedBronzeBytes]]. Seeds
  * bronze with `nSales` sales (inventory, equipment and feedback scaled
  * as [[graft.etl.RunPipeline]] scales them), runs the backfill cycle
  * that carries the seed through every layer, then `cycles` cycles that
  * each append one day of 250 sales, as the medallion bench does. Every
  * stage runs interpreted or compiled whatever the bronze size. Prints
  * one line per phase: wall seconds, jobs, classes compiled, and after
  * the seed the bronze bytes. Run each size and mode in a fresh JVM, so
  * neither mode finds the other's generated code in Spark's code cache.
  *
  * Usage: runMain graft.tools.InterpretCrossover <nSales> <interpreted|compiled> <workDir> [cycles]
  */
object InterpretCrossover {
  def main(args: Array[String]): Unit = {
    val nSales = args(0).toLong
    val mode   = args(1)
    require(mode == "interpreted" || mode == "compiled", s"mode must be interpreted or compiled: $mode")
    val cycles = args.lift(3).map(_.toInt).getOrElse(2)
    val spark  = GraftSession.getOrCreate()
    val root   = new java.io.File(args(2), s"crossover-$nSales-$mode").getAbsolutePath
    val pipe   = new Pipeline(new Warehouse(spark, root),
      if (mode == "interpreted") Long.MaxValue else -1L)
    val meter = JobMeter(spark.sparkContext)

    def phase(name: String)(body: => Unit): Unit = {
      meter.reset()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      val r = meter.read()
      println(f"[crossover] nSales=$nSales mode=$mode phase=$name s=$s%.2f " +
        s"jobs=${r.jobs.size} compiled=${r.compiledClasses}")
    }

    phase("seed")(pipe.initBronze(nSales, nSales / 4, nSales / 2, nSales / 10))
    val bronze = new org.apache.hadoop.fs.Path(root, "bronze")
    val bytes  = bronze.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(bronze).getLength
    println(s"[crossover] nSales=$nSales mode=$mode bronzeBytes=$bytes")
    phase("backfill")(pipe.runAll(java.sql.Date.valueOf("2025-06-20")).collect())
    (0 until cycles).foreach { k =>
      val day = java.time.LocalDate.parse("2025-06-21").plusDays(k)
      phase(s"cycle$k") {
        pipe.appendBronzeSales(Generators.salesEvents(spark, 250, days = 1,
          baseTs = s"$day 00:00:00", idOffset = 900000000L + 1000000L * k))
        pipe.runAll(java.sql.Date.valueOf(day.plusDays(1))).collect()
      }
    }
    spark.stop()
  }
}
