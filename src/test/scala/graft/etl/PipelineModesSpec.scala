package graft.etl

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** A [[Pipeline]] over a small warehouse runs its stages interpreted;
  * one whose bound is below any bronze size runs them compiled. Both
  * must write the same tables.
  */
class PipelineModesSpec extends AnyFunSuite {
  import PipelineModesSpec._

  private lazy val spark = TestSpark.spark

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_modes_").toString)

  private val silverTables = Seq("sales_events", "inventory_updates", "equipment_metrics", "feedback")
  private val asOf = java.sql.Date.valueOf("2025-06-21")

  /** The Pipeline `build` makes seeds bronze, runs one cycle, appends a
    * day of sales and runs another.
    */
  private def cycles(wh: Warehouse, build: Warehouse => Pipeline): Pipeline = {
    val p = build(wh)
    p.initBronze(nSales = 500, nInventory = 125, nEquipment = 250, nFeedback = 50)
    p.runAll(java.sql.Date.valueOf("2025-06-20"))
    p.appendBronzeSales(Generators.salesEvents(spark, 120, days = 1,
      baseTs = "2025-06-20 00:00:00", idOffset = 6000000L))
    p.runAll(asOf)
    p
  }

  /** (count, hash) of every report table of `layer` in `wh`. */
  private def digests(wh: Warehouse, layer: String, tables: Seq[String]): Map[String, (Long, String)] =
    tables.map(t => t -> digest(wh.load(layer, t).drop("etl_timestamp"))).toMap

  private def assertSame(what: String, a: Map[String, (Long, String)], b: Map[String, (Long, String)]) =
    a.keys.toSeq.sorted.foreach(t => assert(a(t) === b(t), s"$what $t"))

  test("interpreted and compiled cycles write the same silver and gold, " +
      "and the interpreted incremental gold equals a compiled full rebuild") {
    val whInt       = freshWarehouse()
    val whComp      = freshWarehouse()
    val interpreted = cycles(whInt, new Pipeline(_))
    val compiled    = cycles(whComp, compiledPipeline(_))
    assert(interpreted.interpreted && !compiled.interpreted)

    val gold = interpreted.report().collect().collect {
      case r if r.getString(0) == "gold" => r.getString(1)
    }.toSeq
    assert(gold.size === 19, gold)
    assertSame("silver", digests(whInt, "silver", silverTables), digests(whComp, "silver", silverTables))
    val goldInt = digests(whInt, "gold", gold)
    assertSame("gold", goldInt, digests(whComp, "gold", gold))

    val whFull = freshWarehouse()
    Seq("bronze", "silver").foreach { l =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(whInt.root, l), new java.io.File(whFull.root, l))
    }
    val full = compiledPipeline(whFull)
    full.silverToGold(asOf)
    assert(!full.interpreted)
    // the tables the incremental build scopes to pending dates; the SCD2
    // dims (and what reads them) keep the first cycle's history, which a
    // one-shot rebuild cannot have
    val scoped = Seq(
      "fact_sales", "agg_daily_sales", "agg_customer_daily", "dim_customer",
      "fact_inventory", "agg_inventory_daily", "fact_equipment_performance",
      "fact_customer_feedback", "dim_calendar")
    assertSame("full rebuild gold", goldInt.filter(t => scoped.contains(t._1)),
      digests(whFull, "gold", scoped))
  }
}

object PipelineModesSpec {
  /** A Pipeline whose every stage compiles, whatever the bronze size. */
  def compiledPipeline(wh: Warehouse): Pipeline = new Pipeline(wh, -1L)

  /** Row count and an order-insensitive hash of a frame: the sum of a
    * 64-bit hash per row over every column in name order, floating
    * columns rounded to 6 places (partial sums may differ in the last bit
    * between input splits).
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => bround(c, 6)
        case _                      => c
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .first()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
