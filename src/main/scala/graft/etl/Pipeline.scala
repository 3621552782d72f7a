package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process pipeline runner replacing the reference's Airflow DAGs
  * (SURVEY.md §2.11 G1-G5): ordered stages, a quality gate between
  * layers, and a per-table count report.
  *
  * One registry declares the medallion's tables, each once: the six
  * bronze tables; the four silver domains, each with its key, version
  * column, bronze source and transform; the nineteen gold tables, each
  * with the tables it reads, its scope (the whole table, or a silver
  * domain's pending dates) and its build. The seed, the backup, the
  * bronze→silver merges, the gold build, compaction and the count report
  * all read that list.
  *
  * The run is incremental-by-construction END TO END. Silver is the
  * processed set: a bronze row is pending until silver holds its key
  * (inventory: at an equal or newer version), so each cycle transforms
  * only pending rows, records the dates the commit touches in a
  * pending-dates table, and merges them into silver (`Warehouse.merge`).
  * The gold stage then rewrites ONLY those fact and daily-aggregate
  * dates (a dated overwrite: a date silver lost is deleted) — so a
  * cycle's writes track the batch, not history, and re-running a cycle
  * adds zero rows. Dim, promo-grain, and feature tables rebuild each
  * cycle but read only seed catalogs or the maintained daily-grain
  * aggregates, never event-grain history.
  *
  * Stages run in order (bronze→silver, gate, gold, maintain, report):
  * each reads what the one before wrote, and compaction rewrites the
  * bronze and silver partitions the report counts. Inside a stage the
  * independent table builds overlap — the four silver domains, the gold
  * builds, the compactions — each on its own thread, so one table's
  * driver-side analysis, planning and codegen runs while another's tasks
  * hold the cores. A gold build starts as soon as every table it
  * declares is written, and reads them only then. No two of them write
  * the same table root.
  *
  * Interpreted while bronze is small. A cycle plans about 415 classes of
  * generated code, and over a small warehouse each plan touches a few
  * thousand rows, so compiling the code costs more than running the plan
  * interpreted. Each public stage therefore takes the bytes under
  * `<root>/bronze` when it starts (one `getContentSummary`), plus what
  * the stage itself loads (a seed's rows at a measured bytes-per-row
  * estimate, a CSV's file size). At most
  * [[Pipeline.MaxInterpretedBronzeBytes]], the stage runs through a
  * private [[Warehouse]] on a child of the caller's session
  * (`newSession()`) that carries the caller's modifiable runtime SQL
  * confs with whole-stage codegen off and the expression factory mode
  * `NO_CODEGEN`; above it, through the caller's warehouse unchanged. The
  * caller's session is never reconfigured, so queries outside the
  * Pipeline compile as before, and a warehouse that grows past the bound
  * compiles from its next stage on. The stages of one Pipeline run one
  * at a time. Limits of the rule:
  *  - It reads bronze, not the batch: past the bound even a cycle that
  *    appends one day compiles, though at 44 MB such a cycle still ran
  *    faster interpreted (see [[Pipeline.MaxInterpretedBronzeBytes]]).
  *  - A frame the caller builds, such as the batch handed to
  *    [[appendBronzeSales]], lives in the caller's session and compiles
  *    there; in a JVM that runs nothing else, that append is where the
  *    first Janino compile (and its warm-up) lands.
  */
final class Pipeline private[graft] (callerWh: Warehouse, maxInterpretedBronzeBytes: Long) {
  import Pipeline.{Bronze, Gold, Inputs, Silver, TableDef, concurrently}

  def this(callerWh: Warehouse) = this(callerWh, Pipeline.MaxInterpretedBronzeBytes)

  private lazy val interpretedWh =
    new Warehouse(Pipeline.interpretedSession(callerWh.spark), callerWh.root)

  /** The warehouse the running stage reads and writes through. */
  @volatile private var wh: Warehouse = callerWh

  /** True when the last stage ran without generated code. */
  def interpreted: Boolean = wh ne callerWh

  /** Runs one stage through the interpreted warehouse if bronze will hold
    * at most `maxInterpretedBronzeBytes` while it runs, else through the
    * caller's. `extraBronzeBytes` is what the stage itself adds to bronze.
    */
  private def stage[T](extraBronzeBytes: Long = 0L)(body: => T): T = {
    val bytes = Pipeline.bronzeBytes(callerWh) + extraBronzeBytes
    wh = if (bytes <= maxInterpretedBronzeBytes) interpretedWh else callerWh
    body
  }

  private def spark: SparkSession = wh.spark

  private def exists(t: TableDef): Boolean = wh.exists(t.layer, t.name)
  private def load(t: TableDef): DataFrame = wh.load(t.layer, t.name)
  private def overwrite(df: DataFrame, t: TableDef): Unit = wh.overwrite(df, t.layer, t.name)

  // The registry. Entries are declared before the entries that read them;
  // `registry` lists them in report order.

  private val bronzeSales      = Bronze("sales_events")
  private val bronzeInventory  = Bronze("inventory_updates")
  private val bronzeEquipment  = Bronze("equipment_metrics")
  private val bronzeFeedback   = Bronze("customer_feedback")
  private val bronzePromotions = Bronze("promotions")
  private val bronzeWeather    = Bronze("weather_data")

  // insert-only except inventory, where a newer `ingestion_time` replaces
  // the silver row (T5, late data)
  private val silverSales     = Silver("sales_events", bronzeSales, "event_id", BronzeToSilver.sales)
  private val silverInventory = Silver("inventory_updates", bronzeInventory, "update_id",
    BronzeToSilver.inventory, version = Some("ingestion_time"))
  private val silverEquipment = Silver("equipment_metrics", bronzeEquipment, "metric_id", BronzeToSilver.equipment)
  private val silverFeedback  = Silver("feedback", bronzeFeedback, "feedback_id", BronzeToSilver.feedback)

  private def gold(name: String, scope: Option[Silver], inputs: TableDef*)(
      build: Inputs => Option[DataFrame]): Gold = new Gold(name, scope, inputs.map(_.id))(build)

  private val dimProduct = gold("dim_product", None)(in => Some(SilverToGold.dimProduct(spark, in.prior)))
  private val dimStore = gold("dim_store", None)(in =>
    Some(SilverToGold.dimStoreScd2(spark, in.prior, in.asOf)))
  // last-7-days filter inside: partition-pruned, bounded at any scale
  private val dimPricing = gold("dim_pricing", None, silverSales)(in =>
    Some(SilverToGold.dimPricingScd2(in(silverSales), in.prior, in.asOf)))
  private val dimEquipment = gold("dim_equipment", None)(_ => Some(SilverToGold.dimEquipment(spark)))
  private val dimCalendar = gold("dim_calendar", None, silverSales)(in =>
    calendarBounds(in).map { case (minD, maxD) => SilverToGold.dimCalendar(spark, minD, maxD) })
  private val dimWeather = gold("dim_weather", None, bronzeWeather)(in =>
    in.get(bronzeWeather).map(SilverToGold.dimWeather))
  private val dimMarketing = gold("dim_marketing_events", None)(_ =>
    Some(Generators.marketingEvents(spark, 12)))

  // each domain's facts and maintained daily aggregates rewrite its
  // pending dates; the aggregates read back the just-written fact
  private val factSales = gold("fact_sales", Some(silverSales), silverSales, dimProduct)(in =>
    in.scoped(silverSales).map(SilverToGold.factSales(_, in(dimProduct))))
  private val aggDailySales = gold("agg_daily_sales", Some(silverSales), factSales)(in =>
    in.scoped(factSales).map(SilverToGold.aggDailySales))
  private val aggCustomerDaily = gold("agg_customer_daily", Some(silverSales), silverSales)(in =>
    in.scoped(silverSales).map(SilverToGold.aggCustomerDaily))
  private val dimCustomer = gold("dim_customer", None, aggCustomerDaily)(in =>
    in.get(aggCustomerDaily).map(SilverToGold.dimCustomer))
  private val factInventory = gold("fact_inventory", Some(silverInventory), silverInventory)(in =>
    in.scoped(silverInventory).map(SilverToGold.factInventory))
  private val aggInventoryDaily = gold("agg_inventory_daily", Some(silverInventory), factInventory)(in =>
    in.scoped(factInventory).map(SilverToGold.aggInventoryDaily))
  private val factEquipment = gold("fact_equipment_performance", Some(silverEquipment), silverEquipment)(in =>
    in.scoped(silverEquipment).map(SilverToGold.factEquipment))
  private val factFeedback = gold("fact_customer_feedback", Some(silverFeedback), silverFeedback)(in =>
    in.scoped(silverFeedback).map(SilverToGold.factCustomerFeedback))

  // promo-grain fact + feature tables: rebuilt whole each cycle, but
  // every history-shaped input is a maintained daily-grain aggregate
  private val factPromotions = gold("fact_promotions", None, aggDailySales, bronzePromotions)(in =>
    in.get(aggDailySales).map { daily =>
      val dailyUnits = daily.groupBy(col("product_id"), col("date")).agg(sum(col("daily_units")).as("units"))
      SilverToGold.factPromotions(in(bronzePromotions), dailyUnits, in.asOf)
    })
  private val productDemand = gold("product_demand_features", None,
      aggDailySales, factPromotions, aggInventoryDaily, dimPricing, dimCalendar, dimWeather)(in =>
    in.get(aggDailySales).map(daily => MlFeatures.productDemand(daily, in(factPromotions),
      // degrade like the dim_weather fallback below: a warehouse
      // whose inventory domain never produced a cycle gets an
      // empty daily-grain frame, not a missing-path crash
      in.get(aggInventoryDaily).getOrElse(SilverToGold.aggInventoryDaily(SilverToGold.factInventory(
        BronzeToSilver.inventory(Generators.inventoryUpdates(spark, 0))))),
      in(dimPricing),
      in(dimCalendar),
      in.get(dimWeather).getOrElse(SilverToGold.dimWeather(Generators.weatherData(spark).limit(0))))))
  // equipment fact is already (equipment, date) grain — compact input
  private val equipmentHealth = gold("equipment_health_features", None, factEquipment)(in =>
    in.get(factEquipment).map(MlFeatures.equipmentHealth))
  private val productionBatches = gold("production_batch_features", None, dimProduct, dimEquipment)(in =>
    Some(MlFeatures.productionBatches(spark, in(dimProduct), in(dimEquipment))))

  private val registry: Seq[TableDef] = Seq(
    bronzeSales, bronzeInventory, bronzeEquipment, bronzeFeedback, bronzePromotions, bronzeWeather,
    silverSales, silverInventory, silverEquipment, silverFeedback,
    dimProduct, dimStore, dimPricing, dimCustomer, dimCalendar, dimEquipment, dimWeather, dimMarketing,
    aggDailySales, aggCustomerDaily, aggInventoryDaily,
    factSales, factInventory, factEquipment, factPromotions, factFeedback,
    productDemand, equipmentHealth, productionBatches)

  private val silverDomains: Seq[Silver] = registry.collect { case s: Silver => s }

  /** G5 — seed bronze from the deterministic generators, the six tables
    * at once.
    */
  def initBronze(nSales: Long, nInventory: Long, nEquipment: Long, nFeedback: Long,
      nPromotions: Long = 40): Unit =
    stage(Pipeline.SeedBytesPerRow * (nSales + nInventory + nEquipment + nFeedback + nPromotions))(
      concurrently(
        () => overwrite(Generators.salesEvents(spark, nSales), bronzeSales),
        () => overwrite(Generators.inventoryUpdates(spark, nInventory), bronzeInventory),
        () => overwrite(Generators.equipmentMetrics(spark, nEquipment), bronzeEquipment),
        () => overwrite(Generators.customerFeedback(spark, nFeedback), bronzeFeedback),
        () => overwrite(Generators.promotions(spark, nPromotions), bronzePromotions),
        () => overwrite(Generators.weatherData(spark), bronzeWeather)))

  /** CTAS-style bronze backup (reference `bakery_csv_etl_pipeline.py:
    * 260-262` creates `<table>_backup_<ds>` copies before the day's
    * load). Snapshots every existing bronze table, in load order, into the
    * backup layer as `<table>_<yyyymmdd>`; re-running the same day's backup
    * overwrites the same snapshot (idempotent). Returns the snapshot
    * names written.
    */
  def backupBronze(asOf: java.sql.Date): Seq[String] = stage() {
    val stamp = asOf.toString.replace("-", "")
    registry.collect { case t: Bronze if exists(t) =>
      val snapshot = s"${t.name}_$stamp"
      wh.overwrite(load(t), "backup", snapshot)
      snapshot
    }
  }

  /** G2 — seed bronze by demultiplexing a reference-shaped combined CSV
    * (the CSV-pipeline DAG path, `bakery_csv_etl_pipeline.py`). The sales
    * slice drops the transient raw_payload (its fields live in the JSON
    * column) to match the generator-shaped bronze schema. Mirroring the
    * reference DAG's stage order, an `asOf` date triggers the
    * backup-before-load step for any bronze tables already present.
    */
  def initBronzeFromCsv(csvPath: String, backupAsOf: Option[java.sql.Date] = None): Unit = {
    backupAsOf.foreach(backupBronze)
    val csv = new org.apache.hadoop.fs.Path(csvPath)
    val csvBytes = csv.getFileSystem(callerWh.spark.sparkContext.hadoopConfiguration)
      .getContentSummary(csv).getLength
    stage(csvBytes)(loadCsv(csvPath))
  }

  private def loadCsv(csvPath: String): Unit = {
    import graft.sources.CsvDemux
    val raw = CsvDemux.readCombined(spark, csvPath)
    // literal "null" strings -> real nulls (reference CSV convention)
    val combined = raw.select(raw.columns.map(c =>
      when(col(s"`$c`") === "null", lit(null)).otherwise(col(s"`$c`")).as(c)).toSeq: _*)
    overwrite(CsvDemux.sales(combined).select(Schemas.bronzeSales.fieldNames.map(col).toSeq: _*),
      bronzeSales)
    overwrite(CsvDemux.inventory(combined), bronzeInventory)
    overwrite(CsvDemux.equipment(combined), bronzeEquipment)
    overwrite(CsvDemux.feedback(combined), bronzeFeedback)
  }

  /** Small state table recording which date partitions each cycle's
    * silver batch touched, per silver domain — the contract between the
    * incremental bronze→silver stage and the partition-scoped gold build.
    * Bounded by the calendar (a date appears at most once per domain per
    * unconsumed cycle), so collecting it to the driver is a scalar gate
    * in the S12 sense. Persisted (not returned in memory) so a crash, or
    * callers running the stages separately, never lose dates: the gold
    * build consumes the table and drops it.
    *
    * Each domain appends under its own `domain=<name>` directory: the
    * domains run concurrently, and concurrent appends to one table root
    * share its `_temporary` directory, whose cleanup by the first
    * committer deletes the others' files. Partition discovery reads the
    * directories back as one table with a `domain` column.
    */
  private val pendingTable = "gold_pending_dates"

  private def recordPendingDates(domain: String, dates: Seq[java.sql.Date]): Unit =
    if (dates.nonEmpty) {
      val rows = dates.map(d => org.apache.spark.sql.Row(d))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.DateType)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append")
        .parquet(s"${wh.path("silver", pendingTable)}/domain=$domain")
    }

  /** Pending gold-rebuild dates per domain, consumed by the gold stage. */
  private def loadPendingDates(): Map[String, Seq[java.sql.Date]] =
    if (!wh.exists("silver", pendingTable)) Map.empty
    else
      wh.load("silver", pendingTable)
        .select(col("domain"), col("date"))
        .distinct()
        .collect()
        .map(r => (r.getString(0), r.getDate(1)))
        .groupBy(_._1)
        .map { case (d, rows) => d -> rows.map(_._2).toSeq.sortBy(_.getTime) }

  /** G1 stage 2 — Bronze→Silver: each silver domain's bronze source
    * merged into it on its key ([[Warehouse.merge]]). Every date a commit
    * touches, a replaced version's date included, is recorded for the gold
    * build. The four domains run concurrently.
    */
  def bronzeToSilver(): Unit = stage()(concurrently(silverDomains.map(d => () => runDomain(d)): _*))

  /** One silver domain's cycle: bronze merged into silver on its key,
    * its transform applied to the pending rows only. Before the commit:
    *  1. the batch's dates go into the pending-dates table;
    *  2. for sales, the batch dates' quality aggregate, computed from
    *     their silver rows plus the batch — sales is insert-only, so
    *     this is those partitions' content after the commit.
    * A crash before the commit leaves the batch pending, and the re-run
    * rewrites steps 1-2 identically. Keys a partly committed append
    * missed stay pending too, so the next run adds exactly those rows.
    */
  private def runDomain(d: Silver): Unit =
    wh.merge(load(d.source), d.layer, d.name, Seq(d.key), d.version, d.transform, (batch, batchDates) => {
      recordPendingDates(d.name, batchDates)
      // maintained quality state: per-date exact (score sum, count) in
      // decimal over the rows that have a date, so the gate reads O(days)
      // rows, not all of silver. A warehouse PREDATING the aggregate
      // backfills from ALL silver dates once: seeded from the batch
      // alone, the gate's average would leave history out for good.
      if (d eq silverSales) {
        val scores   = Seq(col("date"), col("data_quality_score"))
        val backfill = !wh.exists("silver", "agg_quality_daily")
        val history = Option.when(exists(d))(load(d)).map(s =>
          if (backfill) s else s.where(col("date").isin(batchDates: _*)))
        val scope = (history.toSeq :+ batch).map(_.select(scores: _*)).reduce(_ unionByName _)
        val daily = scope.where(col("date").isNotNull).groupBy(col("date")).agg(
          sum(col("data_quality_score")
            .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("score_sum"),
          count(lit(1)).as("n"))
        if (backfill) wh.overwrite(daily, "silver", "agg_quality_daily")
        else wh.overwrite(daily, "silver", "agg_quality_daily", batchDates)
      }
    })

  /** G3 — quality gate: the average quality score of the silver sales
    * rows that have a date must clear the threshold before gold builds
    * (bakery_batch_etl.py:54-62; threshold 80 in the reference,
    * configurable here). Reads the maintained per-date (score_sum, n)
    * aggregate — O(days) rows, exact weighted average — instead of
    * full-scanning silver each cycle; warehouses predating the aggregate
    * fall back to the scan once (the next bronzeToSilver cycle BACKFILLS
    * the state from all silver dates, so the average covers history).
    * Returns the average, or NaN when silver holds no sale with a date:
    * there is nothing to average, and the gate passes. (Such a silver
    * leaves the aggregate without a data file, so the gate takes the scan.)
    */
  def qualityGate(threshold: Double = 50.0): Double = stage() {
    val r =
      if (wh.exists("silver", "agg_quality_daily"))
        wh.load("silver", "agg_quality_daily")
          .agg((sum(col("score_sum")) / sum(col("n"))).cast("double"))
          .first()
      else
        load(silverSales).where(col("date").isNotNull)
          .agg(avg(col("data_quality_score")))
          .first()
    val avgScore = if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    require(avgScore.isNaN || avgScore >= threshold,
      f"quality gate failed: avg sales quality $avgScore%.1f < $threshold%.1f")
    avgScore
  }

  /** G1 stage 3, full-rebuild form: every fact partition and aggregate is
    * recomputed from full silver. Kept as the reference semantics the
    * incremental build must hash-match; [[runAll]] uses
    * [[silverToGoldIncremental]]. Like it, the facts and their aggregates
    * leave out silver rows without a date (silver keeps them).
    */
  def silverToGold(asOf: java.sql.Date): Unit = stage()(Pipeline.buildGold(wh, registry, asOf, None))

  /** G1 stage 3, partition-scoped: consumes the pending-dates table the
    * bronze→silver stage wrote and recomputes ONLY those date partitions
    * of the history-sized facts and maintained daily aggregates (a dated
    * overwrite: a date left without rows is deleted). Per-date recompute
    * is exact for every scoped table — fact_sales' transaction sequence
    * windows by (store, date), the other facts filter/aggregate within a
    * date, and the aggregates' grain includes the date — so the result is
    * hash-identical to a full rebuild while each cycle costs O(touched
    * partitions), not O(history): the property that keeps a 2-hour
    * cadence runnable at 100 TB. Dims, promo-grain facts, and feature
    * tables are rebuilt every cycle but read only seed catalogs or the
    * compact daily-grain aggregates — never event-grain history.
    */
  def silverToGoldIncremental(asOf: java.sql.Date): Unit = stage() {
    Pipeline.buildGold(wh, registry, asOf, Some(loadPendingDates()))
    wh.drop("silver", pendingTable)
  }

  /** dim_calendar's spine bounds, or None when the spine needs no
    * rewrite: the full path takes silver's least and greatest sale date
    * (None when silver holds no dated sale); the incremental path extends
    * the existing spine's bounds with the delta dates. Both bounds come
    * from file footers ([[Inputs.dateSpan]]), so neither path runs a job.
    */
  private def calendarBounds(in: Inputs): Option[(String, String)] = {
    def silverBounds = in.dateSpan(silverSales).map { case (lo, hi) => (lo.toString, hi.toString) }
    in.dates(silverSales) match {
      case None => silverBounds
      case Some(delta) =>
        (in.priorDateSpan, delta) match {
          case (None, Nil)          => None
          // no existing spine to extend (warehouse predating the
          // incremental build, or a dropped calendar): the delta's
          // dates may under-span silver history, so fall back to the
          // full-path silver bounds rather than silently
          // shrinking dim_calendar vs full-rebuild semantics
          case (None, _)            => silverBounds
          case (Some((lo, hi)), ds) =>
            val nlo = (ds :+ lo).minBy(_.getTime)
            val nhi = (ds :+ hi).maxBy(_.getTime)
            if (nlo == lo && nhi == hi) None // spine already spans the delta
            else Some((nlo.toString, nhi.toString))
        }
    }
  }

  /** Append a fresh bronze batch (a later producer window) — the entry
    * point each ingest cycle uses between pipeline runs.
    */
  def appendBronzeSales(batch: DataFrame): Unit =
    stage()(wh.append(batch, bronzeSales.layer, bronzeSales.name))

  /** G2/G5 — count report across all layers (bakery_csv_etl_pipeline.py:
    * 380-416): every existing registry table's row count, summed from the
    * record counts in its files' parquet footers ([[Warehouse.fileRows]]),
    * as Iceberg answers `COUNT(*)` from its table metadata. The tables are
    * counted one after another on the driver; no Spark job runs. Returned
    * as a local frame sorted by (layer, table_name), with a 0 row for a
    * table that exists but is empty.
    */
  def report(): DataFrame = stage() {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = registry.map(t => (t.layer, t.name)).sorted.flatMap { case (l, t) =>
      val files = wh.fileRows(l, t)
      Option.when(files.nonEmpty)(Row(l, t, files.map(_.rows).sum))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("layer", StringType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false))))
  }

  /** Maintenance stage: compact the append-heavy tables, each silver
    * domain's bronze source and the domain itself. A batch write leaves
    * one file per date (the warehouse clusters date-partitioned writes),
    * so batch overwrites no longer fragment; what still leaves dust is
    * streaming micro-batches and separate appends to the same date, one
    * file each — a late silver batch adds a file to its old dates instead
    * of rewriting them. Dims and gold snapshots rewrite whole on every
    * cycle. Returns (`layer.table` → (filesBefore, filesAfter)) for the
    * run log.
    */
  def maintain(targetBytes: Long = 128L << 20): Map[String, (Long, Long)] = stage() {
    val files = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    concurrently((silverDomains.map(_.source) ++ silverDomains).filter(exists)
      .map(t => () => files(t.id) = wh.compact(t.layer, t.name, targetBytes)): _*)
    files.toMap
  }

  /** Full cycle (G1): ingest → silver → gate → gold → maintain → report.
    * The gold stage is the partition-scoped incremental build — each
    * cycle's cost tracks the batch's date span, not history size.
    */
  def runAll(asOf: java.sql.Date): DataFrame = {
    bronzeToSilver()
    qualityGate()
    silverToGoldIncremental(asOf)
    maintain()
    report()
  }
}

object Pipeline {

  /** A table of the medallion, declared once in the [[Pipeline]]'s
    * registry; `id` is `layer.name`.
    */
  private[etl] sealed trait TableDef {
    def layer: String
    def name: String
    final def id: String = s"$layer.$name"
  }

  /** A bronze table: seeded, loaded from CSV or appended to. */
  private[etl] final case class Bronze(name: String) extends TableDef {
    def layer: String = "bronze"
  }

  /** A silver domain: `source` merged in on `key`, newer-wins on `version`
    * when set, `transform` applied to the pending rows. Its name also
    * names the domain's pending dates.
    */
  private[etl] final case class Silver(name: String, source: Bronze, key: String,
      transform: DataFrame => DataFrame, version: Option[String] = None) extends TableDef {
    def layer: String = "silver"
  }

  /** A gold table: `build` returns the frame to write, or None when there
    * is nothing to write this cycle. It reads the `inputs` (ids of other
    * registry entries) through [[Inputs]]. A `scope` domain makes the write
    * a dated overwrite of that domain's pending dates, and the build is not
    * run when there are none; without one, and on the full rebuild, the
    * table is replaced whole.
    */
  private[etl] final class Gold(val name: String, val scope: Option[Silver], val inputs: Seq[String])(
      val build: Inputs => Option[DataFrame]) extends TableDef {
    def layer: String = "gold"
  }

  /** What a gold build reads: the tables it declares, opened when it asks
    * for them (the runner starts it only once they are written), its own
    * table as the build found it, and the cycle's as-of date and pending
    * dates (None on the full rebuild). Asking for an undeclared table
    * throws.
    */
  private[etl] final class Inputs(wh: Warehouse, self: Gold, val asOf: java.sql.Date,
      pending: Option[Map[String, Seq[java.sql.Date]]]) {
    private def open(t: TableDef): Option[DataFrame] =
      Option.when(wh.exists(t.layer, t.name))(wh.load(t.layer, t.name))
    private def declared(t: TableDef): TableDef = {
      require(self.inputs.contains(t.id), s"${self.id} reads ${t.id}, which it does not declare")
      t
    }
    def prior: Option[DataFrame] = open(self)
    def apply(t: TableDef): DataFrame = wh.load(declared(t).layer, t.name)
    def get(t: TableDef): Option[DataFrame] = open(declared(t))
    /** The least and greatest `date` of an input's rows, from its files'
      * footers with no job: the `date=` partitions whose files hold a row.
      * The null partition does not count, nor does a partition without a
      * data file. None when no row has a date.
      */
    def dateSpan(t: TableDef): Option[(java.sql.Date, java.sql.Date)] = span(declared(t))
    /** [[dateSpan]] of the build's own table as the build found it. */
    def priorDateSpan: Option[(java.sql.Date, java.sql.Date)] = span(self)
    private def span(t: TableDef) = {
      val dates = wh.fileRows(t.layer, t.name).filter(_.rows > 0).flatMap(_.date)
      Option.when(dates.nonEmpty)((dates.minBy(_.getTime), dates.maxBy(_.getTime)))
    }
    def dates(domain: Silver): Option[Seq[java.sql.Date]] = pending.map(_.getOrElse(domain.name, Nil))
    /** An input cut to the build's scope: the domain's pending dates (literal `isin`, so the parquet scan
      * partition-prunes statically), or on the full rebuild every row that
      * has a date. Both leave out rows without a date: no pending date
      * names them. None when the input is absent, as a full rebuild leaves
      * a fact whose domain has no dated row.
      */
    def scoped(t: TableDef): Option[DataFrame] = get(t).map(df => dates(self.scope.get)
      .fold(df.where(col("date").isNotNull))(ds => df.where(col("date").isin(ds: _*))))
  }

  /** Builds the gold entries of `registry` through `wh`, all at once on
    * [[concurrently]]'s threads: each build starts once every gold table
    * it declares is written (bronze and silver inputs are written by the
    * stages before), so no build reads a table before its write. A failed
    * build's dependents do not run; the others finish, and the errors are
    * thrown as [[concurrently]] throws them. Before any build starts, an
    * input that names no entry, or inputs that form a cycle, throw.
    */
  private[etl] def buildGold(wh: Warehouse, registry: Seq[TableDef], asOf: java.sql.Date,
      pending: Option[Map[String, Seq[java.sql.Date]]]): Unit = {
    val byId  = registry.map(t => t.id -> t).toMap
    val golds = registry.collect { case g: Gold => g }
    def check(id: String, readers: List[String]): Unit = byId.get(id) match {
      case None => throw new IllegalArgumentException(s"${readers.head} reads $id, which no entry declares")
      case Some(g: Gold) =>
        require(!readers.contains(id), s"gold inputs form a cycle: ${(id :: readers).reverse.mkString(" -> ")}")
        g.inputs.foreach(check(_, id :: readers))
      case _ =>
    }
    golds.foreach(g => check(g.id, Nil))
    // completed with whether the build wrote what it had to
    val written = golds.map(g => g.id -> new java.util.concurrent.CompletableFuture[java.lang.Boolean]).toMap
    concurrently(golds.map(g => () => {
      var ok = false
      try if (g.inputs.flatMap(written.get).forall(_.join())) {
        val in    = new Inputs(wh, g, asOf, pending)
        val dates = g.scope.flatMap(in.dates)
        if (!dates.contains(Nil)) g.build(in).foreach(df =>
          dates.fold(wh.overwrite(df, g.layer, g.name))(wh.overwrite(df, g.layer, g.name, _)))
        ok = true
      } finally written(g.id).complete(ok)
    }): _*)
  }

  /** Bronze bytes up to which a stage runs interpreted (16 MiB). Measured
    * with [[graft.tools.InterpretCrossover]] on 4 vCPU, one fresh JVM per
    * size and mode, seed / backfill cycle / mean of two cycles that each
    * append 250 sales, interpreted vs compiled seconds:
    *  - 1.8 MB of bronze: 8.8 vs 10.3, 22.2 vs 27.0, 10.9 vs 14.0;
    *  - 7.9 MB: 12.4 vs 13.0, 30.9 vs 35.8, 12.1 vs 16.3;
    *  - 14.3 MB: 14.0 vs 16.3, 39.3 vs 44.4, 12.7 vs 15.5;
    *  - 20.6 MB: 17.0 vs 17.6, 49.3 vs 52.4, 14.3 vs 17.7;
    *  - 43.8 MB: 20.5 vs 18.4, 73.3 vs 63.5, 16.4 vs 19.6.
    * The seed and the backfill, which carry all of bronze through the
    * plans, cross over between 20.6 and 43.8 MB; the bound sits below
    * the largest size at which every phase ran faster interpreted.
    */
  val MaxInterpretedBronzeBytes: Long = 16L << 20

  /** Bronze parquet bytes per row [[Pipeline.initBronze]] generates, the
    * seed's estimate of what it adds: at the proportions [[RunPipeline]]
    * seeds in, 13.9 bytes a row at 1.7 M sales and 15.5 at 500 k.
    */
  private val SeedBytesPerRow: Long = 14L

  /** Bytes of every file under `<root>/bronze`, 0 when it is absent. */
  private def bronzeBytes(wh: Warehouse): Long = {
    val bronze = new org.apache.hadoop.fs.Path(wh.root, "bronze")
    val fs     = bronze.getFileSystem(wh.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(bronze)) fs.getContentSummary(bronze).getLength else 0L
  }

  /** A child of `caller` with its modifiable runtime SQL confs, whole-stage
    * codegen off and expressions evaluated interpreted.
    */
  private def interpretedSession(caller: SparkSession): SparkSession = {
    val child = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) => if (caller.conf.isModifiable(k)) child.conf.set(k, v) }
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    child
  }

  /** Runs `steps` at once, each on a fresh thread started by the calling
    * thread, and returns when every one has finished. Fresh threads
    * inherit the caller's Spark local properties (job group, scheduler
    * pool, any tag a listener attributes jobs by), which pooled threads
    * would not. If steps fail, the first failing step's error (in
    * argument order) is thrown once all have finished, with the other
    * errors attached as suppressed.
    */
  private[etl] def concurrently(steps: (() => Unit)*): Unit = {
    val errors  = new Array[Throwable](steps.size)
    val threads = steps.indices.map { i =>
      val t = new Thread(() =>
        try steps(i)()
        catch { case e: Throwable => errors(i) = e },
        s"${Thread.currentThread.getName}-step-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.filter(_ != null) match {
      case Array() =>
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
