package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process pipeline runner replacing the reference's Airflow DAGs
  * (SURVEY.md §2.11 G1-G5): ordered stages, a quality gate between
  * layers, and a per-table count report.
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
  * bronze and silver partitions the report scans. Inside a stage the
  * independent table builds overlap — the four silver domains, the gold
  * phases' builds, the compactions — each on its own thread, so one
  * table's driver-side analysis, planning and codegen runs while
  * another's tasks hold the cores. No two of them write the same table
  * root.
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
  import Pipeline.concurrently

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

  /** G5 — seed bronze from the deterministic generators, the six tables
    * at once.
    */
  def initBronze(nSales: Long, nInventory: Long, nEquipment: Long, nFeedback: Long,
      nPromotions: Long = 40): Unit =
    stage(Pipeline.SeedBytesPerRow * (nSales + nInventory + nEquipment + nFeedback + nPromotions))(
      concurrently(
        () => wh.overwrite(Generators.salesEvents(spark, nSales), "bronze", "sales_events"),
        () => wh.overwrite(Generators.inventoryUpdates(spark, nInventory), "bronze", "inventory_updates"),
        () => wh.overwrite(Generators.equipmentMetrics(spark, nEquipment), "bronze", "equipment_metrics"),
        () => wh.overwrite(Generators.customerFeedback(spark, nFeedback), "bronze", "customer_feedback"),
        () => wh.overwrite(Generators.promotions(spark, nPromotions), "bronze", "promotions"),
        () => wh.overwrite(Generators.weatherData(spark), "bronze", "weather_data")))

  /** Bronze tables the pipeline manages, in load order. */
  private val bronzeTables = Seq(
    "sales_events", "inventory_updates", "equipment_metrics",
    "customer_feedback", "promotions", "weather_data")

  /** CTAS-style bronze backup (reference `bakery_csv_etl_pipeline.py:
    * 260-262` creates `<table>_backup_<ds>` copies before the day's
    * load). Snapshots every existing bronze table into the backup layer
    * as `<table>_<yyyymmdd>`; re-running the same day's backup
    * overwrites the same snapshot (idempotent). Returns the snapshot
    * names written.
    */
  def backupBronze(asOf: java.sql.Date): Seq[String] = stage() {
    val stamp = asOf.toString.replace("-", "")
    bronzeTables
      .filter(wh.exists("bronze", _))
      .map { t =>
        val snapshot = s"${t}_$stamp"
        wh.overwrite(wh.load("bronze", t), "backup", snapshot)
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
    wh.overwrite(
      CsvDemux.sales(combined).select(Schemas.bronzeSales.fieldNames.map(col).toSeq: _*),
      "bronze", "sales_events")
    wh.overwrite(CsvDemux.inventory(combined), "bronze", "inventory_updates")
    wh.overwrite(CsvDemux.equipment(combined), "bronze", "equipment_metrics")
    wh.overwrite(CsvDemux.feedback(combined), "bronze", "customer_feedback")
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

  /** G1 stage 2 — Bronze→Silver: each domain's bronze merged into silver
    * on its key ([[Warehouse.merge]]), insert-only except inventory, where
    * a newer `ingestion_time` replaces the silver row (T5, late data).
    * Every date a commit touches, a replaced version's date included, is
    * recorded for the gold build. The four domains run concurrently.
    */
  def bronzeToSilver(): Unit = stage()(concurrently(
    () => runDomain("sales_events", "event_id", BronzeToSilver.sales),
    () => runDomain("inventory_updates", "update_id", BronzeToSilver.inventory,
      version = Some("ingestion_time")),
    () => runDomain("equipment_metrics", "metric_id", BronzeToSilver.equipment),
    () => runDomain("feedback", "feedback_id", BronzeToSilver.feedback,
      bronzeTable = "customer_feedback")))

  /** One silver domain's cycle: bronze merged into silver on `keyCol`,
    * `transform` applied to the pending rows only. Before the commit:
    *  1. the batch's dates go into the pending-dates table;
    *  2. for sales, the batch dates' quality aggregate, computed from
    *     their silver rows plus the batch — sales is insert-only, so
    *     this is those partitions' content after the commit.
    * A crash before the commit leaves the batch pending, and the re-run
    * rewrites steps 1-2 identically. Keys a partly committed append
    * missed stay pending too, so the next run adds exactly those rows.
    */
  private def runDomain(
      name: String,
      keyCol: String,
      transform: DataFrame => DataFrame,
      bronzeTable: String = "",
      version: Option[String] = None
  ): Unit =
    wh.merge(wh.load("bronze", if (bronzeTable.nonEmpty) bronzeTable else name), "silver", name,
      Seq(keyCol), version, transform, (batch, batchDates) => {
        recordPendingDates(name, batchDates)
        // maintained quality state: per-date exact (score sum, count) in
        // decimal over the rows that have a date, so the gate reads O(days)
        // rows, not all of silver. A warehouse PREDATING the aggregate
        // backfills from ALL silver dates once: seeded from the batch
        // alone, the gate's average would leave history out for good.
        if (name == "sales_events") {
          val scores   = Seq(col("date"), col("data_quality_score"))
          val backfill = !wh.exists("silver", "agg_quality_daily")
          val history = Option.when(wh.exists("silver", name))(wh.load("silver", name)).map(s =>
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
    */
  def qualityGate(threshold: Double = 50.0): Double = stage() {
    val avgScore =
      if (wh.exists("silver", "agg_quality_daily"))
        wh.load("silver", "agg_quality_daily")
          .agg((sum(col("score_sum")) / sum(col("n"))).cast("double"))
          .first()
          .getDouble(0)
      else
        wh.load("silver", "sales_events").where(col("date").isNotNull)
          .agg(avg(col("data_quality_score")))
          .first()
          .getDouble(0)
    require(avgScore >= threshold,
      f"quality gate failed: avg sales quality $avgScore%.1f < $threshold%.1f")
    avgScore
  }

  /** G1 stage 3, full-rebuild form: every fact partition and aggregate is
    * recomputed from full silver. Kept as the reference semantics the
    * incremental build must hash-match; [[runAll]] uses
    * [[silverToGoldIncremental]]. Like it, the facts and their aggregates
    * leave out silver rows without a date (silver keeps them).
    */
  def silverToGold(asOf: java.sql.Date): Unit = stage()(buildGold(asOf, None))

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
    buildGold(asOf, Some(loadPendingDates()))
    wh.drop("silver", pendingTable)
  }

  private def buildGold(
      asOf: java.sql.Date,
      pending: Option[Map[String, Seq[java.sql.Date]]]
  ): Unit = {
    val silverSales = wh.load("silver", "sales_events")
    // history-sized frame scoped to a domain's pending date partitions:
    // None = nothing to do this cycle; literal isin so the parquet scan
    // partition-prunes statically (no reliance on runtime DPP). Both paths
    // leave out rows without a date: no pending date names them
    def scoped(df: DataFrame, domain: String): Option[DataFrame] = pending match {
      case None => Some(df.where(col("date").isNotNull))
      case Some(p) =>
        val dates = p.getOrElse(domain, Nil)
        if (dates.isEmpty) None else Some(df.where(col("date").isin(dates: _*)))
    }
    // gold write of a scoped frame: its pending dates, or the whole table
    def overwriteScoped(df: DataFrame, table: String, domain: String): Unit = pending match {
      case None    => wh.overwrite(df, "gold", table)
      case Some(p) => wh.overwrite(df, "gold", table, p.getOrElse(domain, Nil))
    }

    // three phases; inside each the builds read only tables an earlier
    // phase wrote, so they overlap
    concurrently(
      () => wh.overwrite(SilverToGold.dimProduct(spark,
          if (wh.exists("gold", "dim_product")) Some(wh.load("gold", "dim_product")) else None),
        "gold", "dim_product"),
      () => wh.overwrite(SilverToGold.dimStoreScd2(spark,
          if (wh.exists("gold", "dim_store")) Some(wh.load("gold", "dim_store")) else None, asOf),
        "gold", "dim_store"),
      // last-7-days filter inside: partition-pruned, bounded at any scale
      () => wh.overwrite(SilverToGold.dimPricingScd2(silverSales,
          if (wh.exists("gold", "dim_pricing")) Some(wh.load("gold", "dim_pricing")) else None,
          asOf),
        "gold", "dim_pricing"),
      () => wh.overwrite(SilverToGold.dimEquipment(spark), "gold", "dim_equipment"),
      () => calendarBounds(silverSales, pending).foreach { case (minD, maxD) =>
        wh.overwrite(SilverToGold.dimCalendar(spark, minD, maxD), "gold", "dim_calendar")
      },
      () => if (wh.exists("bronze", "weather_data"))
        wh.overwrite(SilverToGold.dimWeather(wh.load("bronze", "weather_data")),
          "gold", "dim_weather"),
      () => wh.overwrite(Generators.marketingEvents(spark, 12), "gold", "dim_marketing_events"))

    concurrently(
      // sales: fact partitions, then the maintained daily aggregates for
      // the same partitions (read back pruned from the just-written fact)
      () => {
        scoped(silverSales, "sales_events").foreach { s =>
          // reload after the swap: dimProduct's plan pinned the
          // PRE-overwrite file listing of gold/dim_product, which no
          // longer exists
          overwriteScoped(SilverToGold.factSales(s, wh.load("gold", "dim_product")),
            "fact_sales", "sales_events")
          overwriteScoped(
            SilverToGold.aggDailySales(scoped(wh.load("gold", "fact_sales"), "sales_events").get),
            "agg_daily_sales", "sales_events")
          overwriteScoped(SilverToGold.aggCustomerDaily(s), "agg_customer_daily", "sales_events")
        }
        if (wh.exists("gold", "agg_customer_daily"))
          wh.overwrite(SilverToGold.dimCustomer(wh.load("gold", "agg_customer_daily")),
            "gold", "dim_customer")
      },
      () => scoped(wh.load("silver", "inventory_updates"), "inventory_updates").foreach { s =>
        overwriteScoped(SilverToGold.factInventory(s), "fact_inventory", "inventory_updates")
        overwriteScoped(
          SilverToGold.aggInventoryDaily(
            scoped(wh.load("gold", "fact_inventory"), "inventory_updates").get),
          "agg_inventory_daily", "inventory_updates")
      },
      () => scoped(wh.load("silver", "equipment_metrics"), "equipment_metrics").foreach { s =>
        overwriteScoped(SilverToGold.factEquipment(s), "fact_equipment_performance", "equipment_metrics")
      },
      () => scoped(wh.load("silver", "feedback"), "feedback").foreach { s =>
        overwriteScoped(SilverToGold.factCustomerFeedback(s), "fact_customer_feedback", "feedback")
      })

    // promo-grain fact + feature tables: rebuilt whole each cycle, but
    // every history-shaped input is a maintained daily-grain aggregate
    concurrently(
      () => if (wh.exists("gold", "agg_daily_sales")) {
        val dailyUnits = wh.load("gold", "agg_daily_sales")
          .groupBy(col("product_id"), col("date"))
          .agg(sum(col("daily_units")).as("units"))
        wh.overwrite(SilverToGold.factPromotions(
            wh.load("bronze", "promotions"), dailyUnits, asOf),
          "gold", "fact_promotions")

        wh.overwrite(MlFeatures.productDemand(
            wh.load("gold", "agg_daily_sales"), wh.load("gold", "fact_promotions"),
            // degrade like the dim_weather fallback below: a warehouse
            // whose inventory domain never produced a cycle gets an
            // empty daily-grain frame, not a missing-path crash
            if (wh.exists("gold", "agg_inventory_daily"))
              wh.load("gold", "agg_inventory_daily")
            else SilverToGold.aggInventoryDaily(SilverToGold.factInventory(
              BronzeToSilver.inventory(Generators.inventoryUpdates(spark, 0)))),
            wh.load("gold", "dim_pricing"),
            wh.load("gold", "dim_calendar"),
            if (wh.exists("gold", "dim_weather")) wh.load("gold", "dim_weather")
            else SilverToGold.dimWeather(
              Generators.weatherData(spark).limit(0))),
          "gold", "product_demand_features")
      },
      // equipment fact is already (equipment, date) grain — compact input
      () => if (wh.exists("gold", "fact_equipment_performance"))
        wh.overwrite(MlFeatures.equipmentHealth(wh.load("gold", "fact_equipment_performance")),
          "gold", "equipment_health_features"),
      () => wh.overwrite(MlFeatures.productionBatches(spark,
          wh.load("gold", "dim_product"), wh.load("gold", "dim_equipment")),
        "gold", "production_batch_features"))
  }

  /** dim_calendar's spine bounds, or None when the spine needs no
    * rewrite: the full path scans silver min/max; the incremental path
    * extends the existing spine with the delta dates (no scan).
    */
  private def calendarBounds(
      silverSales: DataFrame,
      pending: Option[Map[String, Seq[java.sql.Date]]]
  ): Option[(String, String)] = pending match {
    case None =>
      val r = silverSales.agg(min(col("date")), max(col("date"))).first()
      Some((r.getDate(0).toString, r.getDate(1).toString))
    case Some(p) =>
      val delta = p.getOrElse("sales_events", Nil)
      val cur =
        if (!wh.exists("gold", "dim_calendar")) None
        else {
          val r = wh.load("gold", "dim_calendar")
            .agg(min(col("date")), max(col("date"))).first()
          Some((r.getDate(0), r.getDate(1)))
        }
      (cur, delta) match {
        case (None, Nil)          => None
        case (None, _)            =>
          // no existing spine to extend (warehouse predating the
          // incremental build, or a dropped calendar): the delta's
          // dates may under-span silver history, so fall back to the
          // full-path silver min/max scan rather than silently
          // shrinking dim_calendar vs full-rebuild semantics
          val r = silverSales.agg(min(col("date")), max(col("date"))).first()
          Some((r.getDate(0).toString, r.getDate(1).toString))
        case (Some((lo, hi)), ds) =>
          val nlo = (ds :+ lo).minBy(_.getTime)
          val nhi = (ds :+ hi).maxBy(_.getTime)
          if (nlo == lo && nhi == hi) None // spine already spans the delta
          else Some((nlo.toString, nhi.toString))
      }
  }

  /** Append a fresh bronze batch (a later producer window) — the entry
    * point each ingest cycle uses between pipeline runs.
    */
  def appendBronzeSales(batch: DataFrame): Unit =
    stage()(wh.append(batch, "bronze", "sales_events"))

  /** G2/G5 — count report across all layers (bakery_csv_etl_pipeline.py:
    * 380-416): one scan of every existing table, tagged and counted in
    * one aggregation, returned as a local frame sorted by (layer,
    * table_name) with a 0 row for a table that exists but is empty.
    */
  def report(): DataFrame = stage() {
    val tables = Seq(
      "bronze" -> "sales_events", "bronze" -> "inventory_updates",
      "bronze" -> "equipment_metrics", "bronze" -> "customer_feedback",
      "bronze" -> "promotions", "bronze" -> "weather_data",
      "silver" -> "sales_events", "silver" -> "inventory_updates",
      "silver" -> "equipment_metrics", "silver" -> "feedback",
      "gold" -> "dim_product", "gold" -> "dim_store", "gold" -> "dim_pricing",
      "gold" -> "dim_customer", "gold" -> "dim_calendar", "gold" -> "dim_equipment",
      "gold" -> "dim_weather", "gold" -> "dim_marketing_events",
      "gold" -> "agg_daily_sales", "gold" -> "agg_customer_daily",
      "gold" -> "agg_inventory_daily",
      "gold" -> "fact_sales", "gold" -> "fact_inventory",
      "gold" -> "fact_equipment_performance", "gold" -> "fact_promotions",
      "gold" -> "fact_customer_feedback",
      "gold" -> "product_demand_features", "gold" -> "equipment_health_features",
      "gold" -> "production_batch_features"
    )
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val present = tables.filter { case (l, t) => wh.exists(l, t) }
    val counts = present
      .map { case (l, t) => wh.load(l, t).select(lit(l).as("layer"), lit(t).as("table_name")) }
      .reduceOption(_ unionByName _)
      .map(_.groupBy(col("layer"), col("table_name")).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
      .getOrElse(Map.empty)
    val rows = present.sorted.map { case (l, t) => Row(l, t, counts.getOrElse((l, t), 0L)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("layer", StringType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false))))
  }

  /** Maintenance stage: compact the append-heavy bronze and silver
    * facts. A batch write leaves one file per date (the warehouse
    * clusters date-partitioned writes), so batch overwrites no longer
    * fragment; what still leaves dust is streaming micro-batches and
    * separate appends to the same date, one file each — a late silver
    * batch adds a file to its old dates instead of rewriting them. Dims
    * and gold snapshots rewrite whole on every cycle. Returns (table →
    * (filesBefore, filesAfter)) for the run log.
    */
  def maintain(targetBytes: Long = 128L << 20): Map[String, (Long, Long)] = stage() {
    val appendTables = Seq(
      "bronze" -> "sales_events", "bronze" -> "inventory_updates",
      "bronze" -> "equipment_metrics", "bronze" -> "customer_feedback",
      "silver" -> "sales_events", "silver" -> "inventory_updates",
      "silver" -> "equipment_metrics", "silver" -> "feedback")
    val files = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    concurrently(appendTables
      .filter { case (l, t) => wh.exists(l, t) }
      .map { case (l, t) => () => files(s"$l.$t") = wh.compact(l, t, targetBytes) }: _*)
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
