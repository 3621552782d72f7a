package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process pipeline runner replacing the reference's Airflow DAGs
  * (SURVEY.md §2.11 G1-G5): ordered stages, a quality gate between
  * layers, processed-key ledgers, and a per-table count report.
  *
  * The run is incremental-by-construction END TO END: each cycle
  * processes only bronze rows absent from the ledger, merges them into
  * the silver date partitions the batch touches, records those dates in
  * a pending-dates table, and the gold stage recomputes ONLY those fact
  * and daily-aggregate partitions (dynamic partition overwrite) — so a
  * cycle's cost tracks the batch, not history, and re-running a cycle
  * adds zero rows. Dim, promo-grain, and feature tables rebuild each
  * cycle but read only seed catalogs or the maintained daily-grain
  * aggregates, never event-grain history.
  *
  * Stages run in order (bronze→silver, gate, gold, maintain, report):
  * each reads what the one before wrote, and compaction rewrites the
  * bronze partitions the report scans. Inside a stage the independent
  * table builds overlap — the four silver domains, the gold phases'
  * builds, the four compactions — each on its own thread, so one table's
  * driver-side analysis, planning and codegen runs while another's tasks
  * hold the cores. No two of them write the same table root.
  */
final class Pipeline(wh: Warehouse) {
  import Pipeline.concurrently

  private def spark: SparkSession = wh.spark

  /** G5 — seed bronze from the deterministic generators. */
  def initBronze(nSales: Long, nInventory: Long, nEquipment: Long, nFeedback: Long,
      nPromotions: Long = 40): Unit = {
    wh.overwrite(Generators.salesEvents(spark, nSales), "bronze", "sales_events")
    wh.overwrite(Generators.inventoryUpdates(spark, nInventory), "bronze", "inventory_updates")
    wh.overwrite(Generators.equipmentMetrics(spark, nEquipment), "bronze", "equipment_metrics")
    wh.overwrite(Generators.customerFeedback(spark, nFeedback), "bronze", "customer_feedback")
    wh.overwrite(Generators.promotions(spark, nPromotions), "bronze", "promotions")
    wh.overwrite(Generators.weatherData(spark), "bronze", "weather_data")
  }

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
  def backupBronze(asOf: java.sql.Date): Seq[String] = {
    val stamp = asOf.toString.replace("-", "")
    bronzeTables
      .filter(wh.exists("bronze", _))
      .map { t =>
        val snapshot = s"${t}_$stamp"
        // full replace, NOT the dynamic partition overwrite: a same-day
        // re-run after bronze changed must not merge the two states
        wh.replaceSnapshot(wh.load("bronze", t), "backup", snapshot)
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
    * ledger delta touched, per silver domain — the contract between the
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

  /** G1 stage 2 — Bronze→Silver with ledger-based incrementality and
    * late-data reconciliation. Every touched date partition is recorded
    * in the pending-dates table for the partition-scoped gold build. The
    * four domains run concurrently; the late-inventory reconcile follows
    * the inventory domain on its thread.
    */
  def bronzeToSilver(): Unit = concurrently(
    () => runDomain("sales_events", "event_id", BronzeToSilver.sales),
    () => {
      runDomain("inventory_updates", "update_id", BronzeToSilver.inventory)
      reconcileLateInventory()
    },
    () => runDomain("equipment_metrics", "metric_id", BronzeToSilver.equipment),
    () => runDomain("feedback", "feedback_id", BronzeToSilver.feedback,
      bronzeTable = "customer_feedback"))

  /** T5: reconcile late-arriving inventory into silver, newest wins.
    * Bounded: only candidates STRICTLY NEWER than their silver version
    * survive (version probe against silver's key projection), and only
    * the date partitions those rows touch are merged and dynamically
    * overwritten — O(late batch) work per cycle, not O(full history).
    */
  private def reconcileLateInventory(): Unit = {
    val silverInv = wh.load("silver", "inventory_updates")
    val newer = BronzeToSilver
      .inventory(wh.load("bronze", "inventory_updates"))
      .where(col("late_arrival_hours") > 0)
      .join(
        silverInv.select(col("update_id"), col("ingestion_time").as("__cur_ingest")),
        Seq("update_id"), "left")
      .where(col("__cur_ingest").isNull || col("ingestion_time") > col("__cur_ingest"))
      .drop("__cur_ingest")
    // dates collected BEFORE the overwrite: the `newer` plan pins the
    // pre-reconcile silver file listing, which the overwrite deletes
    val lateDates = newer.select(col("date")).distinct()
      .collect().map(_.getDate(0)).toSeq
    if (lateDates.nonEmpty) {
      val affected = silverInv
        .where(col("date").isin(lateDates: _*))
      wh.overwrite(
        BronzeToSilver.reconcileLate(affected, newer, "update_id"),
        "silver", "inventory_updates")
      recordPendingDates("inventory_updates", lateDates)
    }
  }

  private def runDomain(
      name: String,
      keyCol: String,
      transform: DataFrame => DataFrame,
      bronzeTable: String = ""
  ): Unit = {
    val src    = if (bronzeTable.nonEmpty) bronzeTable else name
    val bronze = wh.load("bronze", src)
    val ledgerPath = s"ledger_$name"
    val ledger = wh.loadOr("silver", ledgerPath,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("processed_at", org.apache.spark.sql.types.TimestampType))))
    // persisted: the batch feeds four jobs (date collect, merge write,
    // ledger append) — without the persist each re-runs the bronze
    // anti-join
    val batch = transform(StatusLedger.pending(bronze, ledger, keyCol)).persist()
    try {
      val batchDates = batch.select(col("date")).distinct()
        .collect().map(_.getDate(0)).toSeq
      if (batchDates.nonEmpty) {
        if (wh.exists("silver", name)) {
          val silver = wh.load("silver", name)
          // partition-scoped merge: only the batch's date partitions are
          // read (partition-pruned literal filter) and dynamically
          // overwritten. Scoping the anti-join target to those partitions
          // is exact because the ledger already guarantees batch keys are
          // new TABLE-wide — so a key can't hide in an unread partition.
          val scoped = silver.where(col("date").isin(batchDates: _*))
          val merged = graft.operators.MergeInto.insertOnly(
            scoped, batch.select(silver.columns.map(col).toSeq: _*), Seq(keyCol))
          wh.overwrite(merged, "silver", name)
        } else wh.overwrite(batch, "silver", name)
        recordPendingDates(name, batchDates)
        // maintained quality state: per-date (decimal score sum, count)
        // from the just-rewritten sales partitions, so the quality gate
        // reads O(days) aggregate rows instead of full-scanning silver
        // every cycle. Per-date exact (recomputed from the whole
        // partition), deterministic (decimal accumulation). First cycle
        // on a warehouse PREDATING the aggregate backfills from ALL
        // silver dates (one full scan) — seeding from the batch alone
        // would permanently exclude historical dates from the gate's
        // average once the table exists.
        if (name == "sales_events") {
          val silverAll = wh.load("silver", name)
          val scope =
            if (!wh.exists("silver", "agg_quality_daily")) silverAll
            else silverAll.where(col("date").isin(batchDates: _*))
          wh.overwrite(
            scope.groupBy(col("date")).agg(
              sum(col("data_quality_score")
                .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("score_sum"),
              count(lit(1)).as("n")),
            "silver", "agg_quality_daily")
        }
        // last write: until the ledger records the batch, a crash leaves
        // it pending, and the re-run's merge is insert-only on the key
        wh.append(StatusLedger.markProcessed(batch, keyCol), "silver", ledgerPath)
      }
    } finally batch.unpersist(false)
  }

  /** G3 — quality gate: average silver quality score must clear the
    * threshold before gold builds (bakery_batch_etl.py:54-62; threshold
    * 80 in the reference, configurable here). Reads the maintained
    * per-date (score_sum, n) aggregate — O(days) rows, exact weighted
    * average — instead of full-scanning silver each cycle; warehouses
    * predating the aggregate fall back to the scan once (the next
    * bronzeToSilver cycle BACKFILLS the state from all silver dates,
    * so the gate's average always covers full history).
    */
  def qualityGate(threshold: Double = 50.0): Double = {
    val avgScore =
      if (wh.exists("silver", "agg_quality_daily"))
        wh.load("silver", "agg_quality_daily")
          .agg((sum(col("score_sum")) / sum(col("n"))).cast("double"))
          .first()
          .getDouble(0)
      else
        wh.load("silver", "sales_events")
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
    * [[silverToGoldIncremental]].
    */
  def silverToGold(asOf: java.sql.Date): Unit = buildGold(asOf, None)

  /** G1 stage 3, partition-scoped: consumes the pending-dates table the
    * bronze→silver stage wrote and recomputes ONLY those date partitions
    * of the history-sized facts and maintained daily aggregates (dynamic
    * partition overwrite). Per-date recompute is exact for every scoped
    * table — fact_sales' transaction sequence windows by (store, date),
    * the other facts filter/aggregate within a date, and the aggregates'
    * grain includes the date — so the result is hash-identical to a full
    * rebuild while each cycle costs O(touched partitions), not
    * O(history): the property that keeps a 2-hour cadence runnable at
    * 100 TB. Dims, promo-grain facts, and feature tables are rebuilt
    * every cycle but read only seed catalogs or the compact daily-grain
    * aggregates — never event-grain history.
    */
  def silverToGoldIncremental(asOf: java.sql.Date): Unit = {
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
    // partition-prunes statically (no reliance on runtime DPP)
    def scoped(df: DataFrame, domain: String): Option[DataFrame] = pending match {
      case None => Some(df)
      case Some(p) =>
        val dates = p.getOrElse(domain, Nil)
        if (dates.isEmpty) None else Some(df.where(col("date").isin(dates: _*)))
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
          wh.overwrite(SilverToGold.factSales(s, wh.load("gold", "dim_product")),
            "gold", "fact_sales")
          wh.overwrite(
            SilverToGold.aggDailySales(scoped(wh.load("gold", "fact_sales"), "sales_events").get),
            "gold", "agg_daily_sales")
          wh.overwrite(SilverToGold.aggCustomerDaily(s), "gold", "agg_customer_daily")
        }
        if (wh.exists("gold", "agg_customer_daily"))
          wh.overwrite(SilverToGold.dimCustomer(wh.load("gold", "agg_customer_daily")),
            "gold", "dim_customer")
      },
      () => scoped(wh.load("silver", "inventory_updates"), "inventory_updates").foreach { s =>
        wh.overwrite(SilverToGold.factInventory(s), "gold", "fact_inventory")
        wh.overwrite(
          SilverToGold.aggInventoryDaily(
            scoped(wh.load("gold", "fact_inventory"), "inventory_updates").get),
          "gold", "agg_inventory_daily")
      },
      () => scoped(wh.load("silver", "equipment_metrics"), "equipment_metrics").foreach { s =>
        wh.overwrite(SilverToGold.factEquipment(s), "gold", "fact_equipment_performance")
      },
      () => scoped(wh.load("silver", "feedback"), "feedback").foreach { s =>
        wh.overwrite(SilverToGold.factCustomerFeedback(s), "gold", "fact_customer_feedback")
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
    wh.append(batch, "bronze", "sales_events")

  /** Incremental fact build: only silver dates absent from the gold fact
    * are transformed and appended, so each cycle touches O(new dates)
    * partitions — the property that keeps a daily 100 TB gold build at
    * daily-increment cost instead of full-history cost. Returns the
    * number of appended rows.
    */
  def factSalesIncremental(): Long = {
    val silver     = wh.load("silver", "sales_events")
    val dimProduct = wh.load("gold", "dim_product")
    val fresh =
      if (!wh.exists("gold", "fact_sales")) silver
      else {
        val existingDates = wh.load("gold", "fact_sales").select(col("date")).distinct()
        silver.join(existingDates, Seq("date"), "left_anti")
      }
    if (fresh.isEmpty) 0L
    else {
      val rows = SilverToGold.factSales(fresh, dimProduct)
      wh.append(rows, "gold", "fact_sales")
      rows.count()
    }
  }

  /** G2/G5 — count report across all layers (bakery_csv_etl_pipeline.py:
    * 380-416).
    */
  def report(): DataFrame = {
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
    tables
      .filter { case (l, t) => wh.exists(l, t) }
      .map { case (l, t) =>
        wh.load(l, t)
          .agg(count(lit(1)).as("row_count"))
          .select(lit(l).as("layer"), lit(t).as("table_name"), col("row_count"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("layer"), col("table_name"))
  }

  /** Maintenance stage: compact the append-heavy bronze facts — the
    * tables streaming ingest and incremental batches fragment a file
    * per micro-batch. Dims and gold snapshots rewrite whole on every
    * cycle, so only the appended layers accumulate dust. Returns
    * (table → (filesBefore, filesAfter)) for the run log.
    */
  def maintain(targetBytes: Long = 128L << 20): Map[String, (Long, Long)] = {
    val appendTables = Seq(
      "bronze" -> "sales_events", "bronze" -> "inventory_updates",
      "bronze" -> "equipment_metrics", "bronze" -> "customer_feedback")
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
