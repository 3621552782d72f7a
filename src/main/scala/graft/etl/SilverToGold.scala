package graft.etl

import graft.operators.{MergeInto, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver→Gold star-schema build (reference `silver_to_gold.py` —
  * SURVEY.md §3 EP3), with the reference's defects fixed as documented:
  * weekend via `dayofweek` not locale `date_format("E")` (§2.14-3),
  * surrogate keys minted distributively (§2.14-5), efficiency clamped
  * per the evident intent (§2.14-4).
  */
object SilverToGold {

  /** dim_calendar: generated date spine + enrichments
    * (silver_to_gold.py:44-64). `explode(sequence(...))` is the only
    * generator the reference uses.
    */
  def dimCalendar(spark: SparkSession, start: String, end: String): DataFrame =
    spark
      .sql(s"SELECT explode(sequence(DATE'$start', DATE'$end')) AS date")
      .select(
        col("date"),
        year(col("date")).as("cal_year"),
        month(col("date")).as("cal_month"),
        dayofmonth(col("date")).as("cal_day"),
        quarter(col("date")).as("cal_quarter"),
        date_format(col("date"), "MMMM").as("month_name"),
        date_format(col("date"), "EEEE").as("day_name"),
        dayofweek(col("date")).isin(1, 7).as("is_weekend"),
        // holiday columns per the DDL (init_iceberg_tables.py:325-326).
        // The reference stubs is_holiday=false pending "a holiday API"
        // (silver_to_gold.py:58-59); fixed-date holidays are knowable
        // offline, so mark the big ones instead of stubbing.
        (month(col("date")) === 1 && dayofmonth(col("date")) === 1 ||
          month(col("date")) === 7 && dayofmonth(col("date")) === 4 ||
          month(col("date")) === 12 && dayofmonth(col("date")) === 25)
          .as("is_holiday"),
        when(month(col("date")) === 1 && dayofmonth(col("date")) === 1, "New Year's Day")
          .when(month(col("date")) === 7 && dayofmonth(col("date")) === 4, "Independence Day")
          .when(month(col("date")) === 12 && dayofmonth(col("date")) === 25, "Christmas Day")
          .as("holiday_name"),
        when(month(col("date")).between(3, 5), "Spring")
          .when(month(col("date")).between(6, 8), "Summer")
          .when(month(col("date")).between(9, 11), "Fall")
          .otherwise("Winter")
          .as("season")
      )

  /** dim_product from the seed catalog, insert-only merge so re-runs are
    * idempotent (silver_to_gold.py:74-99).
    */
  def dimProduct(spark: SparkSession, existing: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val seed = Schemas.products
      .toDF("product_id", "product_name", "category", "base_price")
      .withColumn("base_price", col("base_price").cast(Schemas.Money))
    existing match {
      case Some(dim) => MergeInto.insertOnly(dim, seed, Seq("product_id"))
      case None      => seed
    }
  }

  /** dim_store as SCD2 (silver_to_gold.py:104-166): detect changed
    * attributes vs the current dim, close out, insert new versions.
    */
  def dimStoreScd2(
      spark: SparkSession,
      dim: Option[DataFrame],
      asOf: java.sql.Date
  ): DataFrame = {
    import spark.implicits._
    val fresh = Schemas.stores
      .toDF("store_id", "location", "store_type", "opening_hour", "closing_hour")
    dim match {
      case None =>
        fresh
          .withColumn("store_key", row_number().over(Window.orderBy(col("store_id"))).cast("long"))
          .withColumn("start_date", lit(asOf))
          .withColumn("end_date", lit(null).cast("date"))
          .withColumn("is_current_record", lit(true))
      case Some(d) =>
        val changes = Scd2
          .detectChanges(fresh, d.where(col("is_current_record")),
            Seq("store_id"), Seq("location", "store_type", "opening_hour", "closing_hour"))
          .drop("change_type")
        Scd2.applyChanges(d, changes, Seq("store_id"),
          "store_key", "start_date", "end_date", "is_current_record", lit(asOf))
    }
  }

  /** dim_pricing as SCD2 from 7-day average observed prices, new version
    * only on >5% relative move (silver_to_gold.py:169-238, J1 with the
    * 5% predicate at :211).
    */
  def dimPricingScd2(
      silverSales: DataFrame,
      dim: Option[DataFrame],
      asOf: java.sql.Date
  ): DataFrame = {
    val avgPrices = silverSales
      .where(col("date") >= date_sub(lit(asOf), 7))
      .groupBy(col("product_id"))
      .agg(avg(col("unit_price")).cast(Schemas.Money).as("avg_price"))
    dim match {
      case None =>
        avgPrices
          .withColumn("price_key",
            row_number().over(Window.orderBy(col("product_id"))).cast("long"))
          .withColumn("start_date", lit(asOf))
          .withColumn("end_date", lit(null).cast("date"))
          .withColumn("is_current_record", lit(true))
      case Some(d) =>
        val changes = Scd2
          .detectChanges(
            avgPrices, d.where(col("is_current_record")),
            Seq("product_id"), Seq("avg_price"),
            relativeTolerance = Map("avg_price" -> 0.05)
          )
          .drop("change_type")
        Scd2.applyChanges(d, changes, Seq("product_id"),
          "price_key", "start_date", "end_date", "is_current_record", lit(asOf))
    }
  }

  /** Maintained compact aggregate: per-(customer, date) visit counts from
    * silver sales. Grain includes `date`, so a partition-scoped recompute
    * of a day is exact even when late events land in an old partition —
    * the property that lets the pipeline maintain it with a dated
    * overwrite instead of re-scanning event-grain history.
    */
  def aggCustomerDaily(silverSales: DataFrame): DataFrame =
    silverSales
      .groupBy(col("customer_id"), col("date"))
      .agg(count(lit(1)).as("visit_count"))

  /** Maintained compact aggregate: per-(product, store, date) units and
    * revenue from fact_sales — the single daily-grain table both the
    * demand features and the promotion lift read, so neither ever scans
    * the event-grain fact again. Per-date exact (grain includes `date`).
    */
  def aggDailySales(factSales: DataFrame): DataFrame =
    factSales
      .groupBy(col("product_id"), col("store_id"), col("date"))
      .agg(
        sum(col("quantity")).as("daily_units"),
        sum(col("gross_amount")).cast(Schemas.Money).as("daily_revenue")
      )

  /** Maintained compact aggregate: per-(product, store, date) inventory
    * level and waste ratio from fact_inventory. Per-date exact.
    */
  def aggInventoryDaily(factInventory: DataFrame): DataFrame =
    factInventory
      .groupBy(col("product_id"), col("store_id"), col("date"))
      .agg(
        avg(col("closing_stock")).cast("double").as("inventory_level"),
        avg(col("waste_ratio")).cast("double").as("waste_ratio")
      )

  /** dim_customer (silver_to_gold.py:241-287, M3) re-aggregated from the
    * maintained [[aggCustomerDaily]] state: first/last visit and total
    * visits decompose exactly over per-day counts (min/max/sum), so the
    * dim is a pure function of the compact aggregate — no event-grain
    * scan, and an incremental build is hash-identical to a from-scratch
    * rebuild. (The reference's partial-column upsert keeps a stale
    * first_visit_date when a late event predates it; min over the
    * aggregate is the evident intent.)
    */
  def dimCustomer(aggCustomerDaily: DataFrame): DataFrame =
    aggCustomerDaily
      .groupBy(col("customer_id"))
      .agg(
        min(col("date")).as("first_visit_date"),
        max(col("date")).as("last_visit_date"),
        sum(col("visit_count")).as("visit_count")
      )

  /** dim_equipment seeded from the producer catalog — fills the declared-
    * but-unwritten dim the ML features read (SURVEY.md §2.13).
    */
  def dimEquipment(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Schemas.equipment.toDF("equipment_id", "equipment_type", "rated_power_kw")
  }

  /** dim_weather (init_iceberg_tables.py:332-342): bronze weather rows
    * with humidity/wind parsed from the payload into the DDL's
    * DECIMAL(5,2) columns. One row per (store, date) by construction.
    */
  def dimWeather(bronzeWeather: DataFrame): DataFrame =
    bronzeWeather.select(
      col("weather_id"), col("date"), col("store_id"), col("weather_condition"),
      get_json_object(col("raw_payload"), "$.humidity").cast(Schemas.Score).as("humidity"),
      get_json_object(col("raw_payload"), "$.wind_speed").cast(Schemas.Score).as("wind_speed")
    )

  /** fact_sales (silver_to_gold.py:295-327): quality gate >= 50, current-
    * version dim lookups (broadcast — dims are small by construction),
    * derived measures, per-(store,date) transaction sequence (W1,
    * partitioned — never the reference's global window).
    */
  def factSales(silverSales: DataFrame, dimProduct: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("store_id"), col("date"))
      .orderBy(col("event_time"), col("event_id"))
    silverSales
      .where(col("data_quality_score") >= 50)
      .join(
        broadcast(dimProduct.select(col("product_id"), col("category"))),
        Seq("product_id"), "left")
      .withColumn("gross_amount", (col("quantity") * col("unit_price")).cast(Schemas.Money))
      .withColumn("transaction_sequence", row_number().over(w))
      .select(
        col("event_id"), col("date"), col("store_id"), col("product_id"),
        col("category"), col("customer_id"), col("quantity"), col("unit_price"),
        col("gross_amount"), col("time_of_day"), col("transaction_sequence"),
        col("data_quality_score")
      )
  }

  /** fact_promotions (init_iceberg_tables.py:409-420): bronze promotions
    * enriched with payload attributes, an is_active flag as of the run
    * date, and a MEASURED sales-lift percentage — avg daily units sold
    * inside the promo window vs the product's overall avg — computed
    * with one broadcast range-join against daily sales. The reference
    * declares sales_lift_percentage but never populates it (no job
    * writes fact_promotions at all, SURVEY.md §2.13).
    *
    * `dailyUnits` is (product_id, date, units) — derived from the
    * maintained [[aggDailySales]] table, NOT the event-grain fact, so
    * the per-cycle rebuild of this promo-grain table reads a
    * days×products-bounded input.
    */
  def factPromotions(
      bronzePromotions: DataFrame,
      dailyUnits: DataFrame,
      asOf: java.sql.Date
  ): DataFrame = {
    val overall = dailyUnits
      .groupBy(col("product_id"))
      .agg(avg(col("units")).as("overall_avg_units"))
    // promotions are dim-sized: broadcast both range-join sides derived
    // from them, shuffle only the daily aggregate
    val inPromo = dailyUnits
      .join(
        broadcast(bronzePromotions.select(
          col("promo_id"), col("product_id"), col("start_date"), col("end_date"))),
        Seq("product_id"))
      .where(col("date").between(col("start_date"), col("end_date")))
      .groupBy(col("promo_id"))
      .agg(avg(col("units")).as("promo_avg_units"))
    bronzePromotions
      .join(broadcast(inPromo), Seq("promo_id"), "left")
      .join(
        broadcast(overall.withColumnRenamed("product_id", "product_id_o")),
        col("product_id") === col("product_id_o"), "left")
      .withColumn("is_active", lit(asOf).between(col("start_date"), col("end_date")))
      .withColumn("target_audience", get_json_object(col("raw_payload"), "$.target_audience"))
      .withColumn("description", get_json_object(col("raw_payload"), "$.description"))
      .withColumn(
        "sales_lift_percentage",
        ((col("promo_avg_units") / col("overall_avg_units") - 1.0) * 100.0).cast(Schemas.Score)
      )
      .select(
        col("promo_id"), col("product_id"), col("promo_type"),
        col("start_date"), col("end_date"), col("is_active"),
        col("discount_percentage"), col("target_audience"),
        col("sales_lift_percentage"), col("description")
      )
  }

  /** fact_customer_feedback (init_iceberg_tables.py:423-436): gold fact
    * from the silver feedback (which already carries rule-based
    * sentiment). The reference's surrogate customer_key is replaced by
    * the business customer_id — dim_customer here is keyed by it.
    */
  def factCustomerFeedback(silverFeedback: DataFrame): DataFrame =
    silverFeedback
      .where(col("rating").isNotNull && col("product_id").isNotNull)
      .select(
        col("feedback_id"), col("customer_id"), col("product_id"),
        col("platform"), col("rating"), col("review_text"),
        col("sentiment_category"), col("date")
      )

  /** fact_inventory (silver_to_gold.py:335-365). */
  def factInventory(silverInventory: DataFrame): DataFrame =
    silverInventory
      .where(col("data_quality_score") >= 50)
      .select(
        col("update_id"), col("date"), col("store_id"), col("product_id"),
        col("beginning_stock"), col("restocked_quantity"), col("sold_quantity"),
        col("waste_quantity"), col("closing_stock"), col("waste_ratio"),
        col("days_of_supply"), col("late_arrival_hours")
      )

  /** fact_equipment_performance: daily aggregate with clamped efficiency
    * (silver_to_gold.py:373-395; clamp per §2.14-4).
    */
  def factEquipment(silverEquipment: DataFrame): DataFrame =
    silverEquipment
      .where(col("data_quality_score") >= 50)
      .groupBy(col("equipment_id"), col("date"))
      .agg(
        sum(col("operational_hours")).cast(Schemas.Score).as("total_operational_hours"),
        avg(col("power_consumption")).cast(Schemas.Power).as("avg_power_kw"),
        sum(when(col("operational_status") === "error", 1).otherwise(0)).as("error_events"),
        sum(when(col("operational_status") === "maintenance", 1).otherwise(0)).as("maintenance_events"),
        count(lit(1)).as("n_readings")
      )
      .withColumn(
        "efficiency",
        least(greatest(
          (col("total_operational_hours") / 24.0) * 100.0, lit(0.0)), lit(100.0)
        ).cast(Schemas.Score)
      )
}
