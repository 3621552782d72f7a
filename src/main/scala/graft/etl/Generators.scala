package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic bronze-event generators, mirroring the
  * reference's Kafka producers (`streaming/producers/generate_*.py` —
  * SURVEY.md §2.1 S11) but fully distributed and seed-stable: instead of
  * `rand()` (whose value depends on partition layout) every pseudo-random
  * draw is `hash(id, salt)` — reproducible under any partitioning, which
  * is what lets a 100 TB backfill be re-run to the identical dataset.
  */
object Generators {

  private val BaseTs = "2025-06-01 00:00:00"

  /** Uniform int in [0, n) derived from the row id and a salt. */
  private def draw(idCol: Column, salt: Int, n: Int): Column =
    pmod(hash(idCol, lit(salt)), lit(n))

  /** Sales events (generate_sales_events.py:65-111): store-hours
    * constrained timestamps, catalog prices, 15% discounted rows,
    * 30%/70% new/returning customers, mixed-case statuses reproducing the
    * reference's CSV/producer mismatch (SURVEY.md §1.4).
    *
    * `baseTs`/`idOffset` let callers generate disjoint later batches
    * (new event ids, new dates) for incremental-processing tests.
    */
  def salesEvents(
      spark: SparkSession,
      n: Long,
      days: Int = 14,
      baseTs: String = BaseTs,
      idOffset: Long = 0L
  ): DataFrame = {
    val priceCase = Schemas.products
      .foldLeft(lit(null).cast(Schemas.Money)) { case (acc, (pid, _, _, price)) =>
        when(col("product_id") === pid, lit(price).cast(Schemas.Money)).otherwise(acc)
      }
    spark
      .range(idOffset, idOffset + n)
      .withColumn("product_id", (draw(col("id"), 1, 10) + 1).cast("int"))
      .withColumn("store_id", (draw(col("id"), 2, 5) + 1).cast("int"))
      .withColumn("day_off", draw(col("id"), 3, days))
      .withColumn("hour", (draw(col("id"), 4, 16) + 6).cast("int")) // 06-21
      .withColumn("minute", draw(col("id"), 5, 60))
      .withColumn(
        "event_time",
        to_timestamp(lit(baseTs)) +
          make_dt_interval(col("day_off"), col("hour"), col("minute"), lit(0))
      )
      .withColumn("ingestion_time", col("event_time") + expr("INTERVAL 5 MINUTES"))
      // zero-padded to at least 10 digits: `lpad` would cut an id past 10
      // digits (an `idOffset` of 1e10 or more) and give distinct rows one key
      .withColumn("event_id", format_string("EVT_%010d", col("id")))
      .withColumn(
        "quantity",
        when(col("product_id") <= 5, (draw(col("id"), 6, 3) + 1))
          .otherwise(draw(col("id"), 6, 2) + 1)
          .cast("int")
      )
      .withColumn("base_price", priceCase)
      .withColumn(
        "unit_price",
        when(draw(col("id"), 7, 100) < 15, (col("base_price") * 0.9).cast(Schemas.Money))
          .otherwise(col("base_price"))
      )
      .withColumn(
        "customer_id",
        when(
          draw(col("id"), 8, 10) < 3,
          concat(lit("CUST_N"), lpad(draw(col("id"), 9, 100000).cast("string"), 6, "0"))
        ).otherwise(concat(lit("CUST_"), (draw(col("id"), 9, 9000) + 1000).cast("string")))
      )
      .withColumn("date", to_date(col("event_time")))
      .withColumn(
        "time_of_day",
        when(col("hour") < 11, "morning")
          .when(col("hour") < 14, "lunch")
          .when(col("hour") < 18, "afternoon")
          .otherwise("evening")
      )
      .withColumn(
        "processing_status",
        when(draw(col("id"), 10, 2) === 0, "PENDING").otherwise("pending")
      )
      .select(Schemas.bronzeSales.fieldNames.map(col).toSeq: _*)
  }

  /** Inventory updates (generate_inventory_updates.py:30-104) with the
    * essential late-arrival mix: 70% on-time (<=1h), 20% 1-24h late,
    * 10% 24-48h late; `late_arrival_hours` stamped like the producer.
    */
  def inventoryUpdates(spark: SparkSession, n: Long, days: Int = 14): DataFrame =
    spark
      .range(n)
      .withColumn("product_id", (draw(col("id"), 11, 10) + 1).cast("int"))
      .withColumn("store_id", (draw(col("id"), 12, 5) + 1).cast("int"))
      .withColumn("day_off", draw(col("id"), 13, days))
      .withColumn(
        "event_time",
        to_timestamp(lit(BaseTs)) +
          make_dt_interval(col("day_off"), lit(20), draw(col("id"), 14, 60), lit(0))
      )
      .withColumn("late_bucket", draw(col("id"), 15, 10))
      .withColumn(
        "delay_minutes",
        when(col("late_bucket") < 7, draw(col("id"), 16, 60))
          .when(col("late_bucket") < 9, lit(60) + draw(col("id"), 16, 23 * 60))
          .otherwise(lit(24 * 60) + draw(col("id"), 16, 24 * 60))
      )
      .withColumn(
        "ingestion_time",
        col("event_time") + make_dt_interval(lit(0), lit(0), col("delay_minutes"), lit(0))
      )
      .withColumn(
        "late_arrival_hours",
        (unix_timestamp(col("ingestion_time")) - unix_timestamp(col("event_time"))) / 3600.0
      )
      .withColumn("update_id", concat(lit("INV_"), lpad(col("id").cast("string"), 10, "0")))
      .withColumn(
        "beginning_stock",
        when(col("product_id") <= 5, draw(col("id"), 17, 101) + 50)
          .otherwise(draw(col("id"), 17, 61) + 20).cast("int")
      )
      .withColumn(
        "restocked_quantity",
        when(col("product_id") <= 5, draw(col("id"), 18, 71) + 30)
          .otherwise(draw(col("id"), 18, 41) + 20).cast("int")
      )
      .withColumn(
        "sold_quantity",
        when(col("product_id") <= 5, draw(col("id"), 19, 81) + 40)
          .otherwise(draw(col("id"), 19, 56) + 15).cast("int")
      )
      .withColumn(
        "waste_quantity",
        ((col("beginning_stock") + col("restocked_quantity")) *
          (draw(col("id"), 20, 14) + 2) / 100).cast("int")
      )
      .withColumn("reported_by", concat(lit("staff_"), draw(col("id"), 21, 20).cast("string")))
      .withColumn("date", to_date(col("event_time")))
      .withColumn(
        "processing_status",
        when(col("late_bucket") >= 9, "LATE_ARRIVAL").otherwise("pending")
      )
      .select(Schemas.bronzeInventory.fieldNames.map(col).toSeq: _*)

  /** Equipment metrics (generate_equipment_metrics.py:81-141): 95%
    * running, power = base x status factor, type-specific JSON payload.
    */
  def equipmentMetrics(spark: SparkSession, n: Long, days: Int = 14): DataFrame = {
    val baseKw = Schemas.equipment
      .foldLeft(lit(null).cast("double")) { case (acc, (eid, _, kw)) =>
        when(col("equipment_id") === eid, lit(kw)).otherwise(acc)
      }
    spark
      .range(n)
      .withColumn("equipment_id", (draw(col("id"), 31, 7) + 1).cast("int"))
      .withColumn("day_off", draw(col("id"), 32, days))
      .withColumn(
        "event_time",
        to_timestamp(lit(BaseTs)) + make_dt_interval(
          col("day_off"), draw(col("id"), 33, 24), draw(col("id"), 34, 60),
          (draw(col("id"), 35, 2) * 30).cast("double")
        )
      )
      .withColumn("ingestion_time", col("event_time") + expr("INTERVAL 30 SECONDS"))
      .withColumn("metric_id", concat(lit("METRIC_"), lpad(col("id").cast("string"), 10, "0")))
      .withColumn("status_draw", draw(col("id"), 36, 100))
      .withColumn(
        "operational_status",
        when(col("status_draw") < 95, "running")
          .when(col("status_draw") < 96, "idle")
          .when(col("status_draw") < 97, "starting")
          .when(col("status_draw") < 98, "stopping")
          .when(col("status_draw") < 99, "maintenance")
          .otherwise("error")
      )
      .withColumn("base_kw", baseKw)
      .withColumn(
        "power_consumption",
        when(col("operational_status") === "running",
          col("base_kw") * (lit(0.8) + draw(col("id"), 37, 41) / 100.0))
          .when(col("operational_status") === "idle", col("base_kw") * 0.1)
          .when(col("operational_status") === "starting", col("base_kw") * 1.5)
          .when(col("operational_status") === "stopping", col("base_kw") * 0.5)
          .otherwise(lit(0.0))
          .cast(Schemas.Power)
      )
      .withColumn(
        "raw_payload",
        to_json(struct(
          (lit(150) + draw(col("id"), 38, 101)).as("temperature"),
          col("operational_status").as("status_echo")
        ))
      )
      .withColumn("date", to_date(col("event_time")))
      .withColumn("processing_status", lit("pending"))
      .select(Schemas.bronzeEquipment.fieldNames.map(col).toSeq: _*)
  }

  /** Promotions (init_iceberg_tables.py:101-113 schema): the reference
    * declares bronze.promotions and reads gold.fact_promotions in its ML
    * features (update_ml_features.py:100-108) but ships no producer — so
    * those features silently null out there. This generator closes the
    * gap: seeded campaigns with 3-10 day windows, typed campaigns, and a
    * payload carrying target audience + description.
    */
  def promotions(spark: SparkSession, n: Long, days: Int = 14): DataFrame =
    spark
      .range(n)
      .withColumn("promo_id", concat(lit("PROMO_"), lpad(col("id").cast("string"), 6, "0")))
      .withColumn("product_id", (draw(col("id"), 51, 10) + 1).cast("int"))
      .withColumn(
        "promo_type",
        when(draw(col("id"), 52, 4) === 0, "percentage_discount")
          .when(draw(col("id"), 52, 4) === 1, "bogo")
          .when(draw(col("id"), 52, 4) === 2, "bundle")
          .otherwise("seasonal")
      )
      .withColumn(
        "start_date",
        to_date(to_timestamp(lit(BaseTs)) + make_dt_interval(draw(col("id"), 53, days)))
      )
      .withColumn("end_date", date_add(col("start_date"), (draw(col("id"), 54, 8) + 3).cast("int")))
      .withColumn(
        "discount_percentage",
        (draw(col("id"), 55, 26) + 5).cast(Schemas.Score)
      )
      .withColumn(
        "raw_payload",
        to_json(struct(
          when(draw(col("id"), 56, 3) === 0, "students")
            .when(draw(col("id"), 56, 3) === 1, "families")
            .otherwise("all").as("target_audience"),
          concat(lit("campaign for product "), col("product_id")).as("description")
        ))
      )
      .withColumn("processing_status", lit("pending"))
      .select(Schemas.bronzePromotions.fieldNames.map(col).toSeq: _*)

  /** Weather observations (init_iceberg_tables.py:115-125 schema): one
    * row per (store, day), condition drawn deterministically, payload
    * carrying the humidity/wind measures gold.dim_weather parses out.
    * The reference declares bronze.weather_data but ships no producer.
    */
  def weatherData(spark: SparkSession, days: Int = 14, stores: Int = 5): DataFrame =
    spark
      .range(days.toLong * stores)
      .withColumn("store_id", (col("id") % stores + 1).cast("int"))
      .withColumn("day_off", (col("id") / stores).cast("int"))
      .withColumn("date", to_date(to_timestamp(lit(BaseTs)) + make_dt_interval(col("day_off"))))
      .withColumn(
        "weather_id",
        concat(lit("WX_"), col("store_id"), lit("_"), date_format(col("date"), "yyyyMMdd"))
      )
      .withColumn("cond_draw", draw(col("id"), 61, 10))
      .withColumn(
        "weather_condition",
        when(col("cond_draw") < 4, "sunny")
          .when(col("cond_draw") < 7, "cloudy")
          .when(col("cond_draw") < 9, "rainy")
          .otherwise("stormy")
      )
      .withColumn(
        "raw_payload",
        to_json(struct(
          ((draw(col("id"), 62, 600) + 300) / 10.0).as("humidity"),
          ((draw(col("id"), 63, 400)) / 10.0).as("wind_speed")
        ))
      )
      .withColumn("processing_status", lit("pending"))
      .select(Schemas.bronzeWeather.fieldNames.map(col).toSeq: _*)

  /** Marketing events (gold.dim_marketing_events DDL,
    * init_iceberg_tables.py:345-357): seeded campaigns with budgets,
    * channels, audiences, and a comma-joined affected-product list —
    * the declared-but-unwritten gold dim (SURVEY.md §2.13).
    */
  def marketingEvents(spark: SparkSession, n: Long, days: Int = 14): DataFrame =
    spark
      .range(n)
      .withColumn("event_id", concat(lit("MKT_"), lpad(col("id").cast("string"), 5, "0")))
      .withColumn(
        "event_name",
        concat(
          when(draw(col("id"), 71, 3) === 0, "Spring")
            .when(draw(col("id"), 71, 3) === 1, "Summer")
            .otherwise("Holiday"),
          lit(" campaign "), col("id").cast("string"))
      )
      .withColumn(
        "start_date",
        to_date(to_timestamp(lit(BaseTs)) + make_dt_interval(draw(col("id"), 72, days)))
      )
      .withColumn("end_date", date_add(col("start_date"), (draw(col("id"), 73, 14) + 7).cast("int")))
      .withColumn(
        "affected_products",
        concat_ws(",",
          (draw(col("id"), 74, 10) + 1).cast("string"),
          (draw(col("id"), 75, 10) + 1).cast("string"),
          (draw(col("id"), 76, 10) + 1).cast("string"))
      )
      .withColumn("discount_percentage", (draw(col("id"), 77, 31) + 5).cast(Schemas.Score))
      .withColumn(
        "campaign_budget",
        ((draw(col("id"), 78, 9500) + 500) * 1.0).cast(Schemas.Money)
      )
      .withColumn(
        "target_audience",
        when(draw(col("id"), 79, 3) === 0, "students")
          .when(draw(col("id"), 79, 3) === 1, "families")
          .otherwise("all")
      )
      .withColumn(
        "channel",
        when(draw(col("id"), 80, 4) === 0, "social")
          .when(draw(col("id"), 80, 4) === 1, "email")
          .when(draw(col("id"), 80, 4) === 2, "in_store")
          .otherwise("radio")
      )
      .select(
        col("event_id"), col("event_name"), col("start_date"), col("end_date"),
        col("affected_products"), col("discount_percentage"),
        col("campaign_budget"), col("target_audience"), col("channel")
      )

  /** Customer feedback (load_bronze_from_csv.py:106-130 shape): rating,
    * platform, payload sentiment — the input to the feedback->silver path
    * the reference declares but never built (SURVEY.md §2.13).
    */
  def customerFeedback(spark: SparkSession, n: Long, days: Int = 14): DataFrame =
    spark
      .range(n)
      .withColumn("day_off", draw(col("id"), 41, days))
      .withColumn(
        "feedback_time",
        to_timestamp(lit(BaseTs)) +
          make_dt_interval(col("day_off"), draw(col("id"), 42, 24), lit(0), lit(0))
      )
      .withColumn("ingestion_time", col("feedback_time") + expr("INTERVAL 2 HOURS"))
      .withColumn("feedback_id", concat(lit("FB_"), lpad(col("id").cast("string"), 10, "0")))
      .withColumn("customer_id", concat(lit("CUST_"), (draw(col("id"), 43, 9000) + 1000).cast("string")))
      .withColumn("product_id", (draw(col("id"), 44, 10) + 1).cast("int"))
      .withColumn("rating", (draw(col("id"), 45, 5) + 1).cast("int"))
      .withColumn(
        "platform",
        when(draw(col("id"), 46, 3) === 0, "Google")
          .when(draw(col("id"), 46, 3) === 1, "Facebook")
          .otherwise("Yelp")
      )
      .withColumn("review_text", concat(lit("review text "), col("id").cast("string")))
      .withColumn(
        "raw_payload",
        to_json(struct(
          when(col("rating") >= 4, "POSITIVE")
            .when(col("rating") === 3, "NEUTRAL")
            .otherwise("NEGATIVE").as("sentiment"),
          (draw(col("id"), 47, 2) === 0).as("verified_purchase")
        ))
      )
      .withColumn("date", to_date(col("feedback_time")))
      .withColumn("processing_status", lit("PENDING"))
      .select(Schemas.bronzeFeedback.fieldNames.map(col).toSeq: _*)
}
