package graft.etl

import graft.operators.QualityScore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bronze→Silver transforms (reference `bronze_to_silver.py`, with its
  * shipped defects resolved: statuses case-normalized at ingest
  * (SURVEY.md §2.14-2), the corrupted-indentation sales path rebuilt to
  * its evident intent (§2.14-1), and the in-place status UPDATE replaced
  * by silver itself: a bronze row is processed once its key is in
  * silver).
  */
object BronzeToSilver {

  import QualityScore.Check

  /** Case-normalize processing_status at ingest; LATE_ARRIVAL folds into
    * pending (it is pending work with a late flag).
    */
  def normalizeStatus(df: DataFrame): DataFrame =
    df.withColumn(
      "processing_status",
      when(lower(col("processing_status")).isin("pending", "late_arrival"), "pending")
        .otherwise(lower(col("processing_status")))
    )

  /** Sales rules (bronze_to_silver.py:45-51): id domains, positive
    * quantity/price, valid time-of-day bucket.
    */
  val salesChecks: Seq[Check] = Seq(
    Check("product_id_range", col("product_id").between(1, 10), 20),
    Check("store_id_range", col("store_id").between(1, 5), 20),
    Check("quantity_positive", col("quantity") > 0, 20),
    Check("price_positive", col("unit_price") > 0, 20),
    Check("time_of_day_domain",
      col("time_of_day").isin("morning", "lunch", "afternoon", "evening"), 20)
  )

  /** Inventory rules (bronze_to_silver.py:113-120): non-negative flows. */
  val inventoryChecks: Seq[Check] = Seq(
    Check("beginning_nonneg", col("beginning_stock") >= 0, 25),
    Check("restocked_nonneg", col("restocked_quantity") >= 0, 25),
    Check("sold_nonneg", col("sold_quantity") >= 0, 25),
    Check("waste_nonneg", col("waste_quantity") >= 0, 25)
  )

  /** Equipment rules (bronze_to_silver.py:185-190). */
  val equipmentChecks: Seq[Check] = Seq(
    Check("equipment_id_range", col("equipment_id").between(1, 7), 30),
    Check("power_range", col("power_consumption").between(0, 100), 30),
    Check("status_present", col("operational_status").isNotNull, 40)
  )

  /** Sales: derive sale economics + quality score. */
  def sales(bronze: DataFrame): DataFrame =
    QualityScore.withScore(
      normalizeStatus(bronze)
        .where(col("processing_status") === "pending")
        .withColumn(
          "total_amount",
          (col("quantity") * col("unit_price")).cast(Schemas.Money)
        )
        .withColumn("sale_hour", hour(col("event_time"))),
      salesChecks
    ).withColumn("etl_timestamp", current_timestamp())

  /** Inventory: the exact derived-measure semantics the fixtures assert
    * (FIXTURES.md §3 / bronze_to_silver.py:124-133):
    * waste_ratio = waste/(begin+restock) (0 if denom <= 0),
    * closing_stock = begin+restock-sold-waste,
    * days_of_supply = closing/sold (999 if sold <= 0).
    */
  def inventory(bronze: DataFrame): DataFrame = {
    val denom = col("beginning_stock") + col("restocked_quantity")
    QualityScore.withScore(
      normalizeStatus(bronze)
        .where(col("processing_status") === "pending")
        .withColumn(
          "waste_ratio",
          when(denom > 0, (col("waste_quantity") / denom).cast(Schemas.Ratio))
            .otherwise(lit(0).cast(Schemas.Ratio))
        )
        .withColumn(
          "closing_stock",
          denom - col("sold_quantity") - col("waste_quantity")
        )
        .withColumn(
          "days_of_supply",
          when(col("sold_quantity") > 0,
            (col("closing_stock") / col("sold_quantity")).cast(Schemas.Score))
            .otherwise(lit(999).cast(Schemas.Score))
        ),
      inventoryChecks
    ).withColumn("etl_timestamp", current_timestamp())
  }

  /** Equipment: W2 sessionization — operational hours from consecutive
    * sensor events per equipment per day (bronze_to_silver.py:193-201).
    */
  def equipment(bronze: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("equipment_id"), to_date(col("event_time")))
      .orderBy(col("event_time"))
    QualityScore.withScore(
      normalizeStatus(bronze).where(col("processing_status") === "pending"),
      equipmentChecks
    )
      .withColumn("next_event_time", lead(col("event_time"), 1).over(w))
      .withColumn(
        "operational_hours",
        when(
          col("next_event_time").isNotNull && col("operational_status") === "running",
          ((unix_timestamp(col("next_event_time")) - unix_timestamp(col("event_time"))) / 3600.0)
            .cast(Schemas.Score)
        ).otherwise(lit(0).cast(Schemas.Score))
      )
      .withColumn("etl_timestamp", current_timestamp())
  }

  /** Feedback→silver with rule-based sentiment — the path the reference
    * declares (silver.customer_feedback.sentiment_category,
    * init_iceberg_tables.py:190) but never implemented (SURVEY.md §2.13).
    * Payload sentiment wins when present; rating is the fallback rule.
    */
  def feedback(bronze: DataFrame): DataFrame =
    normalizeStatus(bronze)
      .where(col("processing_status") === "pending")
      .withColumn("payload_sentiment", get_json_object(col("raw_payload"), "$.sentiment"))
      .withColumn(
        "sentiment_category",
        coalesce(
          col("payload_sentiment"),
          when(col("rating") >= 4, "POSITIVE")
            .when(col("rating") === 3, "NEUTRAL")
            .otherwise("NEGATIVE")
        )
      )
      .drop("payload_sentiment")
      .withColumn("etl_timestamp", current_timestamp())
}
