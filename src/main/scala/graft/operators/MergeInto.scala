package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join-based emulation of Iceberg `MERGE INTO` over plain parquet-backed
  * DataFrames (reference: `bronze_to_silver.py:78-83, 151-157`,
  * `silver_to_gold.py:94-99, 278-285` — SURVEY.md §2.9 M1-M3).
  *
  * All three variants are pure DataFrame→DataFrame transforms: the caller
  * re-writes the result (partition-scoped with a dated
  * `Warehouse.overwrite`). Nothing here collects to the driver, so the same code runs
  * on a 1000-executor cluster; the shuffles are exactly the key-hash
  * exchanges MERGE needs anyway. At 100 TB the write side should be
  * partition-pruned: merge only the partitions the source touches.
  */
object MergeInto {

  /** M1 — `WHEN NOT MATCHED THEN INSERT *` (idempotent insert-only dedup).
    * Rows of `source` whose key is absent from `target` are appended.
    * Within-source duplicate keys are collapsed (first by `tieBreak`
    * descending) to mirror one-row-per-key MERGE semantics.
    */
  def insertOnly(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      tieBreak: Option[Column] = None
  ): DataFrame = {
    val dedupedSource = tieBreak match {
      case Some(tb) =>
        val w  = Window.partitionBy(keys.map(col): _*).orderBy(tb.desc)
        source
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .drop("__rn")
      case None => source.dropDuplicates(keys)
    }
    // left_anti keeps only source keys absent from target; Catalyst
    // broadcasts the smaller side or shuffle-partitions both on the key.
    val inserts = dedupedSource.join(
      target.select(keys.map(col): _*),
      keys,
      "left_anti"
    )
    target.unionByName(inserts.select(target.columns.map(col): _*))
  }

  /** M2 — conditional upsert, newer-wins:
    * `WHEN MATCHED AND s.version > t.version THEN UPDATE SET *
    *  WHEN NOT MATCHED THEN INSERT *`.
    * Equivalent formulation without a full-outer join: tag both sides,
    * take per-key argmax of (version, isTarget) — target wins ties, so a
    * source row replaces the target row only when strictly newer.
    * One shuffle on the key; no driver involvement.
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      versionCol: String
  ): DataFrame = {
    val cols = target.columns.map(col).toSeq
    val tagged = target
      .select(cols: _*)
      .withColumn("__is_target", lit(1))
      .unionByName(source.select(cols: _*).withColumn("__is_target", lit(0)))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__is_target").desc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__is_target")
  }

  /** M3 — partial-column upsert:
    * `WHEN MATCHED THEN UPDATE SET <subset> WHEN NOT MATCHED THEN INSERT *`
    * (customer-dim pattern, `silver_to_gold.py:278-285`). Matched target
    * rows keep their columns except `updateCols`, which come from the
    * source; unmatched source rows are inserted whole.
    */
  def upsertColumns(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String]
  ): DataFrame = {
    val src = source.dropDuplicates(keys)
    val srcRenamed = src.select(
      (keys.map(col) ++ updateCols.map(c => col(c).as(s"__src_$c"))): _*
    )
    val updatedTarget = target
      .join(srcRenamed, keys, "left")
      .select(target.columns.map { c =>
        if (updateCols.contains(c))
          coalesce(col(s"__src_$c"), col(c)).as(c)
        else col(c)
      }.toSeq: _*)
    val inserts = src.join(target.select(keys.map(col): _*), keys, "left_anti")
    updatedTarget.unionByName(inserts.select(target.columns.map(col): _*))
  }
}
