package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Emulation of in-place `UPDATE table SET ... WHERE ...` (reference:
  * `bronze_to_silver.py:85-90, 160-165, 224-229` status flips;
  * `silver_to_gold.py:146-152` SCD2 close-out — SURVEY.md §2.9 M4/M5).
  *
  * Spark parquet tables are immutable, so UPDATE is a projection:
  * every assignment becomes `when(cond, newValue).otherwise(oldValue)`.
  * The caller overwrites only the affected partitions (a dated
  * `Warehouse.overwrite`) — at 100 TB the predicate should include the partition
  * column so the rewrite is partition-pruned, not a full-table rewrite.
  * The medallion pipeline never flips `processing_status` this way: a
  * bronze row counts as processed once its key is in silver.
  */
object UpdateWhere {

  def apply(
      df: DataFrame,
      condition: Column,
      assignments: Map[String, Column]
  ): DataFrame =
    df.select(df.columns.map { c =>
      assignments.get(c) match {
        case Some(newVal) => when(condition, newVal).otherwise(col(c)).as(c)
        case None         => col(c)
      }
    }.toSeq: _*)
}
