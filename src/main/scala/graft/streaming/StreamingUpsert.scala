package graft.streaming

import graft.etl.Warehouse
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MERGE: upsert each micro-batch into a warehouse table with
  * newer-wins semantics — the standard "CDC stream into a warehouse"
  * pattern. The reference only appends raw events to bronze and
  * deduplicates in a later batch hop; `foreachBatch` + the warehouse's
  * keyed [[Warehouse.merge]] collapses that to one exactly-once-per-batch
  * upsert (foreachBatch re-delivery is idempotent here: a replayed batch
  * loses every tie to the already-merged target).
  *
  * Scale shape: each micro-batch joins with the target's keys. A batch
  * of new keys is one append; one that replaces versions of a
  * date-partitioned target rewrites only the partitions of the new and
  * the replaced rows (a target without `date` is rewritten whole).
  */
object StreamingUpsert {

  def start(
      stream: DataFrame,
      wh: Warehouse,
      layer: String,
      table: String,
      keys: Seq[String],
      versionCol: String
  ): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        wh.merge(batch.toDF(), layer, table, keys, Some(versionCol))
        ()
      }
      .start()
}
