package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

object Digests {
  /** Row count and an order-insensitive hash of a result: the sum of a
    * 64-bit hash per row. Floating columns are rounded to 6 places first,
    * since partial sums may differ in the last bit between input splits.
    */
  def of(df: DataFrame): (Long, String) = {
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
