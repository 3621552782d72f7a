package perfbench

import scala.collection.mutable

/** What one workload run measured and checked. */
final class Outcome {
  /** JVM start to the measured region: session start, and bronze seeding
    * on the medallion, seconds.
    */
  var setupS = 0.0
  /** One closed-loop operation each: a medallion cycle, or one query
    * (build + action).
    */
  val opS = mutable.ArrayBuffer.empty[Double]
  /** Medallion dashboard refreshes, three reads each, one per cycle. */
  val readS = mutable.ArrayBuffer.empty[Double]
  /** Wall of the measured region, seconds. */
  var measuredS = 0.0
  /** Passes over the workload: medallion cycles, or rounds over the
    * workload's query list. Per-layer values are per pass.
    */
  var passes = 0
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** The workload's own figures, printed for people: value, unit and the
    * sample count behind it.
    */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Counts the medallion adds to the per-layer table (warehouse,
    * maintain); see [[Layers.warehouseCounts]].
    */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def check(what: String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest whole percentile that still has at least ten samples
    * beyond it, or None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val pct = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      Some(pct -> percentile(xs, pct / 100.0))
    }
}
