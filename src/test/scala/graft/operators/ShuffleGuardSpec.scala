package graft.operators

import graft.{SparkEntry, TestSpark}
import org.apache.spark.graft.JobMeter
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-byte regression guard for the re-architected hot paths
  * (round-4 directive #10): shuffle bytes are DETERMINISTIC for a given
  * corpus — unlike wall clock on a contended box — so a plan regression
  * (a lost map-side combine, an un-broadcast dim, banding reverting to
  * a multi-pass union) fails `sbt test` here instead of waiting for a
  * bench read. Ceilings sit ~30-50% above the values measured at sf0.1
  * in round 4 (BASELINE.md): q32 1.09 MB, q33 ~0.6 MB, q77 1.27 MB,
  * q78 1.59 MB, q82 ~2.8 MB — tight enough that the specific
  * regressions each path already had once (q77's 14.4 MB windowed
  * assignment, q32's 15.3 MB shingle shuffle) overshoot by an order of
  * magnitude.
  */
class ShuffleGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the guard corpus is the bench corpus; cancel (not fail) where absent
  private val dir = sys.env.getOrElse(
    "SPARK_GRAFT_SHUFFLE_DIR",
    sys.props.getOrElse("graft.shuffle.dir", "/root/testdata/sf0.1"))

  private val ceilingsBytes: Seq[(String, Long)] = Seq(
    "q32_dedup_ngram_jaccard" -> 1500000L,
    "q33_dedup_minhash_lsh"   -> 1000000L,
    "q77_ann_ivf_multiprobe"  -> 1500000L,
    "q78_ann_pq"              -> 2000000L,
    "q82_ann_ivf_pq"          -> 3500000L,
    // round 5 (measured at sf0.1): q44 3.66 MB is the corpus
    // repartition for the nested-loop scan — candidate pairs
    // contribute zero; q96 12.3 MB is the OR-of-8-tables candidate
    // set, the stated price of its 0.70 recall; q99 1.38 MB is one
    // partitioned ranking sort; q106 1.52 MB is the session build +
    // day-partitioned sweep
    "q44_topk_aggregator"     -> 5000000L,
    "q96_ann_lsh_multitable"  -> 15000000L,
    "q99_median_exact"        -> 2000000L,
    "q106_concurrency_sweep"  -> 2500000L
  )

  test("re-architected hot paths stay under their sf0.1 shuffle-byte ceilings") {
    assume(new java.io.File(dir).isDirectory, s"guard corpus absent: $dir")
    val meter = JobMeter(spark.sparkContext)
    val overs = ceilingsBytes.flatMap { case (name, cap) =>
      // min of 2 reps: the PLAN's shuffle cost is the deterministic
      // floor both reps share; transient inflation (cache eviction /
      // stage recomputation under this VM's documented contention
      // waves) lifts a single rep, which min() discards — while a
      // structural regression lifts every rep and still fails
      val got = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        meter.reset()
        SparkEntry.queries(name)(spark, dir).count()
        meter.read().shuffleWrite
      }.min
      if (got > cap) Some(f"$name: ${got / 1e6}%.2f MB > ceiling ${cap / 1e6}%.2f MB")
      else None
    }
    assert(overs.isEmpty, overs.mkString("; "))
  }
}
