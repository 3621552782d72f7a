package graft.tools

import graft.GraftSession
import graft.operators.SkewJoin
import org.apache.spark.graft.JobMeter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Token-skew measurement harness (round-11 verdict item 4): the
  * vocab-keyed joins (NB apply q274/q299, BM25/phrase postings) key on
  * TOKENS, and real corpora are Zipf — the head token's posting list is
  * orders of magnitude longer than the median, so a plain token-hash
  * join funnels it into ONE task. This main generates a deliberately
  * Zipf-skewed (doc, token, c) corpus at 1× and 10× head-token mass,
  * runs the model join PLAIN vs SALTED (the q299 kernel), and prints
  * per-variant wall, shuffle bytes, and the MAX ROWS any single
  * post-shuffle partition holds — the straggler signal salting exists
  * to flatten.
  *
  * Broadcast is disabled for the join (at 100 TB the vocab-grain model
  * side does not broadcast by assumption — the regime q274 documents);
  * AQE stays as the engine ships it, so the numbers answer "does
  * salting still matter under AQE?" (yes: AQE's skew splitting only
  * rewrites sort-merge joins past a 256 MB partition threshold — a
  * Zipf head that straggles at tens of MB never triggers it).
  *
  * Usage: runMain graft.tools.SkewTrend [reps]
  */
object SkewTrend {

  /** Zipf-ish corpus: 500k tail rows over 5k tokens (hash-uniform
    * stand-in for the tail mass) + `headRows` occurrences of the head
    * token t0. Deterministic: pure column functions of range ids.
    */
  private def corpus(s: SparkSession, headRows: Long): DataFrame = {
    val tail = s.range(500000L).select(
      (col("id") % 20000L).as("doc_id"),
      concat(lit("t"), pmod(hash(col("id")), lit(5000))).as("token"),
      lit(1L).as("c"))
    val head = s.range(headRows).select(
      (col("id") % 20000L).as("doc_id"),
      lit("t0").as("token"),
      lit(1L).as("c"))
    tail.unionByName(head)
  }

  private def model(s: SparkSession): DataFrame =
    s.range(5000L).select(
      concat(lit("t"), col("id")).as("token"),
      ((col("id") % 7L).cast("double") - lit(3.0)).as("llr"))

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the corpus-scale regime: the vocab-grain model side is NOT
    // broadcastable by assumption
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val meter = JobMeter(spark.sparkContext)

    for (skew <- Seq(1L, 10L)) {
      val headRows = 50000L * skew
      val toks = corpus(spark, headRows).localCheckpoint(true)
      val lm = model(spark).localCheckpoint(true)
      for (variant <- Seq("plain", "salted")) {
        def joined(): DataFrame =
          if (variant == "salted")
            SkewJoin.saltedJoin(toks, lm, Seq("token"), buckets = 8,
              joinType = "left")
          else toks.join(lm, Seq("token"), "left")
        (1 to reps).foreach { rep =>
          meter.reset()
          val t0 = System.nanoTime()
          // the q274 shape downstream of the join: per-doc score fold
          val n = joined()
            .groupBy(col("doc_id"))
            .agg(sum(col("c") * coalesce(col("llr"), lit(0.5))).as("sc"))
            .count()
          val wall = (System.nanoTime() - t0) / 1e9
          // straggler signal: max rows a single post-join partition held
          val maxPart = joined()
            .groupBy(spark_partition_id().as("p"))
            .agg(count(lit(1)).as("rows"))
            .agg(max(col("rows")))
            .head().getLong(0)
          println(f"[skew-trend] skew=${skew}x head=$headRows variant=$variant " +
            f"rep=$rep docs=$n wall=$wall%.2f s " +
            f"shuffleWrite=${meter.read().shuffleWrite / 1e6}%.2f MB " +
            f"maxPartitionRows=$maxPart")
        }
      }
    }
    spark.stop()
  }
}
