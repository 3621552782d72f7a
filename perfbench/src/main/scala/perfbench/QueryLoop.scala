package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Suite queries run closed-loop by one client, in a fixed order, in
  * passes until the run's seconds are up: the next query starts when the
  * previous one's result is in. There is no warm-up: like a scheduled
  * job's fresh driver, the first pass runs each query cold, and a run of
  * the benchmark's length is that one pass. A query's result is its row
  * count and an order-insensitive digest of every output column, checked
  * against the digests kept beside the benchmark.
  */
object QueryLoop {
  /** Workload → its queries with the package each lives in. */
  val workloads: Map[String, Seq[(String, String)]] = Map(
    "query-taskbound" -> Seq(
      "q174_bootstrap_ci" -> "operators",
      "q35_cosine_topk" -> "functions",
      "q268_jpeg_color_decode" -> "sources"))

  val packages = Seq("operators", "functions", "sources")

  /** `expected` maps query → (rows, digest); with `record` set, the run
    * fills it instead of checking it.
    */
  def run(spark: SparkSession, tr: Trace, workload: String, data: File, seconds: Int,
      expected: collection.mutable.Map[String, (Long, String)], record: Boolean,
      out: Outcome): Unit = {
    val qs  = workloads(workload)
    val fns = SparkEntry.queries
    val dir = data.getAbsolutePath

    val t0 = System.nanoTime()
    tr.span("measure", "bench") {
      while (out.passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        tr.span("pass", "bench") {
          qs.foreach { case (q, pkg) =>
            val q0 = System.nanoTime()
            val got = tr.span(q, pkg) {
              val df = tr.span("build", pkg)(fns(q)(spark, dir))
              tr.span("action", pkg)(Digests.of(df))
            }
            out.opS += (System.nanoTime() - q0) / 1e9
            tr.sample()
            if (record) expected(q) = got
            else out.check(s"$q: output $got != expected ${expected.get(q)}")(
              expected.get(q).contains(got))
          }
        }
        out.passes += 1
      }
    }
    out.measuredS = (System.nanoTime() - t0) / 1e9
    val ops = out.opS.toSeq
    Stats.tail(ops).foreach { case (p, v) => out.extra(s"query_s.tail(p$p)") = (v, "s", ops.size) }
  }
}
