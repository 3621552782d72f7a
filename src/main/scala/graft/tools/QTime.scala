package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.graft.JobMeter

/** Ad-hoc single-query profiler: wall time and shuffle bytes written and
  * read, so plan changes can be judged on data movement, not just wall
  * clock; then one line per Spark job (wall, stages, tasks, task-time
  * sum, shuffle write, call site) and the job wall summed by call site —
  * the local-mode stand-in for the UI's Jobs page (spark.ui is off in
  * [[GraftSession]]). `driverGap` is the query wall outside every job:
  * planning, codegen, collects, fixture staging; `compiled` is the
  * number of generated classes Janino compiled for the rep.
  *
  * Usage: runMain graft.tools.QTime <queryName> [sfDir] [reps]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val name  = args.headOption.getOrElse("q32_dedup_ngram_jaccard")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps  = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.getOrCreate()
    val meter = JobMeter(spark.sparkContext)

    (1 to reps).foreach { i =>
      spark.catalog.clearCache()
      meter.reset()
      val t0 = System.nanoTime()
      val n  = SparkEntry.queries(name)(spark, sfDir).count()
      val s  = (System.nanoTime() - t0) / 1e9
      val r  = meter.read()
      println(f"[qtime] $name rep=$i rows=$n wall=$s%.2f s " +
        f"shuffleWrite=${r.shuffleWrite / 1e6}%.2f MB " +
        f"shuffleRead=${r.shuffleRead / 1e6}%.2f MB " +
        f"jobs=${r.jobs.size} driverGap=${s - r.busyMs / 1e3}%.2f s " +
        s"compiled=${r.compiledClasses}")
      r.jobs.foreach { j =>
        println(f"[qtime]   job=${j.id}%-4d wall=${j.wallMs / 1e3}%6.2f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskSum=${j.taskMs / 1e3}%7.2f s " +
          f"shufW=${j.shuffleWrite / 1e6}%8.2f MB  ${j.site}")
      }
      // where do the jobs and the wall come from?
      println(s"[qtime] by-site (rep=$i):")
      r.jobs.groupBy(_.site).toSeq
        .map { case (site, js) => (site, js.size, js.map(_.wallMs).sum) }
        .sortBy(-_._3)
        .foreach { case (site, k, ms) => println(f"[qtime]   ${ms / 1e3}%7.2f s  n=$k%-4d $site") }
    }
    spark.stop()
  }
}
