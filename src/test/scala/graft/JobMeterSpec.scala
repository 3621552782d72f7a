package graft

import org.apache.spark.graft.JobMeter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[JobMeter]], the listener every measurement main and the shuffle
  * guard read their numbers from.
  */
class JobMeterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val meter = JobMeter(spark.sparkContext)

  test("read() right after an action includes that action's finished jobs") {
    val sc = spark.sparkContext
    meter.reset()
    sc.setJobDescription("job-meter-drain")
    try spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
    finally sc.setJobDescription(null)
    val jobs = meter.read().jobs.filter(_.site == "job-meter-drain")
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => j.end >= j.start && j.stages > 0 && j.tasks > 0), jobs)
  }

  test("after reset() two runs of one keyed repartition report the same jobs and bytes") {
    def run() = {
      meter.reset()
      spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 13)
        .repartition(4, col("k")).count()
      meter.read()
    }
    val (a, b) = (run(), run())
    assert(a.jobs.size === b.jobs.size)
    assert(a.shuffleWrite > 0 && a.shuffleWrite === b.shuffleWrite)
  }

  test("the per-job rows sum to the reported totals") {
    meter.reset()
    val a = spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 97)
    a.join(a.groupBy(col("k")).count(), "k")
      .groupBy(col("k") % 5).agg(sum(col("count"))).collect()
    val r = meter.read()
    assert(r.jobs.count(_.shuffleWrite > 0) > 1, r.jobs)
    assert(r.tasks === r.jobs.map(_.tasks.toLong).sum)
    assert(r.taskMs === r.jobs.map(_.taskMs).sum)
    assert(r.shuffleWrite === r.jobs.map(_.shuffleWrite).sum)
    assert(r.shuffleRead === r.jobs.map(_.shuffleRead).sum)
    assert(r.spill === r.jobs.map(_.spill).sum)
    assert(r.busyMs <= r.jobs.map(_.wallMs).sum)
  }

  test("compiledClasses counts the classes compiled since reset()") {
    meter.reset()
    // literals no other test uses: generated code the codegen cache lacks
    spark.range(0, 100, 1, 2).selectExpr("sum(id * 7919 + 104729)").collect()
    assert(meter.read().compiledClasses > 0)
  }
}
