package org.apache.spark.graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as [[JobMeter]] saw it. `start`/`end` are epoch ms;
  * the counters sum the stage aggregates Spark reports when each of the
  * job's stages completes (skipped stages add nothing); `spill` is
  * memory plus disk bytes spilled; `site` is the job description, else
  * the first completed stage's call site without its line number.
  */
final case class JobRow(id: Int, start: Long, end: Long, stages: Int, tasks: Int,
    taskMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, site: String) {
  def wallMs: Long = math.max(0L, end - start)
}

/** The jobs seen since the last [[JobMeter.reset]], in id order, and
  * their totals. `compiledClasses` counts the classes Janino compiled in
  * this JVM over the same span (generated code served from Spark's code
  * cache is not compiled again, so it does not count).
  */
final case class JobReading(jobs: Seq[JobRow], compiledClasses: Long) {
  def tasks: Long        = jobs.map(_.tasks.toLong).sum
  def taskMs: Long       = jobs.map(_.taskMs).sum
  def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
  def shuffleRead: Long  = jobs.map(_.shuffleRead).sum
  def spill: Long        = jobs.map(_.spill).sum

  /** Wall time during which at least one job ran: the length of the
    * union of the job intervals (concurrent jobs count once).
    */
  def busyMs: Long =
    jobs.map(j => (j.start, math.max(j.start, j.end))).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1
}

/** The one metrics listener of the measurement mains and specs: attached
  * once per SparkContext by [[JobMeter.apply]], it keeps a [[JobRow]]
  * per job. Callers bracket a measured action with [[reset]] and
  * [[read]]; both drain the asynchronous listener bus first, so a
  * reading holds every event of the jobs its action ran and none of the
  * jobs before the reset. The compile count is read from Spark's codegen
  * metrics, not from an event, so it adds no listener and no job.
  */
final class JobMeter private (sc: SparkContext) extends SparkListener {
  private val rows       = mutable.Map.empty[Int, JobRow]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private var compiledAtReset = JobMeter.compiled()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
      .getOrElse("?")
    rows(e.jobId) = JobRow(e.jobId, e.time, 0L, 0, 0, 0L, 0L, 0L, 0L, site)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    rows.get(e.jobId).foreach(j => rows(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    for (id <- stageToJob.get(s.stageId); j <- rows.get(id) if m != null)
      rows(id) = j.copy(
        stages = j.stages + 1,
        tasks = j.tasks + s.numTasks,
        taskMs = j.taskMs + m.executorRunTime,
        shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = j.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        site = if (j.site == "?") s.name.takeWhile(_ != ':') else j.site)
  }

  /** Forgets every job seen so far and restarts the compile count. */
  def reset(): Unit = {
    JobMeter.drain(sc)
    synchronized { rows.clear(); stageToJob.clear(); compiledAtReset = JobMeter.compiled() }
  }

  /** The jobs seen since the last [[reset]]. */
  def read(): JobReading = {
    JobMeter.drain(sc)
    synchronized {
      JobReading(rows.values.toSeq.sortBy(_.id), JobMeter.compiled() - compiledAtReset)
    }
  }
}

object JobMeter {
  private var attached: Option[(SparkContext, JobMeter)] = None

  /** The meter of `sc`, registered as a listener on first use. */
  def apply(sc: SparkContext): JobMeter = synchronized {
    attached.collect { case (c, m) if c eq sc => m }.getOrElse {
      val m = new JobMeter(sc)
      sc.addSparkListener(m)
      attached = Some(sc -> m)
      m
    }
  }

  /** Blocks until the listener bus has delivered every queued event: the
    * bus is asynchronous, so a job's metrics may still be in flight when
    * its action returns. `waitUntilEmpty` is `private[spark]`, hence this
    * package.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)

  /** Classes compiled in this JVM so far: one compilation-time sample is
    * recorded per class Janino compiles. `CodegenMetrics` is
    * `private[spark]`, hence this package too.
    */
  private def compiled(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
