package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. Times are epoch microseconds;
  * `parent` is -1 for the root.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, gcStartMs: Long, var end: Long = -1L, var gcEndMs: Long = -1L)

/** One Spark job, attributed to the innermost span that was open on the
  * submitting thread (carried as a local property).
  */
final class Job(val id: Int, val span: Int, val start: Long) {
  var end: Long        = -1L
  var tasks: Long      = 0L
  var taskUs: Long     = 0L
  var shuffleWrite: Long = 0L
  var shuffleRecords: Long = 0L
  var shuffleRead: Long  = 0L
  var spill: Long        = 0L
}

/** Spans around every call the benchmark makes into the program, plus a
  * listener that attributes each Spark job and its task metrics to the
  * span that caused it. Everything is held in memory; nothing is written
  * until the run ends. With `enabled = false` spans still time the calls
  * (the end-to-end numbers need them) but no listener is registered and
  * no local property is set.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  private val jobsById   = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val job = new Job(e.jobId, span, e.time * 1000L)
      jobsById.put(e.jobId, job)
      e.stageIds.foreach(s => stageToJob.put(s, job))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobsById.get(e.jobId)).foreach(_.end = e.time * 1000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (job <- Option(stageToJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        job.tasks += 1
        job.taskUs += m.executorRunTime * 1000L
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  })

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Largest cached-RDD footprint and heap use seen by [[sample]]. */
  var cacheBytesMax = 0L
  var cacheBlocksMax = 0L
  var heapUsedMax = 0L

  /** Sample cache residency and heap use; called after each operation. */
  def sample(): Unit = if (enabled) {
    val info = sc.getRDDStorageInfo
    cacheBytesMax = cacheBytesMax.max(info.map(r => r.memSize + r.diskSize).sum)
    cacheBlocksMax = cacheBlocksMax.max(info.map(_.numCachedPartitions.toLong).sum)
    heapUsedMax = heapUsedMax.max(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Time `f` as a span named `name` in `layer`, nested under the span
    * currently open; `startUs` back-dates its start.
    */
  def span[A](name: String, layer: String, startUs: Option[Long] = None)(f: => A): A = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, layer,
      startUs.getOrElse(nowUs()), gcMs())
    spans += s
    open = s.id :: open
    if (enabled) sc.setLocalProperty(Prop, s.id.toString)
    try f
    finally {
      s.end = nowUs()
      s.gcEndMs = gcMs()
      open = open.tail
      if (enabled) sc.setLocalProperty(Prop, open.headOption.map(_.toString).orNull)
    }
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e6

  def jobs: Seq[Job] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    jobsById.values.asScala.toSeq.sortBy(_.id)
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.toSeq.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id).toSet
  }

  /** Jobs caused by `root` or any call below it. */
  def jobsUnder(root: Span, all: Seq[Job]): Seq[Job] = {
    val ids = subtree(root)
    all.filter(j => ids(j.span))
  }

  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Wall time of `s` not covered by any Spark job it caused. */
  def driverSeconds(s: Span, all: Seq[Job]): Double = {
    val iv = jobsUnder(s, all).filter(_.end >= 0).map(j => (j.start, j.end))
    (s.end - s.start - covered(iv, s.start, s.end)) / 1e6
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.toSeq.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s.end - s.start - covered(kids, s.start, s.end)) / 1e6
  }

  /** The span tree and its jobs as JSON, for the trace file. */
  def toJson(all: Seq[Job]): String = {
    val ss = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_us":${s.start},"end_us":${s.end},"self_s":${selfSeconds(s)}%.6f}"""
    }
    val js = all.map { j =>
      s"""{"job":${j.id},"span":${j.span},"start_us":${j.start},"end_us":${j.end},""" +
        s""""tasks":${j.tasks},"task_us":${j.taskUs},"shuffle_write_bytes":${j.shuffleWrite},""" +
        s""""shuffle_write_records":${j.shuffleRecords},""" +
        s""""shuffle_read_bytes":${j.shuffleRead},"spill_bytes":${j.spill}}"""
    }
    ss.mkString("{\"spans\":[", ",\n", "],\n") + js.mkString("\"jobs\":[", ",\n", "]}\n")
  }
}
