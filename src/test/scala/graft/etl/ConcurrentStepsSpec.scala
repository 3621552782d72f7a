package graft.etl

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.concurrently`, the helper each pipeline stage runs its
  * independent table builds through.
  */
class ConcurrentStepsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failure surfaces only after every sibling finished, later ones suppressed") {
    val finished = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Pipeline.concurrently(
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => { Thread.sleep(600); finished.incrementAndGet(); () },
        () => throw new IllegalArgumentException("second"),
        () => { Thread.sleep(600); finished.incrementAndGet(); () })
    }
    assert(finished.get === 2, "the error surfaced while siblings were still running")
    assert(e.getMessage === "first", "the first step's error (argument order) is the one thrown")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("every job a step starts carries the caller's local properties") {
    val sc  = spark.sparkContext
    val tag = "graft.spec.stage"
    val jobs = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = e.properties.getProperty("spark.job.description")
        if (desc != null && desc.startsWith("concurrent-step-"))
          jobs.add(desc -> e.properties.getProperty(tag))
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "stage-under-test")
    try {
      Pipeline.concurrently((0 until 3).map { i =>
        () => {
          sc.setJobDescription(s"concurrent-step-$i")
          spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
          ()
        }
      }: _*)
      org.apache.spark.graft.ListenerDrain.drain(sc)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.map(_._1).toSet === (0 until 3).map(i => s"concurrent-step-$i").toSet)
    assert(seen.forall(_._2 == "stage-under-test"), s"jobs without the caller's property: $seen")
  }
}
