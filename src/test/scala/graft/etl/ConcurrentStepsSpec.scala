package graft.etl

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.concurrently`, the helper each pipeline stage runs its
  * independent table builds through, and `Pipeline.buildGold`, which runs
  * a registry's gold builds on it in the order their inputs allow.
  */
class ConcurrentStepsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_steps_").toString)

  /** A whole-table gold entry reading the tables named by `inputs` (`gold.<name>`). */
  private def gold(name: String, inputs: String*)(build: Pipeline.Inputs => Option[DataFrame]) =
    new Pipeline.Gold(name, None, inputs)(build)

  private def rows(n: Long): Option[DataFrame] = Some(spark.range(n).toDF("id"))

  private def buildAll(wh: Warehouse, registry: Pipeline.TableDef*): Unit =
    Pipeline.buildGold(wh, registry, java.sql.Date.valueOf("2025-06-20"), None)

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
      org.apache.spark.graft.JobMeter.drain(sc)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.map(_._1).toSet === (0 until 3).map(i => s"concurrent-step-$i").toSet)
    assert(seen.forall(_._2 == "stage-under-test"), s"jobs without the caller's property: $seen")
  }

  test("a gold build starts only once every input it declares is written") {
    val wh     = freshWarehouse()
    val events = new ConcurrentLinkedQueue[String]
    val a = gold("a")(_ => { Thread.sleep(400); events.add("a"); rows(1) })
    val b = gold("b")(_ => { Thread.sleep(200); events.add("b"); rows(2) })
    // c's build reads a and b as they were written: absent, it would throw
    val c = gold("c", a.id, b.id)(in => { events.add("c"); Some(in(a).unionByName(in(b))) })
    buildAll(wh, c, a, b)
    assert(events.asScala.toSeq === Seq("b", "a", "c"))
    assert(wh.load("gold", "c").count() === 3L)
  }

  test("a failed gold build stops its dependents, the others finish, the first error is thrown") {
    val wh  = freshWarehouse()
    val ran = new ConcurrentLinkedQueue[String]
    val a = gold("a")(_ => throw new IllegalStateException("a failed"))
    val b = gold("b", a.id)(_ => { ran.add("b"); rows(1) })
    val c = gold("c")(_ => { Thread.sleep(400); ran.add("c"); rows(1) })
    val d = gold("d")(_ => throw new IllegalArgumentException("d failed"))
    val e = intercept[IllegalStateException](buildAll(wh, a, b, c, d))
    assert(e.getMessage === "a failed", "the first error in declaration order is the one thrown")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("d failed"))
    assert(ran.asScala.toSeq === Seq("c"))
    assert(wh.exists("gold", "c") && !wh.exists("gold", "b"))
  }

  test("a gold build that reads a table it does not declare throws") {
    val wh = freshWarehouse()
    val a  = gold("a")(_ => rows(1))
    val b  = gold("b")(in => Some(in(a)))
    val e  = intercept[IllegalArgumentException](buildAll(wh, a, b))
    assert(e.getMessage.contains("gold.b reads gold.a, which it does not declare"), e.getMessage)
    assert(!wh.exists("gold", "b"))
  }

  test("an input that names no entry, or a cycle of inputs, fails before any gold build starts") {
    val wh  = freshWarehouse()
    val ran = new ConcurrentLinkedQueue[String]
    val a   = gold("a")(_ => { ran.add("a"); rows(1) })
    val unknown = intercept[IllegalArgumentException](
      buildAll(wh, a, gold("b", "gold.nope")(_ => rows(1))))
    assert(unknown.getMessage.contains("gold.b reads gold.nope, which no entry declares"), unknown.getMessage)
    val cycle = intercept[IllegalArgumentException](
      buildAll(wh, a, gold("b", "gold.c")(_ => rows(1)), gold("c", "gold.b")(_ => rows(1))))
    assert(cycle.getMessage.contains("gold.b -> gold.c -> gold.b"), cycle.getMessage)
    assert(ran.isEmpty, "a build started before the registry was checked")
    assert(!wh.exists("gold", "a"))
  }
}
