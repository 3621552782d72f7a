package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse.compact: micro-batch file dust collapses to the partition
  * budget with bit-identical content, and oversized partitions split.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_compact_")
    p.toString
  }

  test("partitioned compaction collapses micro-batch dust to one file per day") {
    import spark.implicits._
    val wh = new Warehouse(spark, freshRoot())
    // 8 appends x 3 days, each append = 3 tiny files (one per day)
    (0 until 8).foreach { b =>
      val batch = (0 until 30).map { i =>
        (b * 100 + i, s"2024-01-0${i % 3 + 1}", i * 1.5)
      }.toDF("id", "date_s", "v").select(
        col("id"), col("date_s").cast("date").as("date"), col("v"))
      wh.append(batch.repartition(1), "bronze", "frag")
    }
    val expect = wh.load("bronze", "frag")
      .collect().map(_.toString).sorted
    val (before, after) = wh.compact("bronze", "frag", targetBytes = 1L << 30)
    assert(before >= 24L, s"fixture not fragmented: $before files")
    assert(after === 3L, s"expected 1 file per day, got $after")
    val got = wh.load("bronze", "frag").collect().map(_.toString).sorted
    assert(got === expect, "compaction changed table content")
  }

  test("oversized partitions split to their byte budget") {
    import spark.implicits._
    val wh = new Warehouse(spark, freshRoot())
    val big = (0 until 20000).map(i => (i, "2024-02-01", ("x" * 100) + i))
      .toDF("id", "date_s", "payload").select(
        col("id"), col("date_s").cast("date").as("date"), col("payload"))
    wh.append(big.repartition(1), "bronze", "big")
    val bytes = new java.io.File(wh.path("bronze", "big") + "/date=2024-02-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // budget of ~1/3 the partition → ceil gives 3-4 output files
    val confBefore = spark.conf.getAll
    val (_, after) = wh.compact("bronze", "big", targetBytes = bytes / 3)
    assert(spark.conf.getAll === confBefore, "compact changed the session conf")
    assert(after >= 3L && after <= 5L, s"expected ~3-4 files, got $after")
    assert(wh.load("bronze", "big").count() === 20000L)
  }

  test("compaction is partition-scoped: healthy days untouched, re-run is a no-op") {
    import spark.implicits._
    val wh = new Warehouse(spark, freshRoot())
    // day 1: one healthy file; day 2: 6 dust files
    wh.append((0 until 50).map(i => (i, "2024-03-01", i * 1.0))
      .toDF("id", "date_s", "v")
      .select(col("id"), col("date_s").cast("date").as("date"), col("v"))
      .repartition(1), "bronze", "mixed")
    (0 until 6).foreach { b =>
      wh.append((0 until 10).map(i => (b * 100 + i, "2024-03-02", i * 1.0))
        .toDF("id", "date_s", "v")
        .select(col("id"), col("date_s").cast("date").as("date"), col("v"))
        .repartition(1), "bronze", "mixed")
    }
    def listing(day: String): Map[String, Long] = {
      val dir = new java.io.File(wh.path("bronze", "mixed") + s"/date=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    val healthyBefore = listing("2024-03-01")
    val expect = wh.load("bronze", "mixed").collect().map(_.toString).sorted

    val (before, after) = wh.compact("bronze", "mixed", targetBytes = 1L << 30)
    assert(before === 7L && after === 2L, s"$before -> $after")
    // the healthy day's files survive byte-for-byte — never rewritten
    assert(listing("2024-03-01") === healthyBefore,
      "healthy partition was rewritten by a scoped compaction")
    assert(listing("2024-03-02").size === 1)
    assert(wh.load("bronze", "mixed").collect().map(_.toString).sorted === expect)

    // second run: nothing fragmented -> zero writes anywhere
    val allBefore = listing("2024-03-01") ++ listing("2024-03-02")
    val (b2, a2) = wh.compact("bronze", "mixed", targetBytes = 1L << 30)
    assert(b2 === 2L && a2 === 2L)
    assert(listing("2024-03-01") ++ listing("2024-03-02") === allBefore,
      "no-op maintenance cycle wrote files")
  }

  test("non-partitioned compaction coalesces through stage-and-swap") {
    import spark.implicits._
    val wh = new Warehouse(spark, freshRoot())
    (0 until 6).foreach { b =>
      wh.append((0 until 10).map(i => (b, i)).toDF("b", "i").repartition(2),
        "silver", "dim")
    }
    val (before, after) = wh.compact("silver", "dim", targetBytes = 1L << 30)
    assert(before >= 12L && after === 1L, s"$before -> $after")
    assert(wh.load("silver", "dim").count() === 60L)
  }
}
