package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One benchmark run in one driver JVM: set-up, the measured closed loop,
  * the output checks, then a result file holding the metrics.
  *
  * Usage: Runner --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --data <sf dir> --work <scratch dir> --expected <digests file>
  *          --out <result file> [--record]
  */
object Runner {
  def main(argv: Array[String]): Unit = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val record   = argv.contains("--record")
    val workload = args("workload")
    val seed     = args("seed").toInt
    val seconds  = args("seconds").toInt
    val traced   = args("trace") == "1"
    val work     = new File(args("work"))
    val cores    = GraftSession.defaultCores

    val spark = GraftSession.builder(cores).appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr  = new Trace(spark.sparkContext, traced)
    val out = new Outcome
    val expected = mutable.Map.empty[String, (Long, String)] ++ readExpected(args("expected"))

    tr.span("workload", "bench", startUs = Some(jvmStartUs)) {
      tr.span("session_start", "spark", startUs = Some(jvmStartUs))(())
      workload match {
        case "medallion" =>
          Medallion.run(spark, tr, work, seed, seconds, out)
        case w if QueryLoop.workloads.contains(w) =>
          QueryLoop.run(spark, tr, w, new File(args("data")), seconds, expected, record, out)
        case w => sys.error(s"unknown workload $w")
      }
    }
    val root    = tr.spans.head
    val measure = tr.spans.find(_.name == "measure").get
    out.setupS = (measure.start - root.start) / 1e6
    val peakRss = rssPeakMb()

    if (record) writeExpected(args("expected"), expected)

    // the same end-to-end metrics for every workload: an operation is a
    // medallion cycle or one query
    val ops = out.opS.toSeq
    val e2e = Seq(
      ("setup_s", out.setupS, "s", 1),
      ("ops_per_min", 60.0 * ops.size / out.measuredS, "1/min", ops.size),
      ("op_s.p50", Stats.median(ops), "s", ops.size))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (k, v, u, _) => (k, v, u) }
      else Layers.metrics(tr, out, cores)

    // people read these lines; the driver reads only the last one
    val env = Seq(
      "workload" -> workload, "seed" -> seed.toString, "nproc" -> sys.env.getOrElse("PERFBENCH_NPROC", "?"),
      "local" -> s"local[$cores]", "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "passes" -> out.passes.toString, "samples" -> out.opS.size.toString)
    println("[perfbench] env " + env.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val people = e2e ++ Seq(
      ("peak_rss_mb", peakRss, "MB", 1),
      ("failed_frac", out.failed.toDouble / math.max(1, out.attempted), "ratio", out.attempted)) ++
      out.extra.map { case (k, (v, u, n)) => (k, v, u, n) }
    people.foreach { case (k, v, u, n) =>
      println(f"[perfbench] $workload%-16s $k%-28s $v%14.4f $u%-6s (n=$n)") }
    out.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    if (traced) {
      val jobs = tr.jobs
      Files.createDirectories(Paths.get(args("out")).getParent)
      Files.writeString(Paths.get(args("out") + ".trace.json"), tr.toJson(jobs))
      spanTable(tr).foreach(l => println("[perfbench] span " + l))
    }

    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val json = s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{${m.mkString(",")}}}"""
    Files.writeString(Paths.get(args("out")), json + "\n")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM (VmHWM), MB. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Spans by name under the workload: count, total and self seconds. */
  private def spanTable(tr: Trace): Seq[String] = {
    val depth = mutable.Map(-1 -> -1)
    tr.spans.foreach(s => depth(s.id) = depth(s.parent) + 1)
    tr.spans.groupBy(s => (depth(s.id), s.layer, s.name)).toSeq.sortBy(g => g._2.head.id)
      .map { case ((d, layer, name), ss) =>
        f"${"  " * d}$layer/$name%-40s n=${ss.size}%-4d total=${ss.map(tr.seconds).sum}%9.3f s " +
          f"self=${ss.map(tr.selfSeconds).sum}%9.3f s"
      }
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\":\\{\"rows\":(\\d+),\"digest\":\"([^\"]+)\"\\}".r
      .findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  private def writeExpected(path: String, e: collection.Map[String, (Long, String)]): Unit = {
    val merged = readExpected(path) ++ e
    val body = merged.toSeq.sortBy(_._1).map { case (q, (n, d)) =>
      s"""  "$q":{"rows":$n,"digest":"$d"}""" }
    Files.writeString(Paths.get(path), body.mkString("{\n", ",\n", "\n}\n"))
  }
}
