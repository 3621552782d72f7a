package perfbench

/** The per-layer table of a traced run, every value per measured pass
  * (one medallion cycle, or one round over a workload's queries) unless
  * its name ends in `.max`. Every workload reports every metric: the
  * etl, warehouse and dashboard layers read 0 on a query workload, and
  * the query packages read 0 on the medallion.
  */
object Layers {
  val etlStages = Seq("append", "bronze_to_silver", "quality_gate", "gold", "maintain", "report")
  /** Counts the medallion adds from its own walk of the warehouse. */
  val warehouseCounts = Seq(
    "etl.maintain.files_compacted" -> "count", "warehouse.bytes_written" -> "bytes",
    "warehouse.files_written" -> "count", "warehouse.files" -> "count",
    "warehouse.bytes_per_input_byte" -> "ratio")

  def metrics(tr: Trace, out: Outcome, cores: Int): Seq[(String, Double, String)] = {
    val jobs    = tr.jobs
    val measure = tr.spans.find(_.name == "measure").get
    val inside  = tr.subtree(measure)
    val n       = math.max(1, out.passes).toDouble
    val m       = Seq.newBuilder[(String, Double, String)]
    def add(name: String, v: Double, unit: String): Unit = m += ((name, v, unit))

    /** Jobs and driver seconds of the measured spans `ss`. */
    def calls(prefix: String, ss: Seq[Span]): Unit = {
      val js = ss.flatMap(s => tr.jobsUnder(s, jobs))
      add(s"$prefix.jobs", js.size / n, "count")
      add(s"$prefix.driver_s", ss.map(tr.driverSeconds(_, jobs)).sum / n, "s")
    }
    def shuffle(prefix: String, ss: Seq[Span]): Unit =
      add(s"$prefix.shuffle_write_bytes",
        ss.flatMap(s => tr.jobsUnder(s, jobs)).map(_.shuffleWrite).sum / n, "bytes")
    val measured = tr.spans.toSeq.filter(s => inside(s.id) && s.id != measure.id)

    val mj   = tr.jobsUnder(measure, jobs)
    val wall = tr.seconds(measure)
    val task = mj.map(_.taskUs).sum / 1e6
    add("spark.jobs", mj.size / n, "count")
    add("spark.tasks", mj.map(_.tasks).sum / n, "count")
    add("spark.task_s", task / n, "s")
    add("spark.driver_s", tr.driverSeconds(measure, jobs) / n, "s")
    add("spark.core_busy_frac", task / (wall * cores), "ratio")
    add("spark.shuffle_write_bytes", mj.map(_.shuffleWrite).sum / n, "bytes")
    add("spark.shuffle_write_records", mj.map(_.shuffleRecords).sum / n, "count")
    add("spark.shuffle_read_bytes", mj.map(_.shuffleRead).sum / n, "bytes")
    add("spark.spill_bytes", mj.map(_.spill).sum / n, "bytes")

    etlStages.foreach { st =>
      val ss = measured.filter(s => s.layer == "etl" && s.name == st)
      add(s"etl.$st.s", ss.map(tr.seconds).sum / n, "s")
      calls(s"etl.$st", ss)
      shuffle(s"etl.$st", ss)
    }
    warehouseCounts.foreach { case (k, u) => add(k, out.layer.getOrElse(k, 0.0), u) }
    val dash = measured.filter(s => s.layer == "dashboard" && s.name == "dashboard")
    add("dashboard.s", dash.map(tr.seconds).sum / n, "s")
    calls("dashboard", dash)

    QueryLoop.packages.foreach { pkg =>
      val runs = measured.filter(s => s.layer == pkg && s.parent >= 0 && tr.spans(s.parent).name == "pass")
      def part(name: String) = runs.flatMap(r => measured.filter(s => s.parent == r.id && s.name == name))
      add(s"$pkg.s", runs.map(tr.seconds).sum / n, "s")
      add(s"$pkg.build_s", part("build").map(tr.seconds).sum / n, "s")
      add(s"$pkg.action_s", part("action").map(tr.seconds).sum / n, "s")
      calls(pkg, runs)
      add(s"$pkg.task_s", runs.flatMap(s => tr.jobsUnder(s, jobs)).map(_.taskUs).sum / 1e6 / n, "s")
      shuffle(pkg, runs)
    }

    add("cache.resident_bytes.max", tr.cacheBytesMax.toDouble, "bytes")
    add("cache.rdd_blocks.max", tr.cacheBlocksMax.toDouble, "count")
    add("staging.s", tr.spans.filter(_.layer == "staging").map(tr.seconds).sum, "s")
    add("jvm.gc_s", (measure.gcEndMs - measure.gcStartMs) / 1e3 / n, "s")
    add("jvm.heap_used_mb.max", tr.heapUsedMax / 1048576.0, "MB")
    m.result()
  }
}
