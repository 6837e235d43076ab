package perfbench

/** Per-layer metrics of one traced pass, from the pass's spans and the
  * listener's counters. A layer the workload does not reach reports 0.
  */
object LayerMetrics {

  val queries: Seq[String] = QueryWorkload.graphQueries.map(_._1)

  private val perQuery = Seq(
    "wall_s" -> "s", "jobs" -> "count", "exec_cpu_s" -> "s", "shuffle_mb" -> "MB",
    "driver_only_s" -> "s", "parallel_eff" -> "ratio", "accumulator_misses" -> "count")

  /** Every per-layer metric, with its unit, in print order. */
  val catalogue: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_s" -> "s", "spark.parallel_eff" -> "ratio", "spark.sched_wait_s" -> "s",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.scan_mb" -> "MB", "spark.output_mb" -> "MB", "spark.failed_tasks" -> "count",
    "spark.accumulator_misses" -> "count",
    "sources.parse_s" -> "s", "streaming.write_delta_s" -> "s", "streaming.compact_s" -> "s",
    "streaming.read_current_s" -> "s", "streaming.output_mb" -> "MB",
    "streaming.write_amp" -> "ratio", "streaming.kept_ratio" -> "ratio",
    "aram.extract_label_s" -> "s", "aram.split_fit_s" -> "s", "aram.transform_score_s" -> "s",
    "aram.rank_eval_s" -> "s", "aram.jobs" -> "count") ++
    queries.flatMap(q => perQuery.map { case (m, u) => s"queries.$q.$m" -> u }) ++ Seq(
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_s" -> "s",
    "setup.first_s" -> "s", "setup.warmup_s" -> "s")

  private def sum(cs: Iterable[Counters]): Counters = {
    val t = new Counters
    cs.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.failedTasks += c.failedTasks; t.execRunMs += c.execRunMs; t.execCpuNs += c.execCpuNs
      t.gcMs += c.gcMs; t.schedDelayMs += c.schedDelayMs
      t.shuffleReadBytes += c.shuffleReadBytes; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes; t.scanBytes += c.scanBytes; t.outputBytes += c.outputBytes
      t.outputRecords += c.outputRecords
      t.jobIntervals ++= c.jobIntervals
    }
    t
  }

  /** Wall time of `[lo, hi)` in which none of `c`'s jobs ran, in seconds. */
  def driverOnlySeconds(c: Counters, lo: Long, hi: Long): Double =
    (hi - lo - Intervals.unionLength(c.jobIntervals.toSeq, lo, hi)) / 1e3

  def of(tr: Tracer, byTag: Map[String, Counters], misses: Map[String, Long],
      passStartMs: Long, passEndMs: Long, passSeconds: Double, cores: Int): Map[String, Double] = {
    val all = sum(byTag.values)
    def tagged(prefix: String) = sum(byTag.collect { case (t, c) if t.startsWith(prefix) => c })
    def spanSeconds(name: String) = tr.spans.filter(_.name == name).map(_.seconds).sum
    val mb = 1e6
    val streamingOut = tagged("streaming.write_delta").outputBytes + tagged("streaming.compact").outputBytes
    val deltaRows = tagged("streaming.write_delta").outputRecords

    val m = Map.newBuilder[String, Double]
    def put(name: String, v: Double): Unit = m += name -> v
    put("spark.jobs", all.jobs)
    put("spark.stages", all.stages)
    put("spark.tasks", all.tasks)
    put("spark.driver_only_s", driverOnlySeconds(all, passStartMs, passEndMs))
    put("spark.parallel_eff", all.execRunMs / 1e3 / (passSeconds * cores))
    put("spark.sched_wait_s", all.schedDelayMs / 1e3)
    put("spark.exec_run_s", all.execRunMs / 1e3)
    put("spark.exec_cpu_s", all.execCpuNs / 1e9)
    put("spark.gc_s", all.gcMs / 1e3)
    put("spark.shuffle_read_mb", all.shuffleReadBytes / mb)
    put("spark.shuffle_write_mb", all.shuffleWriteBytes / mb)
    put("spark.spill_mb", all.spillBytes / mb)
    put("spark.scan_mb", all.scanBytes / mb)
    put("spark.output_mb", all.outputBytes / mb)
    put("spark.failed_tasks", all.failedTasks)
    put("spark.accumulator_misses", misses.values.sum)
    put("sources.parse_s", spanSeconds("sources.parse"))
    put("streaming.write_delta_s", spanSeconds("streaming.write_delta"))
    put("streaming.compact_s", spanSeconds("streaming.compact"))
    put("streaming.read_current_s", spanSeconds("streaming.read_current"))
    put("streaming.output_mb", streamingOut / mb)
    put("streaming.write_amp", ratio(streamingOut, tr.facts.getOrElse("streaming.body_bytes", 0.0)))
    put("streaming.kept_ratio", ratio(tr.facts.getOrElse("streaming.current_rows", 0.0), deltaRows))
    put("aram.extract_label_s", spanSeconds("aram.extract_label"))
    put("aram.split_fit_s", spanSeconds("aram.split_fit"))
    put("aram.transform_score_s", spanSeconds("aram.transform_score"))
    put("aram.rank_eval_s", spanSeconds("aram.rank_eval"))
    put("aram.jobs", tagged("aram.").jobs)
    put("trace.pass_s", passSeconds)
    tr.spans.filter(_.name.startsWith("queries.")).foreach { s =>
      val c = byTag.getOrElse(s.name, new Counters)
      put(s"${s.name}.wall_s", s.seconds)
      put(s"${s.name}.jobs", c.jobs)
      put(s"${s.name}.exec_cpu_s", c.execCpuNs / 1e9)
      put(s"${s.name}.shuffle_mb", c.shuffleWriteBytes / mb)
      put(s"${s.name}.driver_only_s", driverOnlySeconds(c, s.startMs, s.endMs))
      put(s"${s.name}.parallel_eff", c.execRunMs / 1e3 / (s.seconds * cores))
      put(s"${s.name}.accumulator_misses", misses.getOrElse(s.name, 0L).toDouble)
    }
    m.result()
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
