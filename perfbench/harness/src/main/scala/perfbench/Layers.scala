package perfbench

/** The contract's metric names. Every run prints all of one set: the
  * end-to-end set untraced, the per-layer set traced. A per-layer metric of
  * a layer a workload does not exercise reads 0; that 0 is the prediction
  * "this layer does not move here".
  */
object Layers {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "read_p50_ms" -> "ms",
    "read_p90_ms" -> "ms", "write_p50_ms" -> "ms")

  val layerNames: Seq[String] = Seq("entry", "operators", "plans", "spark", "index", "persist")

  val perLayer: Seq[(String, String)] = Seq(
    "entry.construct_s" -> "s", "entry.construct_jobs" -> "count",
    "entry.construct_share" -> "ratio",
    "spark.driver_gap_s" -> "s", "spark.single_task_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.concurrency" -> "ratio",
    "spark.scan_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "cache.blocks_written" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.planning_ms" -> "ms") ++
    Families.names.flatMap(f => Seq(s"family.$f.construct_s" -> "s", s"family.$f.action_s" -> "s")) ++
    Seq(
      "index.shard_search_us" -> "us", "index.fanout_us" -> "us",
      "index.insert_us" -> "us", "index.delete_us" -> "us",
      "index.dead_slots" -> "count", "index.searches" -> "count",
      "index.recall_at_10" -> "ratio", "index.memory_mb" -> "MB",
      "refresh.jobs" -> "count", "refresh.tasks" -> "count",
      "refresh.task_cpu_s" -> "s", "refresh.shuffle_write_bytes" -> "bytes",
      "probe.jobs" -> "count", "probe.tasks" -> "count",
      "persist.save_s" -> "s", "persist.load_s" -> "s", "persist.bytes" -> "bytes",
      "persist.bytes_per_user_byte" -> "ratio",
      "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB") ++
    layerNames.map(l => s"trace.${l}_self_s" -> "s") ++
    Seq("trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Put every end-to-end metric into `r`; each must be measured. */
  def emitEndToEnd(r: Result, values: Map[String, Double]): Unit =
    endToEnd.foreach { case (n, u) =>
      r.metric(n, values.getOrElse(n, sys.error(s"end-to-end metric $n not measured")), u)
    }

  /** Put every per-layer metric into `r`, 0 where the workload has none. */
  def emitPerLayer(r: Result, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
    perLayer.foreach { case (n, u) => r.metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Sum of the Spark counts over `groups`. */
  def sum(c: Census, groups: Iterable[String]): Counts = {
    val t = new Counts
    groups.foreach { g =>
      val x = c.counts(g)
      t.jobs += x.jobs; t.singleTaskJobs += x.singleTaskJobs; t.stages += x.stages
      t.tasks += x.tasks; t.taskRunMs += x.taskRunMs; t.taskCpuNs += x.taskCpuNs
      t.scanBytes += x.scanBytes; t.shuffleReadBytes += x.shuffleReadBytes
      t.shuffleWriteBytes += x.shuffleWriteBytes; t.spillBytes += x.spillBytes
      t.blocksWritten += x.blocksWritten; t.analysisMs += x.analysisMs
      t.optimizerMs += x.optimizerMs; t.planningMs += x.planningMs
    }
    t
  }

  /** The spark.*, plan.* and cache.* metrics of `t`, divided by `units`,
    * with concurrency taken over `wallS` seconds of wall time.
    */
  def sparkMetrics(t: Counts, units: Double, wallS: Double): Map[String, Double] = Map(
    "spark.single_task_jobs" -> t.singleTaskJobs / units,
    "spark.jobs" -> t.jobs / units, "spark.stages" -> t.stages / units,
    "spark.tasks" -> t.tasks / units, "spark.task_run_s" -> t.taskRunMs / 1e3 / units,
    "spark.task_cpu_s" -> t.taskCpuNs / 1e9 / units,
    "spark.concurrency" -> (if (wallS > 0) t.taskRunMs / 1e3 / wallS else 0.0),
    "spark.scan_bytes" -> t.scanBytes / units,
    "spark.shuffle_read_bytes" -> t.shuffleReadBytes / units,
    "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / units,
    "spark.spill_bytes" -> t.spillBytes / units,
    "cache.blocks_written" -> t.blocksWritten / units,
    "plan.analysis_ms" -> t.analysisMs / units, "plan.optimizer_ms" -> t.optimizerMs / units,
    "plan.planning_ms" -> t.planningMs / units)

  /** trace.<layer>_self_s per unit (per run for `perRun` layers) and the
    * span count.
    */
  def traceMetrics(traces: Seq[Trace], units: Double, perRun: Set[String]): Map[String, Double] = {
    val self = traces.map(_.selfUsByLayer)
    layerNames.map { l =>
      s"trace.${l}_self_s" -> self.map(_.getOrElse(l, 0L)).sum / 1e6 / (if (perRun(l)) 1.0 else units)
    }.toMap + ("trace.spans" -> traces.map(_.size).sum.toDouble)
  }

  def jvmMetrics(jvm: Jvm, units: Double): Map[String, Double] =
    Map("jvm.gc_s" -> jvm.gcSeconds / units, "jvm.peak_heap_mb" -> jvm.peakHeapMb)

  /** Traced minus untraced, as a percentage of untraced. */
  def overheadPct(traced: Double, untraced: Double): Double =
    (traced - untraced) / untraced * 100.0
}
