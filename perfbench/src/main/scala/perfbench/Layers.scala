package perfbench

/** The per-layer metrics every workload reports, by name. Layers a
  * workload does not exercise report 0. */
object Layers {

  /** Name and unit of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_busy_ms" -> "ms",
    "scheduler.driver_gap_ms" -> "ms",
    "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "catalyst.executions" -> "count",
    "storage.cached_peak_mb" -> "MB", "storage.blocks_put" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.core_util" -> "frac", "exec.spill_bytes" -> "bytes",
    "exec.peak_task_mem_mb" -> "MB", "exec.task_failures" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms",
    "jvm.heap_after_gc_peak_mb" -> "MB",
    "sources.scan_bytes" -> "bytes", "sources.scan_rows" -> "count",
    "sources.write_bytes" -> "bytes", "sources.write_rows" -> "count",
    "sources.jdbc_ms" -> "ms", "sources.artifact_builds_setup" -> "count",
    "sources.artifact_builds_timed" -> "count",
    "taxi.cycle_ms" -> "ms", "taxi.publish_ms" -> "ms", "taxi.cycle_jobs" -> "count") ++
    Lakehouse.Endpoints.map(e => s"serving.${e}_p50_ms" -> "ms") ++
    Seq("serving.cache_hit_ratio" -> "frac") ++
    Seq("hop1", "hop2").flatMap(h => Seq("trigger_ms", "add_batch_ms",
      "planning_ms", "wal_commit_ms").map(m => s"streaming.$h.$m" -> "ms")) ++
    Seq("streaming.hop1.state_rows" -> "count",
      "streaming.hop1.state_commit_ms" -> "ms",
      "streaming.useful_trigger_ratio" -> "frac",
      "streaming.cascade_p50_ms" -> "ms") ++
    QueryWorkload.Queries.sorted.map(q => s"query.${q}_s" -> "s") ++
    Seq("trace.overhead_frac" -> "frac", "trace.noise_frac" -> "frac")

  /** Engine-layer metrics of one unit of work (a pass, an increment): the
    * counters of `root` and every span below it. */
  def engine(tracer: Tracer, root: SpanRec, cores: Int): Map[String, Double] = {
    val c = tracer.rollup(root.id)
    val busy = Stats.unionLength(Stats.clip(c.jobIntervals.toSeq, root.startMs, root.endMs))
    Map(
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.job_busy_ms" -> busy,
      "scheduler.driver_gap_ms" -> (root.durMs - busy),
      "catalyst.optimize_ms" -> c.optimizeMs.toDouble,
      "catalyst.plan_ms" -> c.planMs.toDouble,
      "catalyst.executions" -> c.executions.toDouble,
      "exec.task_run_ms" -> c.taskRunMs.toDouble,
      "exec.task_cpu_ms" -> c.taskCpuNs / 1e6,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "exec.core_util" -> c.taskRunMs / (root.durMs * cores),
      "exec.spill_bytes" -> c.spillBytes.toDouble,
      "exec.peak_task_mem_mb" -> c.peakTaskMem / Run.MiB,
      "exec.task_failures" -> c.taskFailures.toDouble,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "sources.scan_bytes" -> c.scanBytes.toDouble,
      "sources.scan_rows" -> c.scanRows.toDouble,
      "sources.write_bytes" -> c.writeBytes.toDouble,
      "sources.write_rows" -> c.writeRows.toDouble)
  }

  /** Per-metric median over units of work. */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    if (units.isEmpty) Map.empty
    else units.head.keys.map(k => k -> Stats.median(units.map(_(k)))).toMap

  /** Completes `measured` to the full metric list (0 where a layer was not
    * exercised) in the form the result line carries. */
  def report(measured: Map[String, Double]): Map[String, Map[String, Any]] = {
    val unknown = measured.keySet -- Metrics.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    scala.collection.immutable.ListMap(Metrics.map { case (name, unit) =>
      name -> Map("value" -> measured.getOrElse(name, 0.0), "unit" -> unit)
    }: _*)
  }
}
