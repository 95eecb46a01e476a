package perfbench

/** Per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not touch reads 0. */
object Layers {
  val kernels: Seq[String] = Seq("token_hash32", "minhash_sig", "simhash64", "vec_dot", "jaro_winkler", "top_k_by")

  val names: Seq[String] = Seq(
    "session.start_s", "session.warmup_s",
    "sources.scan_tasks", "sources.input_bytes", "sources.input_rows", "sources.scan_task_s",
    "planning.s",
    "operators.call_s", "operators.call_jobs", "operators.call_share",
    "execution.s", "execution.jobs", "execution.stages", "execution.tasks", "execution.tasks_per_stage",
    "execution.executor_run_s", "execution.executor_cpu_s", "execution.gc_s", "execution.core_util",
    "execution.driver_gap_s", "execution.shuffle_read_bytes", "execution.shuffle_write_bytes",
    "execution.spill_bytes", "execution.peak_exec_mem_bytes", "execution.task_skew",
    "release.cache_entries_left", "release.storage_bytes_peak") ++
    kernels.map(k => s"functions.$k.rows_per_s") ++ Seq(
    "cdc.parse_rows_per_s", "cdc.materialize_s", "cdc.routed_rows", "cdc.dead_letter_rows",
    "streaming.batches", "streaming.rows_per_batch_p50", "streaming.batch_p50_s", "streaming.batch_max_s",
    "streaming.add_batch_s", "streaming.trigger_overhead_s", "streaming.backlog_files_max",
    "streaming.generator_late_s", "streaming.files_written", "streaming.bytes_written_per_input_byte",
    "trace.overhead")

  /** Execution-side aggregates over `spans`, per unit (`per` passes or
    * cycles), shared by the batch and CDC workloads. */
  def execution(run: Run, trace: Trace, spans: Seq[Span], per: Double): Unit = {
    def sum(f: Span => Double): Double = spans.map(f).sum
    val stages = sum(_.stages.toDouble)
    val wall = sum(_.wallS)
    val m = run.metrics
    m("sources.scan_tasks") = sum(_.scanTasks.toDouble) / per
    m("sources.input_bytes") = sum(_.inputBytes.toDouble) / per
    m("sources.input_rows") = sum(_.inputRows.toDouble) / per
    m("sources.scan_task_s") = sum(_.scanRunMs / 1000.0) / per
    m("execution.jobs") = sum(_.jobs.toDouble) / per
    m("execution.stages") = stages / per
    m("execution.tasks") = sum(_.tasks.toDouble) / per
    m("execution.tasks_per_stage") = if (stages > 0) sum(_.tasks.toDouble) / stages else 0.0
    m("execution.executor_run_s") = sum(_.runMs / 1000.0) / per
    m("execution.executor_cpu_s") = sum(_.cpuNs / 1e9) / per
    m("execution.gc_s") = sum(_.gcMs / 1000.0) / per
    m("execution.core_util") = if (wall > 0) sum(_.runMs / 1000.0) / (wall * run.args.cores) else 0.0
    m("execution.driver_gap_s") = sum(_.driverGapS) / per
    m("execution.shuffle_read_bytes") = sum(_.shuffleRead.toDouble) / per
    m("execution.shuffle_write_bytes") = sum(_.shuffleWrite.toDouble) / per
    m("execution.spill_bytes") = sum(_.spill.toDouble) / per
    m("execution.peak_exec_mem_bytes") = if (spans.isEmpty) 0.0 else spans.map(_.peakExecMem.toDouble).max
    m("execution.task_skew") = if (spans.isEmpty) 0.0 else spans.map(_.maxSkew).max
    m("release.cache_entries_left") = sum(_.cacheEntriesLeft.toDouble)
    m("release.storage_bytes_peak") = trace.storageBytesPeak.toDouble
  }

  def batch(run: Run, trace: Trace, spans: Seq[Span], passes: Int, sessionS: Double,
            warmupS: Double, kernelRates: Map[String, Double]): Unit = {
    def phase(p: String): Double = spans.map(_.phaseS.getOrElse(p, 0.0)).sum
    val m = run.metrics
    m("session.start_s") = sessionS
    m("session.warmup_s") = warmupS
    m("planning.s") = phase("plan") / passes
    m("operators.call_s") = phase("call") / passes
    m("operators.call_jobs") = spans.map(_.jobCount("call").toDouble).sum / passes
    val total = phase("call") + phase("plan") + phase("exec")
    m("operators.call_share") = if (total > 0) phase("call") / total else 0.0
    m("execution.s") = phase("exec") / passes
    execution(run, trace, spans, passes)
    kernels.foreach(k => m(s"functions.$k.rows_per_s") = kernelRates.getOrElse(k, 0.0))
    fill(run)
  }

  /** Zero every per-layer metric the workload did not set. */
  def fill(run: Run): Unit = names.foreach(n => if (!run.metrics.contains(n)) run.metrics(n) = 0.0)

  /** The traced run's output file: every span, the listener counts, a
    * per-query per-layer summary, self times and the tracing overhead. */
  def writeTrace(run: Run, trace: Trace, overhead: Map[String, Any]): Unit = {
    val spans = trace.spans
    val perQuery = spans.groupBy(_.id.split(':').last).map { case (q, ss) =>
      q -> Map(
        "spans" -> ss.size,
        "wall_s" -> Stats.median(ss.map(_.wallS)),
        "phases_s" -> ss.flatMap(_.phaseS.keys).distinct.map(p => p -> Stats.median(ss.map(_.phaseS.getOrElse(p, 0.0)))).toMap,
        "self_s" -> ss.flatMap(_.phaseS.keys).distinct.map(p => p -> Stats.median(ss.map(_.selfS.getOrElse(p, 0.0)))).toMap,
        "jobs" -> Stats.median(ss.map(_.jobs.toDouble)),
        "call_jobs" -> Stats.median(ss.map(_.jobCount("call").toDouble)),
        "tasks" -> Stats.median(ss.map(_.tasks.toDouble)),
        "driver_gap_s" -> Stats.median(ss.map(_.driverGapS)),
        "scan_task_s" -> Stats.median(ss.map(_.scanRunMs / 1000.0)),
        "task_skew" -> ss.map(_.maxSkew).max)
    }
    val listener = Map(
      "spans" -> spans.size,
      "jobs" -> spans.map(_.jobs).sum, "stages" -> spans.map(_.stages).sum,
      "tasks" -> spans.map(_.tasks).sum, "sql_executions" -> spans.map(_.sqlExecutions).sum,
      "block_updates" -> trace.blockUpdates, "stream_progress_events" -> trace.progress.size)
    Json.write(run.out("trace.json"), Map(
      "workload" -> run.args.workload, "seed" -> run.args.seed,
      "overhead" -> overhead, "listener_counts" -> listener,
      "per_layer" -> run.metrics.toMap, "per_query" -> perQuery,
      "spans" -> spans.map(_.toMap)))
  }
}
