package graft.perfbench

/** Per-layer figures of the traced window, per operation: Spark execution
  * counters from [[Recorder]] (by job group), engine planning and scan
  * files from the query-execution callbacks, construction time of the
  * `graft.queries` layer from its spans, and each layer's self time. */
object LayerMetrics {
  def apply(ctx: Ctx, loop: Loop, cores: Int): Map[String, Double] = {
    val accs = ctx.recorder.map(_.perOp.values.toSeq).getOrElse(Nil)
    val n = math.max(1, loop.attempted)
    def per(f: ExecAcc => Double): Double = accs.map(f).sum / n
    val wallMs = loop.elapsedS * 1e3
    val listed = accs.map(_.filesListed).sum
    val spans = ctx.trace.spans
    val queriesMs = spans.filter(_.layer == "queries").map(s => (s.endNs - s.startNs) / 1e6).sum
    val self = ctx.trace.selfMsPerOp(n).map { case (l, v) => s"self.${l}_ms" -> v }
    Map(
      "engine.plan_ms" -> per(_.planMs),
      "engine.files_listed" -> per(_.filesListed.toDouble),
      "engine.files_read" -> per(_.filesRead.toDouble),
      "engine.files_read_frac" ->
        (if (listed == 0) 0.0 else accs.map(_.filesRead).sum.toDouble / listed),
      "queries.build_ms" -> queriesMs / n,
      "queries.eager_jobs" -> per(_.buildJobs.toDouble),
      "exec.jobs" -> per(_.jobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.task_wait_ms" -> per(_.taskWaitMs),
      "exec.task_run_ms" -> per(_.taskRunMs),
      "exec.task_cpu_ms" -> per(_.taskCpuMs),
      "exec.busy_frac" -> accs.map(_.taskRunMs).sum / math.max(1e-9, wallMs * cores),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> per(_.spill.toDouble),
      "exec.gc_ms" -> per(_.gcMs),
      "exec.peak_execution_memory_bytes" ->
        (if (accs.isEmpty) 0.0 else accs.map(_.peakExecMem).max.toDouble),
      "exec.output_bytes" -> per(_.outputBytes.toDouble)) ++ self
  }
}
