package perfbench

/** Every per-layer metric a traced run prints, by layer (the engine's
  * modules plus the Spark runtime). A workload that does not reach a
  * layer reports 0 for it; BENCHMARK.json lists the same names. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "llm.requests" -> "count", "llm.calls_per_doc" -> "calls/doc",
    "llm.unique_frac" -> "ratio", "llm.batch_size_mean" -> "count",
    "llm.inflight_mean" -> "count", "llm.inflight_peak" -> "count",
    "llm.retries" -> "count", "llm.wait_s" -> "s", "llm.busy_frac" -> "ratio",
    "exec.map_stage_s" -> "s", "exec.reduce_stage_s" -> "s",
    "exec.report_s" -> "s", "exec.cold_s" -> "s", "exec.rerun_s" -> "s",
    "exec.rerun_calls_per_doc" -> "calls/doc", "exec.cache_hit_frac" -> "ratio",
    "exec.cache_files" -> "count", "exec.cache_mb" -> "MB",
    "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.output_mb" -> "MB",
    "streaming.lsh_batch_s" -> "s", "streaming.er_batch_s" -> "s",
    "streaming.store_files" -> "count", "streaming.store_mb" -> "MB",
    "ext.append_s" -> "s", "ext.signature_s" -> "s", "ext.candidates_s" -> "s",
    "ext.verify_s" -> "s", "ext.fold_s" -> "s", "ext.candidate_pairs" -> "count",
    "ext.verified_pairs" -> "count", "ext.verify_yield" -> "ratio",
    "rel.build_s" -> "s", "rel.plan_s" -> "s", "rel.exec_s" -> "s",
    "rel.eager_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.retained_mb" -> "MB",
    "self.exec_s" -> "s", "self.sources_s" -> "s", "self.streaming_s" -> "s",
    "self.ext_s" -> "s", "self.rel_s" -> "s",
    "setup.session_s" -> "s", "setup.warmup_s" -> "s", "setup.inputs_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio",
    "trace.jobs" -> "count")

  /** The full list, in order, with 0 for metrics the run did not
    * produce; an unlisted name is a harness bug. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val known = all.map(_._1).toSet
    ms.map(_.name).filterNot(known).foreach(n => sys.error(s"unlisted per-layer metric $n"))
    val by = ms.map(m => m.name -> m).toMap
    all.map { case (n, u) => by.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Self time per layer, as means over `jobs` traced jobs. */
  def selfTimes(t: Tracer, roots: Seq[Span]): Seq[Metric] = {
    val n = math.max(roots.size, 1)
    t.selfSeconds(roots).toSeq.collect {
      case (layer, s) if known(s"self.${layer}_s") => Metric(s"self.${layer}_s", s / n, "s")
    }
  }
  private def known(n: String): Boolean = all.exists(_._1 == n)

  def sparkPerJob(t: Tracer, roots: Seq[Span], byWindow: Boolean): Seq[Metric] =
    roots.map(t.counts(_, byWindow)).foldLeft(Counts())(_ + _)
      .perJob(roots.size).map { case (n, v, u) => Metric(n, v, u) }
}
