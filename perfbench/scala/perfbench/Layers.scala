package perfbench

/** Names of the per-layer metrics and how span figures map onto them. */
object Layers {
  /** Spans around calls into each layer; each reports [[PerSpan]]. */
  val Spans: Seq[String] = Seq(
    "cmf.fit", "cmf.predict", "cmf.recommend", "eval", "ops.chrono_split", "queries.entry")

  val PerSpan: Seq[String] = Seq(
    "wall_ms", "driver_ms", "jobs", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "core_busy")

  val Others: Seq[String] = Seq(
    "cmf.fit.prep_ms", "cmf.fit.iter_ms", "cmf.fit.max_stage_tasks",
    "cmf.normal_eq.reduce_ns", "cmf.normal_eq.merge_ns", "cmf.solve.cholesky_ns",
    "cmf.mllib.fit_ms", "cmf.mllib.shuffle_bytes", "cmf.fit2.fit_ms", "cmf.fit2.shuffle_bytes",
    "queries.build_ms", "queries.build_jobs",
    "plans.analysis_ms", "plans.optimize_ms", "plans.physical_ms",
    "codegen.compile_ms", "codegen.compiles", "jvm.jit_ms",
    "spark.task_overhead_ms", "spark.failed_tasks", "spark.persisted_rdds", "spark.storage_bytes",
    "spark.persisted_rdds_growth", "spark.storage_bytes_growth",
    "quality.holdout_rmse", "quality.ndcg_at_10",
    "trace.untraced_pass_ms", "trace.traced_pass_ms", "trace.overhead_ms")

  val All: Seq[String] = Spans.flatMap(s => PerSpan.map(m => s"$s.$m")) ++ Others

  def spanMetrics(stats: Map[String, Tracer.SpanStats]): Map[String, Double] =
    Spans.flatMap { name =>
      stats.get(name).toSeq.flatMap { s =>
        Seq("wall_ms" -> s.wallMs, "driver_ms" -> s.driverMs, "jobs" -> s.jobs,
          "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes, "core_busy" -> s.coreBusy)
          .map { case (m, v) => s"$name.$m" -> v }
      }
    }.toMap ++
      stats.get("cmf.fit").map(s => "cmf.fit.max_stage_tasks" -> s.maxStageTasks.toDouble) ++
      stats.get("queries.build").toSeq.flatMap(s =>
        Seq("queries.build_ms" -> s.wallMs, "queries.build_jobs" -> s.jobs))

  /** Figures of the yardstick spans run after the timed passes. */
  def extraMetrics(stats: Map[String, Tracer.SpanStats]): Map[String, Double] =
    Seq("cmf.mllib", "cmf.fit2").flatMap { name =>
      stats.get(name).toSeq.flatMap(s =>
        Seq(s"$name.fit_ms" -> s.wallMs, s"$name.shuffle_bytes" -> s.shuffleBytes))
    }.toMap

  /** Every per-layer metric, 0 where the workload does not reach the layer. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- All
    require(unknown.isEmpty, s"metrics missing from Layers.All: $unknown")
    All.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }
}
