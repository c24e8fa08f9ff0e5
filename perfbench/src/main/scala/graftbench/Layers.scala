package graftbench

/** The per-layer metrics of a traced run. Every traced run prints all of
  * them; a layer the workload never calls reads 0 (for example the
  * `er.*` stages on suggest_lookup, or `ops.*` on er_batch). */
object Layers {
  val ErStages = Seq("extract", "intern", "blocking", "scoring", "cluster")

  val SpanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "busy_s" -> "s", "gc_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "shuffle_write_bytes" -> "bytes",
    "shuffle_write_records" -> "count", "spill_bytes" -> "bytes", "task_skew" -> "ratio")

  val TextKernels = Seq("normalize", "match_key", "trigram_keys", "sift4",
    "banded_lev", "jaro_winkler", "match_score")

  val FnKernels = Seq("normalize_text", "match_key", "trigram_keys", "double_metaphone",
    "sift4_cp", "bounded_levenshtein", "jaro_winkler", "ref_match_score")

  private val all: Seq[(String, String)] =
    (for (st <- ErStages; (f, u) <- SpanFields) yield (s"er.$st.$f", u)) ++ Seq(
      "er.blocking.keys_kept_ratio" -> "ratio",
      "er.blocking.hot_volume_dropped" -> "count",
      "er.scoring.accept_ratio" -> "ratio",
      "er.cluster.rounds" -> "count",
      "er.cluster.ckpt_bytes" -> "bytes",
      "plan.analysis_ms" -> "ms",
      "plan.optimization_ms" -> "ms",
      "plan.planning_ms" -> "ms",
      "plan.actions" -> "count",
      "plan.codegen_compiles" -> "count",
      "plan.codegen_compile_ms" -> "ms",
      "suggest.jobs" -> "count",
      "suggest.stages" -> "count",
      "suggest.tasks" -> "count",
      "suggest.busy_ms" -> "ms") ++
      TextKernels.map(k => s"text.${k}_ns" -> "ns") ++
      FnKernels.map(k => s"fn.${k}_ns" -> "ns") ++ Seq(
      "fn.codegen_fallbacks" -> "count",
      "ops.sweep_s" -> "s") ++
      (for ((fam, _) <- OpsSweep.Families; f <- OpsSweep.SpanFields)
        yield s"ops.$fam.$f" -> SpanFields.toMap.apply(f)) ++
      OpsSweep.ClusterQueries.map(q => s"ops.${q.take(3)}_s" -> "s") ++ Seq(
      "persisted_frames" -> "count",
      "trace_overhead_frac" -> "ratio")

  val names: Seq[String] = all.map(_._1)
  private val units = all.toMap
  def unit(name: String): String = units(name)

  /** The span fields of one stage, from the work its span recorded. */
  def spanFields(prefix: String, s: Span): Seq[(String, Double)] = {
    val w = s.work
    Seq(
      s"$prefix.wall_s" -> s.wallS,
      s"$prefix.busy_s" -> w.busyMs / 1e3,
      s"$prefix.gc_s" -> w.gcMs / 1e3,
      s"$prefix.jobs" -> w.jobs.toDouble,
      s"$prefix.stages" -> w.stages.toDouble,
      s"$prefix.tasks" -> w.tasks.toDouble,
      s"$prefix.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
      s"$prefix.shuffle_write_records" -> w.shuffleWriteRecords.toDouble,
      s"$prefix.spill_bytes" -> w.spillBytes.toDouble,
      s"$prefix.task_skew" -> w.taskSkew)
  }

  /** Per-metric median over several traced operations of one layer. */
  def medianOf(rows: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    if (rows.isEmpty) Nil
    else rows.head.map(_._1).map(k => k -> Main.median(rows.map(_.toMap.apply(k))))
}
