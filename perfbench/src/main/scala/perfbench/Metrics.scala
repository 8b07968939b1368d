package perfbench

/** The metric names a run prints, with units — the same lists, in the
  * same order, as `end_to_end` and `per_layer` in BENCHMARK.json.
  */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "retained_heap_mb" -> "MB",
    "items_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "quality_ratio" -> "ratio")

  private val semOps = Seq("sem_filter", "sem_extract", "sem_agg", "sem_topk")
  private val curationOps = Seq("url_dedup", "quality", "minhash_pairs", "components",
    "ngram_fit", "ngram_score", "write")

  /** Counts and times are per timed operation of the traced phase. */
  val perLayer: Seq[(String, String)] = Seq(
    "llm.requests" -> "count", "llm.requests_virtual" -> "count",
    "llm.cache_hit_ratio" -> "ratio", "llm.batches" -> "count",
    "llm.batch_size_mean" -> "count", "llm.complete_ms" -> "ms",
    "llm.stub_service_ms" -> "ms", "llm.inflight_mean" -> "count",
    "llm.inflight_peak" -> "count", "llm.prompt_tokens" -> "tokens",
    "llm.output_tokens" -> "tokens", "llm.errors" -> "count",
    "llm.requests_per_row" -> "req/row", "llm.tokens_per_row" -> "tokens/row",
    "cascade.helper_requests" -> "count", "cascade.oracle_requests" -> "count",
    "cascade.helper_resolved_ratio" -> "ratio", "cascade.ms" -> "ms",
    "plan.rows_into_llm_ratio" -> "ratio") ++
    semOps.map(o => s"op.${o}_ms" -> "ms") ++
    Seq("op.sem_agg_requests" -> "count", "op.sem_topk_requests" -> "count") ++
    curationOps.map(o => s"op.${o}_ms" -> "ms") ++
    Seq("dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.verified_ratio" -> "ratio") ++
    (semOps ++ curationOps).map(o => s"op.$o.driver_gap_ms" -> "ms") ++
    Kernels.names.map(k => s"kernel.$k.rows_per_s" -> "rows/s") ++
    Seq("embed.texts" -> "count", "embed.ms" -> "ms",
      "ivf.build_ms" -> "ms", "ivf.search_ms" -> "ms", "ivf.append_ms" -> "ms",
      "ivf.delete_ms" -> "ms", "ivf.compact_ms" -> "ms", "ivf.rows_read_per_result" -> "rows",
      "lex.save_ms" -> "ms", "lex.search_ms" -> "ms", "lex.append_ms" -> "ms",
      "lex.delete_ms" -> "ms", "lex.compact_ms" -> "ms", "lex.rows_read_per_result" -> "rows",
      "hybrid.search_ms" -> "ms",
      "commit.bytes_written_per_input_byte" -> "ratio", "commit.files_per_write" -> "count",
      "compact.bytes_rewritten" -> "B", "persist.pinned_rdds_after_op" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.tasks_under_10ms" -> "count", "spark.task_ms_p50" -> "ms",
      "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
      "spark.executor_cpu_ms" -> "ms", "spark.executor_gc_ms" -> "ms",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B", "spark.tasks_failed" -> "count",
      "trace_overhead_s" -> "s")
}

/** Per-layer figures every workload shares: Spark's listener events and
  * the spans, attributed to the traced operations.
  */
object Layers {

  /** Jobs started inside a span of the given subtree. */
  def jobsUnder(tracer: Tracer, probe: SparkProbe, roots: Seq[Span]): Map[Long, Seq[JobRec]] = {
    val jobs = probe.allJobs.groupBy(_.span)
    roots.map(r => r.id -> tracer.subtree(r.id).toSeq.flatMap(id => jobs.getOrElse(id, Nil))).toMap
  }

  /** Tasks of the jobs started under spans named `name`. */
  def tasksUnder(tracer: Tracer, probe: SparkProbe, name: String): Seq[TaskRec] = {
    val jobIds = jobsUnder(tracer, probe, tracer.all.filter(_.name == name))
      .values.flatten.map(_.id).toSet
    probe.allTasks.filter(t => jobIds.contains(probe.jobOfStage(t.stage)))
  }

  def generic(tracer: Tracer, probe: SparkProbe, pinned: Seq[Double]): Map[String, Double] = {
    val spans = tracer.all
    val roots = spans.filter(_.name.startsWith("root."))
    val n = math.max(1, roots.length).toDouble
    val byRoot = jobsUnder(tracer, probe, roots)
    val jobs = byRoot.values.flatten.toSeq
    val jobIds = jobs.map(_.id).toSet
    val tasks = probe.allTasks.filter(t => jobIds.contains(probe.jobOfStage(t.stage)))
    def gapMs(s: Span, js: Seq[JobRec]): Double =
      s.durNs / 1e6 - Intervals.covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    // Per span name: mean duration and mean driver gap.
    val perName = spans.filterNot(_.name.startsWith("root.")).groupBy(_.name).flatMap {
      case (name, ss) =>
        val under = jobsUnder(tracer, probe, ss)
        Seq(s"${name}_ms" -> Stats.mean(ss.map(_.durNs / 1e6)),
          s"$name.driver_gap_ms" -> Stats.mean(ss.map(s => gapMs(s, under(s.id)))))
    }
    perName ++ Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> tasks.map(_.stage).distinct.size / n,
      "spark.tasks" -> tasks.size / n,
      "spark.tasks_under_10ms" -> tasks.count(_.durMs < 10) / n,
      "spark.task_ms_p50" -> Stats.median(tasks.map(_.durMs.toDouble)),
      "spark.job_ms" -> jobs.map(j => (j.endMs - j.startMs).toDouble).sum / n,
      "spark.driver_gap_ms" -> roots.map(r => gapMs(r, byRoot(r.id))).sum / n,
      "spark.executor_cpu_ms" -> tasks.map(_.cpuNs / 1e6).sum / n,
      "spark.executor_gc_ms" -> tasks.map(_.gcMs.toDouble).sum / n,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead.toDouble).sum / n,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite.toDouble).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill.toDouble).sum / n,
      "spark.input_bytes" -> tasks.map(_.inputBytes.toDouble).sum / n,
      "spark.tasks_failed" -> tasks.count(_.failed).toDouble,
      "persist.pinned_rdds_after_op" -> Stats.mean(pinned))
  }
}

/** SQL metrics of an executed plan. */
object PlanMetrics {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.joins.BaseJoinExec

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows out of MinHash's band self-join (the join whose left side carries
    * the `bk1` band key) — the candidate pairs before Jaccard verification —
    * read from the executed plan of the pair frame `Dedup.minhashPairs`
    * returned, after that frame has run.
    */
  def candidatePairs(pairs: org.apache.spark.sql.DataFrame): Double =
    nodes(pairs.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.left.output.exists(_.name == "bk1") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum.toDouble
}
