package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft._
import graft.core.{Sem, SemSettings}
import graft.llm.{FakeBehavior, LMRequest, OpenAICompatLM, UsageTracker}
import graft.plan.{ClassicalFilter, SemExtractOp, SemFilterCascadeOp, SemPlan}

/** LLM-bound workload: a review table through a cascade filter, an
  * extraction and a classical filter (one optimized [[SemPlan]], its
  * cascade thresholds pre-warmed on the table), then a per-category
  * `semAgg` and a `semTopK` over the category summaries. All LLM calls go
  * through the production `OpenAICompatLM` client to the in-process
  * [[LlmStub]].
  *
  * One operation = one full pipeline over the whole table.
  */
final class SemPipeline(ctx: Ctx) extends Workload {
  private val W = "sem_pipeline"
  private val n = if (ctx.tiny) 300 else 1000
  private val warmUpPasses = if (ctx.tiny) 1 else 2
  private val filterInstr = "The {text} reports a delay"
  private val aggInstr = "List every {first_word}"
  private val topkInstr = "Which {summary} covers the most?"

  private val oracleRoute: LMRequest => FakeBehavior = req => LlmStub.shape(req) match {
    case "filter" => FakeBehavior.KeywordFilter(Gen.ReviewKeyword)
    case "extract" => FakeBehavior.ExtractStats("Text")
    case "agg" => FakeBehavior.ConcatDocs()
    case "compare" => FakeBehavior.PreferLongerText("Summary")
    case _ => FakeBehavior.Echo
  }
  private val helperBehavior = FakeBehavior.KeywordFilterProb(Gen.ReviewKeyword)

  private var rows: Vector[Gen.Review] = Vector.empty
  private var byId: Map[Long, Gen.Review] = Map.empty
  private var exact: Set[Long] = Set.empty
  private var df: DataFrame = _
  private var stub: LlmStub = _
  private var settings: SemSettings = _
  private var tracedSettings: SemSettings = _
  private var plan: SemPlan = _
  private var dig = ""
  private val cascade = ArrayBuffer.empty[(Double, Double)]
  private val bill = ArrayBuffer.empty[(Double, Double)]
  private val tracedStats = ArrayBuffer.empty[Map[String, Double]]

  private val schema = StructType(Seq(StructField("review_id", LongType),
    StructField("category", StringType), StructField("rating", IntegerType),
    StructField("text", StringType)))

  private def toDf(rs: Seq[Gen.Review]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rs.map(r => Row(r.id, r.category, r.rating, r.text)), ctx.nproc), schema)

  def sizes: Map[String, Any] = Map("rows" -> n, "categories" -> 50,
    "repeat_share" -> 0.25, "keyword_share" -> 0.3, "prewarm_frame" -> "the review table")

  def digest: String = dig

  def setup(): Unit = {
    rows = Gen.reviews(ctx.seed, n)
    val d = new Digest
    rows.foreach(r => d.add(r.id, r.category, r.rating, r.text))
    dig = d.hex
    byId = rows.map(r => r.id -> r).toMap
    exact = rows.filter(r => r.rating >= 3 && r.text.split(" ").contains(Gen.ReviewKeyword))
      .map(_.id).toSet
    df = toDf(rows).cache()
    df.count()
    stub = new LlmStub(Seq(StubModel("oracle", 20.0, 0.02, oracleRoute),
      StubModel("helper", 4.0, 0.0, _ => helperBehavior)), ctx.nproc)
    val oracle = OpenAICompatLM(stub.endpoint, "oracle")
    val helper = OpenAICompatLM(stub.endpoint, "helper", withLogprobs = true)
    settings = SemSettings(lm = oracle, helperLm = Some(helper), enableCache = true)
    tracedSettings = settings.copy(lm = TimedLM(oracle), helperLm = Some(TimedLM(helper)))
    plan = Sem.withSettings(settings) {
      SemPlan(Seq(SemFilterCascadeOp(filterInstr),
        SemExtractOp(Seq("text"), Seq("first_word", "n_words")),
        ClassicalFilter("rating >= 3"))).optimized.prewarmCascades(df)
    }
    Check(plan.ops.collect { case SemFilterCascadeOp(_, Some(_), Some(_)) => 1 }.nonEmpty,
      W, "SemPlan.prewarmCascades", "-", "cascade thresholds were not learned")
  }

  /** Full passes, each from an empty response cache: after a single pass
    * the first timed pass still ran slower than the ones after it.
    */
  def warmUp(): Unit = (1 to warmUpPasses).foreach { _ =>
    graft.llm.ResponseCache.clear()
    Sem.withSettings(settings)(pipeline(df, traced = false))
  }

  /** The plan, op by op with forced outputs (traced), or as one plan. */
  private def runPlan(input: DataFrame, traced: Boolean): (DataFrame, Long) =
    if (!traced) (plan.run(input), -1L)
    else ctx.span("plan", "plan.run") {
      var intoLlm = -1L
      val out = plan.ops.foldLeft(input) { (cur, op) =>
        val name = op match {
          case _: SemFilterCascadeOp => "op.sem_filter"
          case _: SemExtractOp => "op.sem_extract"
          case _ => "op.classical_filter"
        }
        if (intoLlm < 0 && !op.isInstanceOf[ClassicalFilter]) intoLlm = cur.count()
        ctx.span("operators", name) {
          val o = SemPlan(Seq(op)).run(cur)
          o.count()
          o
        }
      }
      (out, intoLlm)
    }

  private def pipeline(input: DataFrame, traced: Boolean): (Array[Row], Array[Row], Array[Row], Long) = {
    val (out, intoLlm) = runPlan(input, traced)
    val kept = out.select("review_id", "category", "text", "first_word", "n_words")
    val keptRows = kept.collect()
    val summaries = ctx.span("operators", "op.sem_agg") {
      val a = kept.semAgg(aggInstr, groupBy = Seq("category"), suffix = "summary")
      if (traced) a.localCheckpoint(eager = true) else a
    }
    val agg = summaries.collect()
    val top = ctx.span("operators", "op.sem_topk") {
      summaries.semTopK(topkInstr, 10).select("category", "summary", "rank").collect()
    }
    (keptRows, agg, top, intoLlm)
  }

  private def usageNow: Seq[Long] = {
    val u = UsageTracker.forSession(ctx.spark)
    Seq(u.requests.value, u.physicalRequests.value, u.cacheHits.value)
  }

  def runOp(traced: Boolean): OpSample = {
    stub.resetPeak()
    val s0 = stub.snapshot()
    val u0 = usageNow
    val l0 = LmProbe.snapshot()
    val ((keptRows, agg, top, intoLlm), sample) = ctx.timed("pipeline", traced) {
      Sem.withSettings(if (traced) tracedSettings else settings)(pipeline(df, traced))
    }
    val s = stub.snapshot().minus(s0)
    val u = usageNow.zip(u0).map { case (a, b) => (a - b).toDouble }
    val l = LmProbe.snapshot().zip(l0).map { case (a, b) => (a - b).toDouble }
    cascade += check(keptRows, agg, top)
    bill += ((s.total.toDouble / n, (s.promptTokens + s.outputTokens).toDouble / n))
    Check(s.errors == 0, W, "stub", "-", s"${s.errors} LLM requests failed at the stub")
    if (traced) {
      val helper = s.matching(_ == "helper/filter").toDouble
      val oracleFilter = s.matching(_ == "oracle/filter").toDouble
      tracedStats += Map(
        "llm.requests" -> s.total.toDouble,
        "llm.requests_virtual" -> u(0),
        "llm.cache_hit_ratio" -> (if (u(1) + u(2) > 0) u(2) / (u(1) + u(2)) else 0.0),
        "llm.batches" -> l(0),
        "llm.batch_size_mean" -> (if (l(0) > 0) l(1) / l(0) else 0.0),
        "llm.complete_ms" -> l(2) / 1e6,
        "llm.stub_service_ms" -> (if (s.total > 0) s.serviceMs / s.total else 0.0),
        "llm.inflight_mean" -> (if (s.busyNs > 0) s.inflightNs.toDouble / s.busyNs else 0.0),
        "llm.inflight_peak" -> s.peak.toDouble,
        "llm.prompt_tokens" -> s.promptTokens.toDouble,
        "llm.output_tokens" -> s.outputTokens.toDouble,
        "llm.errors" -> (s.errors + l(3)),
        "llm.requests_per_row" -> s.total.toDouble / n,
        "llm.tokens_per_row" -> (s.promptTokens + s.outputTokens).toDouble / n,
        "cascade.helper_requests" -> helper,
        "cascade.oracle_requests" -> oracleFilter,
        "cascade.helper_resolved_ratio" -> (if (helper > 0) 1.0 - oracleFilter / helper else 0.0),
        "plan.rows_into_llm_ratio" -> intoLlm.toDouble / n,
        "op.sem_agg_requests" -> s.matching(_ == "oracle/agg").toDouble,
        "op.sem_topk_requests" -> s.matching(_ == "oracle/compare").toDouble)
    }
    sample
  }

  /** Outputs against the stub's answer functions applied to the generated
    * rows; the cascade against the exact filter. Precision must meet the
    * `CascadeArgs` target; recall is returned, not enforced — its target
    * holds only with probability 1 − failureProbability per learned
    * threshold pair. Returns the cascade's (recall, precision).
    */
  private def check(keptRows: Array[Row], agg: Array[Row], top: Array[Row]): (Double, Double) = {
    val ids = keptRows.map(_.getLong(0))
    Check(ids.distinct.length == ids.length, W, "SemPlan.run",
      ids.diff(ids.distinct).headOption.getOrElse(-1L), "review_id returned twice")
    keptRows.foreach { r =>
      val src = byId(r.getLong(0))
      Check(src.rating >= 3, W, "ClassicalFilter", src.id, s"rating ${src.rating} passed 'rating >= 3'")
      val toks = src.text.split("\\s+")
      Check(r.getString(3) == toks.head && r.getString(4) == toks.length.toString, W,
        "semExtract", src.id, s"extracted (${r.getString(3)}, ${r.getString(4)}), " +
          s"expected (${toks.head}, ${toks.length})")
    }
    val kept = ids.toSet
    val tp = (kept & exact).size.toDouble
    val precision = if (kept.isEmpty) 1.0 else tp / kept.size
    val recall = if (exact.isEmpty) 1.0 else tp / exact.size
    Check(precision >= graft.cascade.CascadeArgs().precisionTarget, W, "semFilterCascade",
      (kept -- exact).headOption.getOrElse(-1L), f"precision $precision%.3f below the target")

    val expectAgg = keptRows.groupBy(_.getString(1)).map { case (c, rs) =>
      c -> rs.map(_.getString(3)).sorted.toSeq }
    val gotAgg = agg.map(r => r.getString(0) -> r.getString(1).split("\n").sorted.toSeq).toMap
    Check(gotAgg.keySet == expectAgg.keySet, W, "semAgg",
      (gotAgg.keySet ++ expectAgg.keySet -- (gotAgg.keySet & expectAgg.keySet)).headOption.getOrElse("-"),
      "group set differs from the kept rows' categories")
    expectAgg.foreach { case (c, want) =>
      Check(gotAgg(c) == want, W, "semAgg", c, s"aggregate of ${want.length} values differs")
    }

    val expectTop = agg.map(_.getString(1)).sortBy(t => (-t.length, t)).take(10).toSeq
    val gotTop = top.sortBy(_.getInt(2))
    Check(gotTop.map(_.getInt(2)).toSeq == (1 to expectTop.length), W, "semTopK", "-",
      s"ranks ${gotTop.map(_.getInt(2)).mkString(",")}")
    gotTop.zip(expectTop).foreach { case (r, want) =>
      Check(r.getString(1) == want, W, "semTopK", r.getString(0), s"rank ${r.getInt(2)} differs")
    }
    (recall, precision)
  }

  private def f1(rp: (Double, Double)): Double =
    if (rp._1 + rp._2 == 0) 0.0 else 2 * rp._1 * rp._2 / (rp._1 + rp._2)

  def finalChecks(): Unit = ()

  def endToEnd(samples: Seq[OpSample]): Map[String, Double] = {
    val p50 = Stats.median(samples.map(_.ms))
    Map("items_per_s" -> n / (p50 / 1000.0), "op_p50_ms" -> p50,
      "quality_ratio" -> Stats.median(cascade.map(f1).toSeq))
  }

  def figures(samples: Seq[OpSample]): Map[String, Double] = {
    val p50 = Stats.median(samples.map(_.ms))
    Map("sem_rows_per_s" -> n / (p50 / 1000.0),
      "sem_llm_requests_per_row" -> Stats.median(bill.map(_._1).toSeq),
      "sem_llm_tokens_per_row" -> Stats.median(bill.map(_._2).toSeq),
      "cascade_recall" -> Stats.median(cascade.map(_._1).toSeq),
      "cascade_precision" -> Stats.median(cascade.map(_._2).toSeq),
      "cascade_f1" -> Stats.median(cascade.map(f1).toSeq),
      "cascade_recall_target_met" -> cascade.count(_._1 >= graft.cascade.CascadeArgs().recallTarget)
        .toDouble / math.max(1, cascade.length),
      "passes" -> samples.length.toDouble)
  }

  def layers(traced: Seq[OpSample]): Map[String, Double] = {
    val keys = tracedStats.flatMap(_.keys).distinct
    val avg = keys.map(k => k -> Stats.mean(tracedStats.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    val peak = tracedStats.map(_.getOrElse("llm.inflight_peak", 0.0)).maxOption.getOrElse(0.0)
    val spans = ctx.tracer.all.filter(_.name == "op.sem_filter")
    avg ++ Map("llm.inflight_peak" -> peak,
      "cascade.ms" -> Stats.mean(spans.map(_.durNs / 1e6)))
  }

  def teardown(): Unit = {
    if (stub != null) stub.stop()
    stub = null
    if (df != null) df.unpersist(blocking = true)
    df = null
  }
}
