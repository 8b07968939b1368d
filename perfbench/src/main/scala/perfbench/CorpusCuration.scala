package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{LookupExprs, MinHashExpr, TextFunctions, UrlExpr, VectorExprs}
import graft.operators.{CorpusPrep, Dedup, NgramLm}

/** The custom codegen Expressions the curation recipe calls, each timed on
  * its own over the cached generated frame in the traced run.
  */
object Kernels {
  val names: Seq[String] = Seq("url_normalize", "minhash_signature", "shingle_hashes",
    "ngram_repetition", "word_entropy", "long_set_jaccard", "trigram_key_counts",
    "trigram_lm_score")
}

/** CPU- and shuffle-bound workload with no LLM calls: a web-like corpus
  * through URL normalization and dedup, a quality-statistics filter,
  * MinHash near-duplicate removal, trigram-LM perplexity scoring and a
  * language-partitioned write.
  *
  * One operation = the whole recipe over the whole corpus, ending in the
  * write.
  */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val W = "corpus_curation"
  private val n = if (ctx.tiny) 400 else 1500
  private val threshold = 0.8

  private var docs: Vector[Gen.Doc] = Vector.empty
  private var byId: Map[Long, Gen.Doc] = Map.empty
  private var df: DataFrame = _
  private var ref: DataFrame = _
  private var dig = ""
  private val recalls = ArrayBuffer.empty[Double]
  private val tracedStats = ArrayBuffer.empty[Map[String, Double]]
  private var kernelRates: Map[String, Double] = Map.empty

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("url", StringType), StructField("lang", StringType),
    StructField("text", StringType)))

  def sizes: Map[String, Any] = Map("docs" -> n, "languages" -> Gen.langSyl.length,
    "near_dup_share" -> 0.15, "url_dup_share" -> 0.03, "spam_share" -> 0.05,
    "boilerplate_share_of_originals" -> 0.10, "jaccard_threshold" -> threshold)

  def digest: String = dig

  def setup(): Unit = {
    docs = Gen.corpus(ctx.seed, n)
    val d = new Digest
    docs.foreach(x => d.add(x.id, x.url, x.lang, x.text))
    dig = d.hex
    byId = docs.map(x => x.id -> x).toMap
    df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      docs.map(x => Row(x.id, x.url, x.lang, x.text)), ctx.nproc), schema).cache()
    df.count()
    // The reference slice the trigram LM is fitted on: the first tenth.
    ref = df.filter(col("doc_id") < n / 10).cache()
    ref.count()
  }

  def warmUp(): Unit = {
    val warm = ctx.freshDir("warm")
    recipe(df.filter(col("doc_id") < 300), warm, traced = false)
    Isolation.deleteTree(warm)
  }

  private def staged(d: DataFrame, traced: Boolean): DataFrame =
    if (traced) d.localCheckpoint(eager = true) else d

  /** The recipe; traced runs force each step's output inside its span. */
  private def recipe(input: DataFrame, out: String,
      traced: Boolean): Option[(DataFrame, DataFrame)] = {
    val urlDedup = ctx.span("operators", "op.url_dedup") {
      staged(input.withColumn("url_norm", UrlExpr.urlNormalize(col("url")))
        .withColumn("__first", min(col("doc_id")).over(Window.partitionBy("url_norm")))
        .filter(col("doc_id") === col("__first"))
        .drop("__first", "url_norm"), traced)
    }
    val quality = ctx.span("operators", "op.quality") {
      staged(urlDedup.filter(TextFunctions.wordEntropy(col("text")) > 2.5 &&
        TextFunctions.dupNgramFraction(col("text"), 3) < 0.5), traced)
    }
    val (pairs, rawPairs) = ctx.span("operators", "op.minhash_pairs") {
      val raw = Dedup.minhashPairs(quality, "text", "doc_id", threshold = threshold)
      (staged(raw, traced), raw)
    }
    val deduped = ctx.span("operators", "op.components") {
      staged(Dedup.dropDuplicatesByPairs(quality, "doc_id", pairs), traced)
    }
    val model = ctx.span("operators", "op.ngram_fit")(NgramLm.fitTrigramLM(ref, "text"))
    val scored = ctx.span("operators", "op.ngram_score") {
      staged(NgramLm.perplexity(deduped, "text", model), traced)
    }
    ctx.span("operators", "op.write") {
      CorpusPrep.writeCorpus(scored.select("doc_id", "url", "lang", "text", "ppl"), out, Seq("lang"))
    }
    if (traced) Some((pairs, rawPairs)) else None
  }

  def runOp(traced: Boolean): OpSample = {
    val out = ctx.freshDir("corpus")
    val (pairs, sample) = ctx.timed("recipe", traced)(recipe(df, out, traced))
    val written = ctx.spark.read.parquet(out).select("doc_id", "lang", "ppl").collect()
    recalls += check(written)
    pairs.foreach { case (p, raw) =>
      val verified = p.count().toDouble
      val cand = PlanMetrics.candidatePairs(raw)
      tracedStats += Map("dedup.candidate_pairs" -> cand, "dedup.verified_pairs" -> verified,
        "dedup.verified_ratio" -> (if (cand > 0) verified / cand else 0.0))
    }
    Isolation.deleteTree(out)
    sample
  }

  /** Checks the written corpus against the generator's roles; returns the
    * near-duplicate recall (planted pairs caught / planted).
    */
  private def check(written: Array[Row]): Double = {
    val ids = written.map(_.getLong(0))
    Check(ids.distinct.length == ids.length, W, "writeCorpus",
      ids.diff(ids.distinct).headOption.getOrElse(-1L), "doc written twice")
    val kept = ids.toSet
    written.foreach { r =>
      val d = byId(r.getLong(0))
      Check(r.getString(1) == d.lang, W, "writeCorpus", d.id, s"lang partition ${r.getString(1)} != ${d.lang}")
      Check(!r.isNullAt(2) && r.getDouble(2) > 0 && !r.getDouble(2).isInfinite, W,
        "NgramLm.perplexity", d.id, s"perplexity ${r.get(2)}")
    }
    var planted = 0
    var caught = 0
    docs.foreach { d =>
      d.role match {
        case Gen.Role.Original =>
          Check(kept.contains(d.id), W, "recipe", d.id, "an original document was dropped")
        case Gen.Role.UrlDup =>
          Check(!kept.contains(d.id), W, "urlNormalize/url dedup", d.id,
            s"URL variant of doc ${d.source} survived")
        case Gen.Role.Spam =>
          Check(!kept.contains(d.id), W, "quality filter", d.id, "repetitive document survived")
        case Gen.Role.NearDup =>
          planted += 1
          if (!kept.contains(d.id)) {
            caught += 1
            val partner = byId(d.source)
            val j = Gen.jaccard(Gen.shingles(d.text), Gen.shingles(partner.text))
            Check(kept.contains(partner.id) && j >= threshold, W, "Dedup.dropDuplicatesByPairs",
              d.id, f"dropped without a kept partner at Jaccard >= $threshold (doc ${partner.id}: $j%.3f)")
          }
      }
    }
    if (planted == 0) 1.0 else caught.toDouble / planted
  }

  def finalChecks(): Unit = ()

  def endToEnd(samples: Seq[OpSample]): Map[String, Double] = {
    val p50 = Stats.median(samples.map(_.ms))
    Map("items_per_s" -> n / (p50 / 1000.0), "op_p50_ms" -> p50,
      "quality_ratio" -> Stats.median(recalls.toSeq))
  }

  def figures(samples: Seq[OpSample]): Map[String, Double] = {
    val p50 = Stats.median(samples.map(_.ms))
    Map("curation_docs_per_s" -> n / (p50 / 1000.0),
      "curation_dup_recall" -> Stats.median(recalls.toSeq),
      "passes" -> samples.length.toDouble)
  }

  def layers(traced: Seq[OpSample]): Map[String, Double] = {
    if (kernelRates.isEmpty) kernelRates = timeKernels()
    val keys = tracedStats.flatMap(_.keys).distinct
    keys.map(k => k -> Stats.mean(tracedStats.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
      kernelRates.map { case (k, v) => s"kernel.$k.rows_per_s" -> v } ++
      Map("commit.bytes_written_per_input_byte" -> {
        val inBytes = docs.map(_.text.length.toDouble).sum
        Layers.tasksUnder(ctx.tracer, ctx.probe, "op.write").map(_.bytesWritten).sum.toDouble /
          math.max(1, ctx.tracer.all.count(_.name == "op.write")) / inBytes
      })
  }

  /** Rows per second of each custom Expression alone over a cached frame
    * holding its inputs (median of three evaluations).
    */
  private def timeKernels(): Map[String, Double] = {
    val model = NgramLm.fitTrigramLM(ref, "text")
    val words = split(trim(col("text")), "\\s+")
    val lowerWords = split(lower(trim(col("text"))), "\\s+")
    val base = df.select(col("doc_id"), col("url"), words.as("w"), lowerWords.as("lw"),
      sort_array(array_distinct(MinHashExpr.shingleHashes(words, 3))).as("sh")).cache()
    val rows = base.count()
    val paired = base.select(col("doc_id"), col("sh"))
      .join(base.select((col("doc_id") - 1).as("doc_id"), col("sh").as("sh2")), "doc_id").cache()
    val pairRows = paired.count()
    def rate(frame: DataFrame, nRows: Long, e: Column): Double = {
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        frame.select(e.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      nRows / Stats.median(times)
    }
    val out = Map(
      "url_normalize" -> rate(base, rows, UrlExpr.urlNormalize(col("url"))),
      "minhash_signature" -> rate(base, rows, MinHashExpr.minhashSignature(col("w"), 3, 64)),
      "shingle_hashes" -> rate(base, rows, MinHashExpr.shingleHashes(col("w"), 3)),
      "ngram_repetition" -> rate(base, rows, MinHashExpr.ngramRepetition(col("lw"), 3)),
      "word_entropy" -> rate(base, rows, MinHashExpr.wordEntropy(col("lw"))),
      "long_set_jaccard" -> rate(paired, pairRows, VectorExprs.longSetJaccard(col("sh"), col("sh2"))),
      "trigram_key_counts" -> rate(base, rows,
        LookupExprs.trigramKeyCounts(col("lw"), model.vocab, model.unkId, model.bosId)),
      "trigram_lm_score" -> rate(base, rows, LookupExprs.trigramLmScore(col("lw"), model.vocab,
        model.uniProb, model.bigramPml, model.trigramPml, model.lambda1, model.lambda2, model.bosId)))
    paired.unpersist(blocking = true)
    base.unpersist(blocking = true)
    out
  }

  def teardown(): Unit = {
    Seq(ref, df).foreach(f => if (f != null) f.unpersist(blocking = true))
    df = null
    ref = null
  }
}
