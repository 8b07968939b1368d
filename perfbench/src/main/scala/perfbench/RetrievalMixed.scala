package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Sem
import graft.embed.{Embedder, HashingEmbedder, IvfIndex}
import graft.operators.{LexIndex, Lexical}

/** Latency-bound workload of many small jobs: a saved IVF vector index and
  * a saved BM25 index over a passage corpus, under a closed-loop mix of
  * 90% search operations and 10% writes (operations 3, 13, 23, …).
  *
  * A search operation sends one query, drawn from the seed, through all
  * three retrieval paths in turn: IVF text search, BM25 search, and their
  * RRF fusion — so every operation has the same make-up and its median is
  * steady over the few operations a short run holds. A write appends a
  * batch to both indexes, deletes a few ids from both, compacts both on
  * every third write, and reloads the IVF cells.
  */
final class RetrievalMixed(ctx: Ctx) extends Workload {
  private val W = "retrieval_mixed"
  private val n = if (ctx.tiny) 600 else 2000
  private val nCells = if (ctx.tiny) 8 else 32
  private val nProbe = if (ctx.tiny) 2 else 16
  private val recallQueries = if (ctx.tiny) 20 else 200
  private val warmUpSearches = if (ctx.tiny) 1 else 3
  private val appendBatch = 20
  private val deleteBatch = 5
  private val compactEvery = 3
  private var writes = 0
  private val emb = HashingEmbedder(256)
  private val timedEmb = TimedEmbedder(emb)

  private var dig = ""
  private var df: DataFrame = _
  private var ivfDir = ""
  private var lexDir = ""
  private var cells: DataFrame = _
  private var model: IvfIndex.IvfModel = _
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private val vecs = mutable.HashMap.empty[Long, Array[Float]]
  /** Per live doc: BM25 term frequencies and length (Lexical.tokens rules). */
  private val tfs = mutable.HashMap.empty[Long, (Map[String, Double], Double)]
  private val deleted = mutable.HashSet.empty[Long]
  private var nextId = 0L
  private var ops = 0L
  private var pendingTombstones = false
  private var rOps: Random = _
  private var words: Zipf = _
  private var terms: Zipf = _
  private var recall = 0.0
  private var buildMs = (0.0, 0.0)
  private val writeStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val resultCounts = mutable.Map("ivf.search" -> 0L, "lex.search" -> 0L)

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def sizes: Map[String, Any] = Map("base_docs" -> n, "ivf_cells" -> nCells, "ivf_probes" -> nProbe,
    "embedding_dim" -> emb.dim, "write_every" -> "operation 3, 13, 23, ...",
    "search_operation" -> "one query through IVF, BM25 and RRF fusion", "append_batch" -> appendBatch,
    "delete_batch" -> deleteBatch, "compact_every_writes" -> compactEvery,
    "query_terms" -> "2-3, Zipf(1.0) over vocabulary ranks >= 10",
    "recall_queries" -> recallQueries)

  def digest: String = dig

  private def frame(ps: Seq[Gen.Passage]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      ps.map(p => Row(p.id, p.text)), math.max(1, math.min(ctx.nproc, ps.length))), schema)

  private def embedder(traced: Boolean): Embedder = if (traced) timedEmb else emb

  def setup(): Unit = {
    val r = new Random(ctx.seed)
    words = new Zipf(Gen.retrievalVocab.length, 1.05)
    terms = new Zipf(Gen.retrievalVocab.length - 10, 1.0)
    val base = (0 until n).map(i => Gen.passage(i.toLong, r, words))
    val d = new Digest
    base.foreach(p => d.add(p.id, p.text))
    rOps = new Random(ctx.seed * 31L + 7L)
    dig = d.hex
    live.clear(); vecs.clear(); deleted.clear(); tfs.clear()
    base.foreach(addLive)
    emb.embed(base.map(_.text)).zip(base).foreach { case (v, p) => vecs(p.id) = v }
    nextId = n.toLong
    writes = 0
    ops = 0L
    pendingTombstones = false
    df = frame(base).cache()
    df.count()
    ivfDir = ctx.freshDir("ivf")
    lexDir = ctx.freshDir("lex")
    Sem.withEmbedder(emb) {
      val t0 = System.nanoTime()
      val (indexed, m) = IvfIndex.build(df, "text", nCells)
      IvfIndex.save(indexed, m, "text", "doc_id", ivfDir)
      indexed.unpersist(blocking = true)
      val t1 = System.nanoTime()
      LexIndex.save(df, "text", "doc_id", lexDir)
      buildMs = ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }
    reload()
  }

  /** Each kind of operation through the same ground-truth checks: a search
    * (its BM25 checked while no delete is pending), a write, then more
    * searches. The first search after a write reads the reloaded indexes
    * and was the slowest of its run, and so were the first searches after
    * start-up; ending on searches keeps both out of the timed phase.
    */
  def warmUp(): Unit = Sem.withEmbedder(emb) {
    search(Gen.query(rOps, terms), traced = false)
    write(traced = false)
    (1 until warmUpSearches).foreach(_ => search(Gen.query(rOps, terms), traced = false))
  }

  private def reload(): Unit = {
    val (c, m) = IvfIndex.load(ctx.spark, ivfDir)
    cells = c
    model = m
  }

  private def ivfSearch(q: String, k: Int, probes: Int): DataFrame =
    IvfIndex.searchText(cells, model, "text", q, k, probes, tieBreak = Seq(col("doc_id")))

  def runOp(traced: Boolean): OpSample = Sem.withEmbedder(embedder(traced)) {
    ops += 1
    if (ops % 10 == 3) write(traced)
    else search(Gen.query(rOps, terms), traced)
  }

  private def search(q: String, traced: Boolean): OpSample = {
    val ((ivf, lex, fused), s) = ctx.timed("search", traced) {
      val ivf = ctx.span("embed", "ivf.search")(ivfSearch(q, 10, nProbe).select("doc_id").collect())
      val lex = ctx.span("embed", "lex.search")(LexIndex.search(ctx.spark, lexDir, q, 10).collect())
      val fused = ctx.span("embed", "hybrid.search") {
        Lexical.rrfFuse(Seq(
          ivfSearch(q, 10, nProbe).select(col("doc_id").as("id"), col("vec_scores").as("score")),
          LexIndex.search(ctx.spark, lexDir, q, 10).select(col("id"), col("bm25").as("score"))),
          "id", "score", topK = 10).collect()
      }
      (ivf, lex, fused)
    }
    checkIds("IvfIndex.searchText", q, ivf.map(_.getLong(0)).toSeq)
    checkIds("LexIndex.search", q, lex.map(_.getLong(0)).toSeq)
    checkIds("Lexical.rrfFuse", q, fused.map(_.getLong(0)).toSeq)
    if (!pendingTombstones) checkBm25(q, lex.map(x => (x.getLong(0), x.getDouble(1))).toSeq)
    if (traced) {
      resultCounts("ivf.search") += ivf.length
      resultCounts("lex.search") += lex.length
    }
    s
  }

  private def checkIds(op: String, q: String, ids: Seq[Long]): Unit = {
    Check(ids.length <= 10 && ids.distinct.length == ids.length, W, op, q, s"bad result list $ids")
    ids.foreach { id =>
      Check(!deleted.contains(id), W, op, id, s"deleted id returned for query '$q'")
      Check(live.contains(id), W, op, id, s"unknown id returned for query '$q'")
    }
  }

  /** Mean recall@10 of the IVF index (at the workload's probe count)
    * against exact cosine top-10 over the live documents, on a seeded query
    * sample searched in one batch.
    */
  private def ivfRecall(): Double = {
    val r = new Random(ctx.seed * 131L + 5L)
    val qs = (0 until recallQueries).map(i => (i.toLong, Gen.query(r, terms)))
    val qvs = emb.embed(qs.map(_._2))
    val qdf = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      qs.zip(qvs).map { case ((i, _), v) => Row(i, v.toSeq) }, 1),
      StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType, false)))))
    val got = IvfIndex.searchBatch(cells, model, "text", qdf, "qid", "qvec", 10, nProbe,
      tieBreak = Seq(col("doc_id"))).select("qid", "doc_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val all = vecs.toArray
    Stats.mean(qs.zip(qvs).map { case ((qid, _), qv) =>
      val exact = all.map { case (id, v) =>
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i).toDouble * qv(i); i += 1 }
        (id, dot)
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
      (exact.toSet & got.getOrElse(qid, Set.empty[Long])).size.toDouble / math.max(1, exact.length)
    })
  }

  private def files(): Long = Isolation.du(ivfDir)._2 + Isolation.du(lexDir)._2

  /** One write: append a batch to both indexes, delete a few live ids
    * from both, and on every third write compact both into fresh
    * directories; then reload the IVF cells. Appended docs must be findable
    * afterwards (checked outside the timing window).
    */
  private def write(traced: Boolean): OpSample = {
    val r = new Random(nextId)
    val batch = (0 until appendBatch).map(i => Gen.passage(nextId + i, r, words))
    nextId += appendBatch
    val bdf = frame(batch).cache()
    bdf.count()
    val ids = rOps.shuffle(live.keys.toVector).take(deleteBatch)
    val idf = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      ids.map(Row(_)), 1), StructType(Seq(StructField("doc_id", LongType))))
    writes += 1
    val compact = writes % compactEvery == 0
    val (oldIvf, oldLex) = (ivfDir, lexDir)
    val (newIvf, newLex) = (ctx.freshDir("ivf"), ctx.freshDir("lex"))
    val files0 = files()
    val (_, s) = ctx.timed("write", traced) {
      ctx.span("embed", "ivf.append")(IvfIndex.append(bdf, "text", "doc_id", ivfDir))
      ctx.span("embed", "lex.append")(LexIndex.append(bdf, "text", "doc_id", lexDir))
      ctx.span("embed", "ivf.delete")(IvfIndex.delete(idf, "doc_id", ivfDir))
      ctx.span("embed", "lex.delete")(LexIndex.delete(idf, "doc_id", lexDir))
      if (compact) compactBoth(newIvf, newLex)
      ctx.span("embed", "ivf.load")(reload())
    }
    bdf.unpersist(blocking = true)
    if (traced) writeStats += Map("files" -> (files() - files0).toDouble,
      "input_bytes" -> batch.map(_.text.getBytes("UTF-8").length.toDouble).sum)
    batch.foreach(addLive)
    emb.embed(batch.map(_.text)).zip(batch).foreach { case (v, p) => vecs(p.id) = v }
    ids.foreach { id => live.remove(id); vecs.remove(id); tfs.remove(id); deleted += id }
    pendingTombstones = !compact
    if (compact) { Isolation.deleteTree(oldIvf); Isolation.deleteTree(oldLex) }
    // Appended ids are findable: the id token lexically, the text by vector.
    val probe = batch(r.nextInt(batch.length))
    val lex = LexIndex.search(ctx.spark, lexDir, s"d${probe.id}", 1).collect().map(_.getLong(0))
    Check(lex.sameElements(Seq(probe.id)), W, "LexIndex.append", probe.id,
      s"appended doc not found by its id token (got ${lex.mkString(",")})")
    val vec = ivfSearch(probe.text, 10, model.nCells).select("doc_id").collect().map(_.getLong(0))
    Check(vec.contains(probe.id), W, "IvfIndex.append", probe.id,
      "appended doc not found by an exhaustive IVF search over its own text")
    s
  }

  /** Compact both indexes into fresh directories (never in place). */
  private def compactBoth(newIvf: String, newLex: String): Unit = {
    ctx.span("embed", "ivf.compact")(IvfIndex.compactDeletes(ctx.spark, ivfDir, newIvf))
    ctx.span("embed", "lex.compact")(LexIndex.compactDeletes(ctx.spark, lexDir, newLex))
    ivfDir = newIvf
    lexDir = newLex
  }

  /** After the timed phase: compact pending deletes, measure IVF recall,
    * and compare BM25 top-10 on a few more queries with a from-scratch BM25.
    */
  def finalChecks(): Unit = {
    if (pendingTombstones) {
      val (oldIvf, oldLex) = (ivfDir, lexDir)
      compactBoth(ctx.freshDir("ivf"), ctx.freshDir("lex"))
      Isolation.deleteTree(oldIvf)
      Isolation.deleteTree(oldLex)
      pendingTombstones = false
      reload()
    }
    recall = ivfRecall()
    val r = new Random(ctx.seed * 97L + 3L)
    (0 until 3).foreach { _ =>
      val q = Gen.query(r, terms)
      checkBm25(q, LexIndex.search(ctx.spark, lexDir, q, 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq)
    }
  }

  private def addLive(p: Gen.Passage): Unit = {
    live(p.id) = p.text
    val toks = p.text.toLowerCase.trim.split("\\s+")
    tfs(p.id) = (toks.groupBy(identity).map { case (w, xs) => w -> xs.length.toDouble },
      toks.length.toDouble)
  }

  /** `got` (BM25 top-10 from the index) against a from-scratch BM25 over
    * the live documents (k1 = 1.2, b = 0.75, Lucene idf); valid while no
    * delete awaits compaction (the index keeps collection stats stale until
    * then, by design).
    */
  private def checkBm25(q: String, got: Seq[(Long, Double)]): Unit = {
    val qt = Lexical.queryTerms(q)
    val nDocs = tfs.size.toDouble
    val avgdl = tfs.valuesIterator.map(_._2).sum / nDocs
    val df = qt.map(t => t -> tfs.valuesIterator.count(_._1.contains(t)).toDouble).toMap
    val expect = tfs.iterator.flatMap { case (id, (tf, dl)) =>
      val s = qt.filter(tf.contains).map { t =>
        val f = tf(t)
        math.log(1.0 + (nDocs - df(t) + 0.5) / (df(t) + 0.5)) * f * 2.2 /
          (f + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      }
      if (s.isEmpty) None else Some((id, s.sum))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    Check(got.length == expect.length, W, "LexIndex.search", q,
      s"${got.length} results, from-scratch BM25 has ${expect.length}")
    got.zip(expect).zipWithIndex.foreach { case (((gid, gs), (eid, es)), i) =>
      val tied = expect.count { case (_, s) => math.abs(s - es) <= 1e-9 * math.abs(es) } > 1
      Check(math.abs(gs - es) <= 1e-9 * math.max(1.0, math.abs(es)) && (gid == eid || tied), W,
        "LexIndex.search", gid, f"rank ${i + 1} for '$q': ($gid, $gs%.9f) vs from-scratch ($eid, $es%.9f)")
    }
  }

  /** Operations per second of the 90/10 search/write mix, from the median
    * wall of each kind. A short run holds one write in five or six
    * operations, so its raw count mixes the kinds in a ratio that depends on
    * how many searches fitted.
    */
  private def mixPerS(samples: Seq[OpSample]): Double = {
    def med(kind: String) = Stats.median(samples.filter(_.kind == kind).map(_.ms))
    1000.0 / (0.9 * med("search") + 0.1 * med("write"))
  }

  def endToEnd(samples: Seq[OpSample]): Map[String, Double] = {
    val searches = samples.filter(_.kind == "search").map(_.ms)
    Map("items_per_s" -> mixPerS(samples),
      "op_p50_ms" -> Stats.median(searches),
      "quality_ratio" -> recall)
  }

  def figures(samples: Seq[OpSample]): Map[String, Double] = {
    val searches = samples.filter(_.kind == "search").map(_.ms)
    val writeMs = samples.filter(_.kind == "write").map(_.ms)
    Map("index_build_s" -> (buildMs._1 + buildMs._2) / 1000.0,
      "search_p50_ms" -> Stats.median(searches), "search_p90_ms" -> Stats.quantile(searches, 0.9),
      "searches" -> searches.length.toDouble, "write_p50_ms" -> Stats.median(writeMs),
      "writes" -> writeMs.length.toDouble, "search_recall_at_10" -> recall,
      "index_bytes_per_doc" ->
        (Isolation.du(ivfDir)._1 + Isolation.du(lexDir)._1).toDouble / math.max(1, live.size),
      "ops_per_s" -> mixPerS(samples))
  }

  def layers(traced: Seq[OpSample]): Map[String, Double] = {
    val t = ctx.tracer
    val nOps = math.max(1, traced.length).toDouble
    val appends = math.max(1, t.all.count(_.name == "ivf.append")).toDouble
    val compactions = math.max(1, t.all.count(_.name == "ivf.compact")).toDouble
    def readPerResult(name: String): Double =
      Layers.tasksUnder(t, ctx.probe, name).map(_.recordsRead).sum.toDouble /
        math.max(1L, resultCounts(name))
    def written(names: String*): Double =
      names.map(n => Layers.tasksUnder(t, ctx.probe, n).map(_.bytesWritten).sum).sum.toDouble
    val inBytes = writeStats.map(_("input_bytes")).sum
    Map("ivf.build_ms" -> buildMs._1, "lex.save_ms" -> buildMs._2,
      "embed.texts" -> EmbedProbe.texts.get / nOps, "embed.ms" -> EmbedProbe.nanos.get / 1e6 / nOps,
      "ivf.rows_read_per_result" -> readPerResult("ivf.search"),
      "lex.rows_read_per_result" -> readPerResult("lex.search"),
      "commit.bytes_written_per_input_byte" ->
        (if (inBytes > 0) written("ivf.append", "lex.append") / inBytes else 0.0),
      "commit.files_per_write" -> writeStats.map(_("files")).sum / appends,
      "compact.bytes_rewritten" -> written("ivf.compact", "lex.compact") / compactions)
  }

  def teardown(): Unit = {
    if (df != null) df.unpersist(blocking = true)
    df = null
    Seq(ivfDir, lexDir).filter(_.nonEmpty).foreach(Isolation.deleteTree)
  }
}
