package perfbench

import scala.util.Random

/** Zipf(s) sampler over ranks `0 until n` by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Running SHA-256 over generated rows: the input digest of a record. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(fields: Any*): Unit = fields.foreach { f =>
    md.update(String.valueOf(f).getBytes("UTF-8")); md.update(0.toByte)
  }
  def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
}

/** Seeded input generators. The vocabularies are fixed pseudo-words (the
  * same for every seed); the seed drives every draw from them, so the same
  * seed yields byte-identical inputs and another seed different ones.
  */
object Gen {

  /** `n` distinct pronounceable pseudo-words of 1–4 syllables from `syl`. */
  def vocabulary(syl: Seq[String], n: Int, salt: Long): Array[String] = {
    require(n <= (1 to 4).map(k => math.pow(syl.length, k)).sum / 2,
      s"vocabulary of $n words from only ${syl.length} syllables")
    val r = new Random(salt)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val k = 1 + r.nextInt(4)
      out += (0 until k).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    out.toArray
  }

  private val enSyl = Seq("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ven", "dor",
    "al", "ex", "in", "um", "ber", "sa", "fi", "go", "har", "ti", "wo", "zu", "pe", "qua")

  /** Languages of the curation corpus, each with its own syllable set. */
  val langSyl: Seq[(String, Seq[String])] = Seq(
    "en" -> enSyl,
    "de" -> Seq("sch", "ei", "ber", "gen", "ung", "ach", "lie", "wer", "sta", "keit", "zu", "mal"),
    "es" -> Seq("ar", "ci", "on", "el", "do", "ra", "mos", "que", "lla", "ta", "ri", "bue"),
    "fr" -> Seq("eau", "oir", "ment", "pre", "qui", "lle", "ous", "rai", "ble", "tion", "gu", "ve"),
    "it" -> Seq("zio", "gli", "sco", "tto", "ani", "ore", "ppa", "llo", "ci", "mente", "sta", "vo"))

  /** Word shingles (sliding `k`-word windows) — the same shingling
    * `Dedup.minhashPairs` applies (whitespace split, 3-word windows).
    */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val w = text.trim.split("\\s+")
    if (w.length <= k) Set(w.mkString(" "))
    else w.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  // ---------------------------------------------------------------- reviews

  final case class Review(id: Long, category: String, rating: Int, text: String)

  val ReviewKeyword = "delay"
  private lazy val reviewVocab = vocabulary(enSyl, 3000, 11L).filterNot(_ == ReviewKeyword)

  /** `n` flags, exactly `round(share × n)` of them set, in seeded order. */
  private def exactly(r: Random, n: Int, share: Double): Array[Boolean] =
    r.shuffle(Vector.tabulate(n)(_ < math.round(share * n))).toArray

  /** Review table: Zipf-skewed categories, ratings 1–5 in equal shares,
    * 20–120 word texts from a Zipf vocabulary; exactly `repeatShare` of
    * rows repeat an earlier row's text and exactly `keywordShare` of the
    * fresh texts mention [[ReviewKeyword]].
    */
  def reviews(seed: Long, n: Int, nCategories: Int = 50, repeatShare: Double = 0.25,
      keywordShare: Double = 0.3): Vector[Review] = {
    val r = new Random(seed)
    val words = new Zipf(reviewVocab.length, 1.05)
    val cats = new Zipf(nCategories, 0.8)
    val repeat = exactly(r, n, repeatShare)
    repeat(0) = false
    val keyword = exactly(r, n, keywordShare)
    val ratings = r.shuffle(Vector.tabulate(n)(i => 1 + i % 5))
    val texts = new Array[String](n)
    Vector.tabulate(n) { i =>
      texts(i) =
        if (repeat(i)) texts(r.nextInt(i))
        else {
          val len = 20 + r.nextInt(101)
          val w = Array.fill(len)(reviewVocab(words.sample(r)))
          if (keyword(i)) w(r.nextInt(len)) = ReviewKeyword
          w.mkString(" ")
        }
      Review(i.toLong, f"c${cats.sample(r)}%02d", ratings(i), texts(i))
    }
  }

  // ----------------------------------------------------------------- corpus

  object Role extends Enumeration { val Original, NearDup, UrlDup, Spam = Value }

  final case class Doc(id: Long, url: String, lang: String, text: String,
      role: Role.Value, source: Long)

  private lazy val langVocab: Map[String, Array[String]] =
    langSyl.zipWithIndex.map { case ((l, syl), i) => l -> vocabulary(syl, 4000, 100L + i) }.toMap

  private lazy val boilerplate: String = {
    val r = new Random(7L)
    Array.fill(25)(langVocab("en")(r.nextInt(200))).mkString(" ")
  }

  /** Web-like corpus. Roles, in exact shares: `NearDup` (15%) — an earlier
    * original with ~2% of its words replaced, true 3-shingle Jaccard to its
    * source ≥ `minDupJaccard` (re-drawn until it is); `UrlDup` (3%) — a
    * fresh text under a variant spelling of an earlier original's URL (same
    * normal form); `Spam` (5%) — a short phrase repeated; `Original` (the
    * rest; 50–400 words, 5 languages, URLs over Zipf-skewed domains, 10%
    * end in a shared boilerplate span). Every NearDup/UrlDup id exceeds its
    * source's id; a NearDup/UrlDup drawn before any original is an original.
    */
  def corpus(seed: Long, n: Int, minDupJaccard: Double = 0.85): Vector[Doc] = {
    val r = new Random(seed)
    // Roles in exact shares (0 near-dup, 1 URL variant, 2 spam, 3 original).
    val roles = r.shuffle(Vector.tabulate(n) { i =>
      if (i < math.round(0.15 * n)) 0 else if (i < math.round(0.18 * n)) 1
      else if (i < math.round(0.23 * n)) 2 else 3
    })
    val domains = new Zipf(300, 1.1)
    val langs = new Zipf(langSyl.length, 0.7)
    val wordZipf = new Zipf(4000, 1.05)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    def freshText(lang: String, minW: Int, maxW: Int): String = {
      val v = langVocab(lang)
      Array.fill(minW + r.nextInt(maxW - minW + 1))(v(wordZipf.sample(r))).mkString(" ")
    }
    for (i <- 0 until n) {
      val id = i.toLong
      val role = roles(i)
      if (originals.nonEmpty && role == 0) {
        val src = docs(originals(r.nextInt(originals.length)))
        val srcSh = shingles(src.text)
        var text = ""
        var tries = 0
        while (text.isEmpty || jaccard(shingles(text), srcSh) < minDupJaccard) {
          val w = src.text.split(" ")
          val m = math.max(1, ((w.length - 2) * 0.02).toInt)
          (0 until m).foreach(_ => w(r.nextInt(w.length)) = langVocab(src.lang)(wordZipf.sample(r)))
          text = w.mkString(" ")
          tries += 1
          require(tries < 100, s"near-dup generation stalled for source ${src.id}")
        }
        docs += Doc(id, s"https://mirror${r.nextInt(1000)}.example.net/copy/$id", src.lang,
          text, Role.NearDup, src.id)
      } else if (originals.nonEmpty && role == 1) {
        val src = docs(originals(r.nextInt(originals.length)))
        docs += Doc(id, urlVariant(src.url, r), src.lang, freshText(src.lang, 50, 400),
          Role.UrlDup, src.id)
      } else if (role == 2) {
        val lang = langSyl(langs.sample(r))._1
        val phrase = Array.fill(6)(langVocab(lang)(r.nextInt(4000)))
        val reps = (60 + r.nextInt(141)) / 6
        docs += Doc(id, s"https://spam${r.nextInt(50)}.example.org/p/$id", lang,
          Seq.fill(reps)(phrase.mkString(" ")).mkString(" "), Role.Spam, -1L)
      } else {
        val lang = langSyl(langs.sample(r))._1
        val body = freshText(lang, 50, 400)
        val text = if (r.nextDouble() < 0.10) body + " " + boilerplate else body
        val dom = s"site${domains.sample(r)}.example.com"
        val url = if (r.nextDouble() < 0.1) s"https://u$id.$dom/"
                  else s"https://$dom/${lang}/page?id=$id&lang=$lang"
        docs += Doc(id, url, lang, text, Role.Original, -1L)
        originals += i
      }
    }
    docs.toVector
  }

  /** A different spelling of `url` with the same normal form: upper-cased
    * scheme/host, a `#fragment`, tracking parameters, reordered parameters,
    * an explicit default port.
    */
  private def urlVariant(url: String, r: Random): String = {
    val (scheme, rest) = url.splitAt(url.indexOf("://"))
    val afterScheme = rest.drop(3)
    val slash = afterScheme.indexOf('/')
    val host = afterScheme.substring(0, slash)
    val tail = afterScheme.substring(slash)
    val q = tail.indexOf('?')
    val path = if (q < 0) tail else tail.substring(0, q)
    val params = if (q < 0) Seq.empty[String] else tail.substring(q + 1).split('&').toSeq
    val hostV = if (r.nextBoolean()) host.toUpperCase else host + ":443"
    val extra = Seq(s"utm_source=feed${r.nextInt(9)}", "fbclid=x" + r.nextInt(99))
      .take(1 + r.nextInt(2))
    val allParams = r.shuffle(params ++ extra)
    val frag = if (r.nextBoolean()) "#section" + r.nextInt(5) else ""
    scheme.toUpperCase + "://" + hostV + path + allParams.mkString("?", "&", "") + frag
  }

  // -------------------------------------------------------------- retrieval

  final case class Passage(id: Long, text: String)

  lazy val retrievalVocab: Array[String] = vocabulary(enSyl, 5000, 23L)

  /** One passage: 30–120 Zipf words plus its own id token `d<id>` (a rare
    * term, as names and numbers are in real text), so a lexical search can
    * address a single document.
    */
  def passage(id: Long, r: Random, words: Zipf): Passage = {
    val len = 30 + r.nextInt(91)
    val w = Array.fill(len)(retrievalVocab(words.sample(r)))
    w(r.nextInt(len)) = s"d$id"
    Passage(id, w.mkString(" "))
  }

  /** Queries of 2–3 terms, Zipf-skewed over the vocabulary ranks past the
    * 10 most frequent words (those behave as stopwords).
    */
  def query(r: Random, terms: Zipf): String =
    Seq.fill(2 + r.nextInt(2))(retrievalVocab(10 + terms.sample(r))).distinct.mkString(" ")
}
