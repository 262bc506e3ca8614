package perfbench

import scala.collection.mutable

/** Seeded input generators for the three workloads, plus the plain-Scala
  * models the benchmark checks the program's outputs against. Nothing here
  * touches Spark: the same seed gives the same inputs on any machine.
  */
object Gen {

  /** A splitmix64-seeded generator for stream `stream` of run seed `seed`,
    * so every page/batch/op is reproducible on its own, independent of how
    * many came before it in a run.
    */
  def rng(seed: Long, stream: Long): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def jsonOpt(s: Option[String]): String = s.map(jsonString).getOrElse("null")

  // ---- news_ingest -----------------------------------------------------------

  final case class Article(source: Option[String], author: Option[String],
      title: Option[String], description: String, url: Option[String],
      urlToImage: String, publishedAt: Option[String], content: String) {
    def json: String =
      s"""{"source":{"name":${jsonOpt(source)}},"author":${jsonOpt(author)},""" +
        s""""title":${jsonOpt(title)},"description":${jsonString(description)},""" +
        s""""url":${jsonOpt(url)},"urlToImage":${jsonString(urlToImage)},""" +
        s""""publishedAt":${jsonOpt(publishedAt)},"content":${jsonString(content)}}"""
  }

  /** NewsAPI's page size, the reference's per-run input. */
  val PageSize = 100

  private val Sources = Vector("Reuters", "Associated Press", "BBC News", "CNN",
    "The Verge", "Wired", "Bloomberg", "Financial Times", "NPR", "Axios",
    "Politico", "TechCrunch")
  private val Authors = (1 to 40).map(i => s"Reporter ${('A' + i % 26).toChar}. Name$i").toVector
  private val Positive = Vector("great", "brilliant", "success", "victory",
    "impressive", "promising", "wonderful", "record")
  private val Negative = Vector("crisis", "disaster", "fraud", "collapse",
    "terrible", "scandal", "panic", "failure")
  private val Neutral = Vector("council", "schedule", "report", "meeting",
    "update", "review", "statement", "plan")
  private val Topics = Vector("markets", "election", "storm", "budget",
    "vaccine", "chip", "league", "summit", "housing", "climate")

  /** One page of articles for lake `lakeNo`, page `pageNo`. `prior` holds
    * urls landed by earlier pages of the same lake; two rows of every
    * later page repeat one of them. Every page carries each DQ case of
    * the fixture set: null and empty titles, null and empty urls, urls
    * repeated within the page, exact duplicate rows, null author and
    * source, HTML with a tag spanning a newline, and positive, negative
    * and neutral titles.
    */
  def newsPage(seed: Long, lakeNo: Int, pageNo: Int,
      prior: IndexedSeq[String]): Vector[Article] = {
    val r = rng(seed, 1000003L * (lakeNo + 1) + pageNo)
    def pick[T](v: Vector[T]): T = v(r.nextInt(v.size))
    def url(i: Int): String = {
      val host = s"site${r.nextInt(30)}.com"
      val scheme = if (r.nextBoolean()) "https" else "http"
      val www = if (r.nextBoolean()) "www." else ""
      s"$scheme://$www$host/$seed/$lakeNo/$pageNo/$i-${pick(Topics)}"
    }
    def article(i: Int): Article = {
      val mood = i % 3
      val word = if (mood == 0) pick(Positive) else if (mood == 1) pick(Negative)
        else pick(Neutral)
      val topic = pick(Topics)
      val title = s"${topic.capitalize} $word as officials weigh next steps ${r.nextInt(1000)}"
      val desc = s"<b>${topic.capitalize}</b> coverage: the <a href=\"https://x.com/$i\">" +
        s"full story</a> on $word developments."
      val content = s"<p class=\"lead\"\n>${topic.capitalize} $word.</p> The report " +
        s"says ${r.nextInt(100)} people followed the $topic story. [+${r.nextInt(3000)} chars]"
      Article(Some(pick(Sources)), Some(pick(Authors)), Some(title), desc,
        Some(url(i)), s"https://img.example.com/$i.jpg",
        Some(f"2026-09-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z"),
        content)
    }
    val rows = Array.tabulate(PageSize)(article)
    // DQ cases at fixed slots, so every page exercises every path
    rows(0) = rows(0).copy(title = None)
    rows(1) = rows(1).copy(title = None)
    rows(2) = rows(2).copy(title = Some(""))
    rows(3) = rows(3).copy(url = Some(""))
    rows(4) = rows(4).copy(url = Some(""))
    rows(5) = rows(5).copy(url = None)
    rows(6) = rows(6).copy(url = rows(7).url)            // url repeated in page
    rows(8) = rows(8).copy(url = rows(9).url)
    rows(10) = rows(11)                                   // exact duplicate row
    rows(12) = rows(13)
    if (prior.nonEmpty) {                                 // url repeated across pages
      rows(14) = rows(14).copy(url = Some(prior(r.nextInt(prior.size))))
      rows(15) = rows(15).copy(url = Some(prior(r.nextInt(prior.size))))
    }
    (16 until 24).foreach(i => rows(i) = rows(i).copy(author = None))
    (24 until 29).foreach(i => rows(i) = rows(i).copy(source = None))
    rows.toVector
  }

  /** The benchmark's own model of `DqConfig.newsArticles` (not-null or
    * empty on title/publishedAt/url, url unique over the whole bronze
    * layer): the number of valid rows in `bronze`.
    */
  def validCount(bronze: Seq[Article]): Long = valid(bronze).size.toLong

  /** The urls of the valid rows (each valid url is on exactly one row). */
  def validUrls(bronze: Seq[Article]): Set[String] = valid(bronze).flatMap(_.url).toSet

  private def valid(bronze: Seq[Article]): Seq[Article] = {
    def present(s: Option[String]) = s.exists(_.nonEmpty)
    val urlCounts = bronze.groupBy(_.url).map { case (u, v) => u -> v.size }
    bronze.filter(a => present(a.title) && a.publishedAt.isDefined &&
      present(a.url) && urlCounts(a.url) == 1)
  }

  // ---- corpus_curate -----------------------------------------------------------

  final case class Doc(id: Long, text: String)

  /** A corpus batch and what was planted in it. */
  final case class Batch(docs: Vector[Doc], originals: Vector[Long],
      inBatchCopies: Vector[Long], corpusCopies: Vector[Long],
      lowQuality: Map[String, Vector[Long]], origin: Map[Long, Doc]) {
    def copies: Vector[Long] = inBatchCopies ++ corpusCopies
  }

  val Stopwords = Vector("the", "a", "an", "and", "or", "of", "to", "in", "is",
    "it", "that", "was", "for", "on", "are", "as", "with", "at", "by", "this")
  private val Syllables = Vector("ka", "lo", "mi", "ren", "tor", "va", "shi",
    "pel", "dra", "no", "qui", "ban", "sel", "mor", "ti", "gu", "xe", "pra",
    "lin", "zo", "fe", "cam", "ru", "dis", "ol", "ne", "bri", "ta", "vo", "sim")
  /** 4 000 distinct pseudo-words of 4-9 letters. */
  val Vocab: Vector[String] = {
    val r = rng(7L, 7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val w = (1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      if (w.length >= 4 && w.length <= 9) seen += w
    }
    seen.toVector
  }
  val DocWords = 150
  val QualityThreshold = 0.9

  private def prose(r: scala.util.Random, words: Int): Vector[String] =
    Vector.tabulate(words) { i =>
      val w = if (r.nextDouble() < 0.25) Stopwords(r.nextInt(Stopwords.size))
        else Vocab(r.nextInt(Vocab.size))
      if (i % 15 == 14) w + "." else w
    }

  /** A near-duplicate: one or two words of `text` replaced. */
  private def nearCopy(r: scala.util.Random, text: String): String = {
    val ws = text.split(' ')
    (1 to 1 + r.nextInt(2)).foreach { _ =>
      val at = 5 + r.nextInt(ws.length - 10)
      ws(at) = Vocab(r.nextInt(Vocab.size))
    }
    ws.mkString(" ")
  }

  /** Low-quality documents, each built to fail exactly one rule of the
    * documented quality score (so it scores at most 0.8 < threshold).
    */
  private def lowDoc(r: scala.util.Random, kind: String): String = kind match {
    case "short" => (prose(r, 5) :+ Stopwords(r.nextInt(Stopwords.size))).mkString(" ")
    case "no_stopwords" =>
      Vector.fill(DocWords)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    case "punctuation" => prose(r, DocWords).map(_ + "?!#@").mkString(" ")
    case "long_words" => Vector.tabulate(DocWords) { i =>
        if (i % 10 == 0) Stopwords(r.nextInt(Stopwords.size))
        else (1 to 3).map(_ => Vocab(r.nextInt(Vocab.size))).mkString
      }.mkString(" ")
  }
  val LowKinds = Vector("short", "no_stopwords", "punctuation", "long_words")

  def seedCorpus(seed: Long, stream: Long, n: Int, firstId: Long): Vector[Doc] = {
    val r = rng(seed, stream)
    Vector.tabulate(n)(i => Doc(firstId + i, prose(r, DocWords).mkString(" ")))
  }

  /** A batch of `n` documents with ids from `firstId`: 70% originals, 10%
    * near-copies of this batch's originals (larger ids than their
    * originals), 10% near-copies of documents in `corpus` (already landed),
    * 10% low-quality. `copied` tracks documents already copied once, so no
    * two planted copies share an original.
    */
  def batch(seed: Long, stream: Long, n: Int, firstId: Long,
      corpus: IndexedSeq[Doc], copied: mutable.Set[Long]): Batch = {
    val r = rng(seed, stream)
    val nCopy = n / 10
    val nLow = n / 10
    val nOrig = n - 2 * nCopy - nLow
    var next = firstId
    def id(): Long = { next += 1; next - 1 }
    val originals = Vector.fill(nOrig)(Doc(id(), prose(r, DocWords).mkString(" ")))
    def copyOf(o: Doc): (Doc, Doc) = { copied += o.id; Doc(id(), nearCopy(r, o.text)) -> o }
    val inBatch = r.shuffle(originals).take(nCopy).map(copyOf)
    val fromCorpus = Iterator.continually(corpus(r.nextInt(corpus.size)))
      .filterNot(d => copied(d.id)).distinctBy(_.id).take(nCopy).toVector.map(copyOf)
    val low = Vector.tabulate(nLow)(i => LowKinds(i % LowKinds.size))
      .map(k => k -> Doc(id(), lowDoc(r, k)))
    Batch(originals ++ inBatch.map(_._1) ++ fromCorpus.map(_._1) ++ low.map(_._2),
      originals.map(_.id), inBatch.map(_._1.id), fromCorpus.map(_._1.id),
      low.groupBy(_._1).map { case (k, v) => k -> v.map(_._2.id) },
      (inBatch ++ fromCorpus).map { case (c, o) => c.id -> o }.toMap)
  }

  // The documented rules of TextStats.qualityScore, restated independently.
  private val QualityStopwords = Stopwords.toSet ++ Set("not", "but", "they",
    "his", "her", "be", "from")
  def wordCount(t: String): Int = {
    var n = 0
    var inWord = false
    t.foreach { c =>
      if (c.isWhitespace) inWord = false
      else if (!inWord) { n += 1; inWord = true }
    }
    n
  }
  /** Lower-cased runs of [a-z0-9']. */
  def tokens(t: String): Array[String] = {
    val lower = t.toLowerCase
    val out = mutable.ArrayBuffer.empty[String]
    var start = -1
    var i = 0
    while (i <= lower.length) {
      val c = if (i < lower.length) lower.charAt(i) else ' '
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '\'') {
        if (start < 0) start = i
      } else if (start >= 0) { out += lower.substring(start, i); start = -1 }
      i += 1
    }
    out.toArray
  }
  def punctRatio(t: String): Double =
    if (t.isEmpty) 0.0
    else t.count(c => !c.isLetterOrDigit && !c.isWhitespace).toDouble / t.length
  /** The rules a document breaks, by the names `lowDoc` plants. */
  def brokenRules(t: String): Set[String] = {
    val ts = tokens(t)
    val wc = wordCount(t)
    val stop = if (ts.isEmpty) 0.0 else ts.count(QualityStopwords).toDouble / ts.length
    val awl = if (ts.isEmpty) 0.0 else ts.map(_.length).sum.toDouble / ts.length
    Set(
      "short" -> !(wc >= 10 && wc <= 10000),
      "no_stopwords" -> !(stop >= 0.05),
      "punctuation" -> !(punctRatio(t) <= 0.3),
      "long_words" -> !(awl >= 2.0 && awl <= 12.0)
    ).collect { case (k, true) => k }
  }

  def shingles(t: String): Set[String] = {
    val ts = tokens(t)
    if (ts.length < 3) Set(ts.mkString(" "))
    else {
      val b = Set.newBuilder[String]
      var i = 0
      while (i + 2 < ts.length) { b += ts(i) + " " + ts(i + 1) + " " + ts(i + 2); i += 1 }
      b.result()
    }
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** Highest 3-shingle Jaccard between any two of `docs`: shared shingles
    * are counted per pair through a shingle → document index, so only
    * pairs sharing a shingle are visited.
    */
  def maxPairJaccard(docs: Seq[Doc]): Double = {
    val sizes = new Array[Int](docs.size)
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    docs.iterator.zipWithIndex.foreach { case (d, i) =>
      val sh = shingles(d.text)
      sizes(i) = sh.size
      sh.foreach(x => byShingle.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += i)
    }
    val shared = mutable.LongMap.empty[Int]
    byShingle.valuesIterator.foreach { ids =>
      for (a <- ids.indices; b <- a + 1 until ids.size) {
        val key = ids(a).toLong << 32 | ids(b)
        shared(key) = shared.getOrElse(key, 0) + 1
      }
    }
    shared.iterator.map { case (key, n) =>
      n.toDouble / (sizes((key >>> 32).toInt) + sizes(key.toInt) - n)
    }.maxOption.getOrElse(0.0)
  }

  /** Generator self-check (no Spark): every planted copy is a ≥ 0.9
    * near-duplicate of its original and passes the quality rules, the
    * originals (with the corpus they land in) are pairwise far below the
    * 0.8 dedup threshold, and each low-quality document breaks exactly the
    * rule it was built to break. Returns the failures found.
    */
  def checkCorpus(seedDocs: Vector[Doc], batches: Seq[Batch]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    batches.foreach { b =>
      val byId = b.docs.map(d => d.id -> d).toMap
      b.copies.foreach { c =>
        val j = jaccard(shingles(byId(c).text), shingles(b.origin(c).text))
        if (j < 0.9) errs += f"copy $c of ${b.origin(c).id} has Jaccard $j%.3f < 0.9"
      }
      (b.originals ++ b.copies).foreach { id =>
        val broken = brokenRules(byId(id).text)
        if (broken.nonEmpty) errs += s"document $id breaks ${broken.mkString(",")}"
      }
      b.lowQuality.foreach { case (kind, ids) => ids.foreach { id =>
        val broken = brokenRules(byId(id).text)
        if (broken != Set(kind)) errs += s"low-quality $id ($kind) breaks ${broken.mkString(",")}"
      } }
    }
    val originals = seedDocs ++ batches.flatMap(b => b.docs.filter(d => b.originals.contains(d.id)))
    val mx = maxPairJaccard(originals)
    if (mx >= 0.4) errs += f"two originals have Jaccard $mx%.3f (not far below 0.8)"
    errs.toSeq
  }
}
