package newspipe.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (extension track,
  * SURVEY.md §7): token counting, quality scoring, language ID, document
  * fingerprinting. All hot paths are native column expressions (codegen);
  * the only UDF is the rolling-hash fingerprint kernel.
  */
object TextStats {

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count; blank/null-safe (empty → 0). */
  def wordCount(text: Column): Column =
    when(text.isNull, lit(null))
      .otherwise(size(filter(split(text, "\\s+"), t => length(t) > 0)))

  /** BPE-ish token count: counts matches of a GPT-2-style pre-tokenizer
    * regex (word pieces, numbers, punctuation runs, whitespace collapsed).
    * An approximation of LLM token cost that needs no vocabulary.
    */
  val BpeishPattern = "'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^\\sa-zA-Z0-9]+"
  def bpeishTokenCount(text: Column): Column =
    when(text.isNull, lit(null))
      .otherwise(size(regexp_extract_all(text, lit(BpeishPattern), lit(0))))

  // ---- quality scoring -----------------------------------------------------

  /** Fraction of characters that are punctuation/symbols (0 for empty). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    val punct = len - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))
    when(text.isNull, lit(null))
      .otherwise(when(len === 0, 0.0).otherwise(punct.cast("double") / len))
  }

  /** English stopwords used by the quality heuristics + language ID. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "was", "for", "on", "are", "as", "with",
    "at", "by", "this", "be", "from", "not", "but", "they", "his", "her")

  /** Fraction of tokens that are (English) stopwords — prose tends to
    * 0.2-0.5; keyword spam and tables tend to ~0.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val toks = Dedup.tokens(text)
    val hits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    when(text.isNull, lit(null))
      .otherwise(when(size(toks) === 0, 0.0)
        .otherwise(hits.cast("double") / size(toks)))
  }

  /** Mean token length (0 for empty). */
  def avgWordLen(text: Column): Column = {
    val toks = Dedup.tokens(text)
    when(text.isNull, lit(null))
      .otherwise(when(size(toks) === 0, 0.0)
        .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
          .cast("double") / size(toks)))
  }

  /** Composite quality score in [0, 1]: length band + stopword band +
    * punctuation band + word-length band (a Gopher-rules-style heuristic,
    * weights documented, deterministic).
    *
    * Compiled as a NATIVE one-pass codegen'd expression
    * ([[QualityScoreExpr]]): the equivalent column form — [[wordCount]],
    * [[stopwordRatio]], [[punctRatio]] and [[avgWordLen]] banded and
    * weighted — stacks four HOFs (`filter`/`aggregate` are
    * interpreted-only — CodegenFallback) that re-tokenize the text up to
    * four times and regex-rebuild it once more per row; measured 1.96 s
    * for 5 000 docs on one core. The kernel computes all four bands in
    * one pass, bit-identical (CodegenParitySpec keeps the column form as
    * its parity oracle).
    */
  def qualityScore(text: Column): Column =
    org.apache.spark.sql.NewspipeSqlBridge.column(QualityScoreExpr(
      org.apache.spark.sql.NewspipeSqlBridge.expression(text)))

  // ---- language ID ---------------------------------------------------------

  /** Per-language function-word profiles (public common words). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um", "para"),
    "it" -> Seq("il", "di", "che", "e", "la", "per", "un", "in", "del", "una"))

  /** Per-language character-trigram profiles (common trigrams of each
    * language's high-frequency vocabulary; space-padded forms capture word
    * boundaries). The n-gram half of the hybrid scorer.
    */
  val TrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", " th", "he ", "ing", "and", "ion", "ent", " of", "to ", "is "),
    "es" -> Seq("que", " de", "de ", " la", "la ", "el ", "os ", "ión", "ado", " es"),
    "fr" -> Seq(" le", "le ", "es ", " de", "de ", "ent", "ion", " la", "eur", "ait"),
    "de" -> Seq("der", "die", "und", "ein", "sch", "ich", "den", "ung", "cht", "gen"),
    "pt" -> Seq(" de", "de ", "ão ", " co", "os ", "que", "da ", "do ", "par", "açã"),
    "it" -> Seq("che", " di", "di ", " la", "il ", "per", "ato", "del", "con", "one"))

  private[ops] val langCodes = LangProfiles.keys.toArray.sorted
  private[ops] val wordSets = langCodes.map(l => LangProfiles(l).toSet)
  private[ops] val triSets = langCodes.map(l => TrigramProfiles(l).toSet)

  /** Language ID: hybrid function-word + character-trigram scorer (the
    * "n-gram heuristic" operator). score(lang) = 0.6·wordHitRate +
    * 0.4·trigramHitRate; argmax, ties broken by language code; no profile
    * hit at all → "und"; null → null.
    *
    * One in-JVM pass per row (a column-expression form would re-evaluate the
    * tokenize/trigram subtrees once per language — the HOF no-CSE trap),
    * compiled as a NATIVE codegen'd expression ([[LangIdExpr]], round 18):
    * its siblings (sentiment, tokenize, shingle, winnow) were already
    * expressions, and a ScalaUDF here broke whole-stage fusion in exactly
    * the cleaning pipelines that stack langId with cleanText/gopherRules.
    * Per-row kernel, no shuffle; the real-corpus upgrade path is swapping
    * the profiles for trained ones, not changing the operator shape.
    */
  def langId(text: Column): Column =
    org.apache.spark.sql.NewspipeSqlBridge.column(LangIdExpr(
      org.apache.spark.sql.NewspipeSqlBridge.expression(text)))

  // ---- repetition metrics (Gopher-style duplicate-content filters) ---------

  /** Fraction of tokens that repeat an earlier token: 1 − distinct/total.
    * Boilerplate and keyword spam score high; prose scores low. 0 for empty.
    */
  def duplicateTokenRatio(text: Column): Column = {
    val toks = Dedup.tokens(text)
    when(text.isNull, lit(null))
      .otherwise(when(size(toks) === 0, 0.0)
        .otherwise(lit(1.0) -
          size(array_distinct(toks)).cast("double") / size(toks)))
  }

  /** Word 2-grams WITH duplicates (unlike shingles, which dedupe) — the
    * repetition filters need the multiset. Empty/one-token docs → [].
    */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Share of all word 2-grams taken by the MOST FREQUENT 2-gram (the
    * top-n-gram fraction repetition filter). One hash-map pass per row in
    * the kernel — the equivalent column expression
    * (`transform(g, x => size(filter(g, y => y === x)))`) is O(n²) per doc.
    */
  private val topFreqUdf = udf { xs: Seq[String] =>
    if (xs == null) null
    else if (xs.isEmpty) java.lang.Double.valueOf(0.0)
    else {
      val counts = scala.collection.mutable.HashMap.empty[String, Int]
      xs.foreach(x => counts.update(x, counts.getOrElse(x, 0) + 1))
      java.lang.Double.valueOf(counts.values.max.toDouble / xs.size)
    }
  }

  def topBigramFraction(text: Column): Column = {
    val toks = Dedup.tokens(text)
    when(text.isNull, lit(null)).otherwise(topFreqUdf(bigrams(toks)))
  }

  /** The eight stopwords whose presence the Gopher rules require (Rae et
    * al. 2021 — "contains at least two of").
    */
  val GopherRequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher document-quality rules (Rae et al. 2021, Table A1) as ONE
    * struct-valued column: per-rule booleans plus the conjunctive
    * `gopher_pass`. Thresholds are the paper's, and two previously-fuzzy
    * readings now follow the paper + the reference implementations
    * (DataTrove's GopherQualityFilter): the symbol-to-word ratio is
    * tested PER SYMBOL CLASS — `#` count/words ≤ 0.1 AND `...` count/words
    * ≤ 0.1, not the combined count (combined was strictly harsher) — and
    * the stopword rule counts TOTAL OCCURRENCES of the required words
    * (≥ 2), not distinct members. All rules are pure column expressions
    * over one row (word/line array math + the house tokenizer for the
    * stopword rule; the top-2-gram fraction reuses
    * [[topBigramFraction]]'s per-row hash kernel) — per-row scalar work,
    * shuffle-free, corpus-linear; null text propagates a null struct. At
    * 100 TB this is the canonical first-pass filter: one projection, no
    * aggregation, fuses into the same stage as cleaning and langid.
    */
  def gopherRules(text: Column): Column = {
    val words = filter(split(text, "\\s+"), t => length(t) > 0)
    val n = size(words)
    val meanLen = when(n === 0, lit(0.0)).otherwise(
      aggregate(words, lit(0L), (a, t) => a + length(t)).cast("double") / n)
    // symbol-to-word ratios, one per symbol class (paper: "symbol-to-word
    // ratio greater than 0.1 for either the hash symbol or the ellipsis")
    val hashCount = size(regexp_extract_all(text, lit("#"), lit(0)))
    val ellipsisCount =
      size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))
    val hashRatio = when(n === 0, lit(0.0))
      .otherwise(hashCount.cast("double") / n)
    val ellipsisRatio = when(n === 0, lit(0.0))
      .otherwise(ellipsisCount.cast("double") / n)
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val nl = size(lines)
    val bulletFrac = when(nl === 0, lit(0.0)).otherwise(
      size(filter(lines, l => l.rlike("^\\s*[-*•]")))
        .cast("double") / nl)
    val ellipsisFrac = when(nl === 0, lit(0.0)).otherwise(
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
        .cast("double") / nl)
    val alphaFrac = when(n === 0, lit(0.0)).otherwise(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / n)
    // total OCCURRENCES of required stopwords (DataTrove's counting — a
    // doc carrying "the … the" alone passes), not distinct members
    val stopHits = size(filter(Dedup.tokens(text),
      t => t.isin(GopherRequiredStopwords: _*)))
    val dupLineFrac = when(nl === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(lines)).cast("double") / nl)
    val rWordCount = n >= 50 && n <= 100000
    val rMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val rSymbol = hashRatio <= 0.1 && ellipsisRatio <= 0.1
    val rBullet = bulletFrac <= 0.9
    val rEllipsis = ellipsisFrac <= 0.3
    val rAlpha = alphaFrac >= 0.8
    val rStop = stopHits >= 2
    val rDupLine = dupLineFrac <= 0.3
    val rBigram = topBigramFraction(text) <= 0.18
    when(text.isNull, lit(null)).otherwise(struct(
      rWordCount.as("word_count_ok"),
      rMeanLen.as("mean_word_len_ok"),
      rSymbol.as("symbol_ratio_ok"),
      rBullet.as("bullet_lines_ok"),
      rEllipsis.as("ellipsis_lines_ok"),
      rAlpha.as("alpha_words_ok"),
      rStop.as("stopwords_ok"),
      rDupLine.as("dup_lines_ok"),
      rBigram.as("top_bigram_ok"),
      (rWordCount && rMeanLen && rSymbol && rBullet && rEllipsis &&
        rAlpha && rStop && rDupLine && rBigram).as("gopher_pass")))
  }

  // ---- PII-style redaction -------------------------------------------------
  // Patterns stay inside the RE2-compatible subset (no lookaround, no
  // backrefs) so the same pattern runs in Spark (Java regex) and any
  // RE2-based engine identically.

  val UrlPattern = "https?://\\S+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"

  /** Redact URLs, then emails, then phone-shaped digit runs (that order:
    * emails inside URLs disappear with the URL; the replacement token
    * contains no digits, so later passes cannot re-match inside it).
    */
  def redactPii(text: Column, repl: String = "[REDACTED]"): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, repl),
        EmailPattern, repl),
      PhonePattern, repl)

  /** How many URL/email/phone matches the text carries (counted on the raw
    * text, before redaction).
    */
  def piiMatchCount(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlPattern), lit(0))) +
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /** The standard corpus-cleaning composite every training pipeline runs
    * before stats/dedup (C4/CCNet posture): Unicode NFC (codepoint
    * canonicalization — [[newspipe.functions.UnicodeNormalize]]), strip
    * control characters EXCEPT newline — CR included, so CRLF corpora
    * clean to bare LF (tab dies with the collapse step instead),
    * collapse horizontal-whitespace runs to one space, trim. Entirely
    * codegen'd column expressions — per-row scalar work, shuffle-free,
    * corpus-linear; null-propagating.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        newspipe.functions.UnicodeNormalize.nfc(text),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  // ---- fingerprinting ------------------------------------------------------

  /** Content fingerprint: md5 of whitespace/case-normalized text — the
    * join-key form of exact near-identity (native, codegen).
    */
  def normalizedFingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** 64-bit rolling polynomial hash (Rabin-Karp, base 257, mod 2^64) over
    * the normalized text — order-sensitive, cheap to compute incrementally;
    * the scalar kernel is an in-JVM UDF.
    */
  private val rollingUdf = udf { s: String =>
    if (s == null) null.asInstanceOf[java.lang.Long]
    else {
      val norm = s.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
      var h = 0L
      var i = 0
      while (i < norm.length) { h = h * 257L + norm.charAt(i); i += 1 }
      java.lang.Long.valueOf(h)
    }
  }
  def rollingFingerprint(text: Column): Column = rollingUdf(text)

  // ---- vocabulary statistics -----------------------------------------------

  /** Corpus vocabulary statistics: per-token term frequency (total
    * occurrences) and document frequency (docs containing the token at least
    * once), over [[Dedup.tokens]]' lowercased word tokens. The Zipf head and
    * tail this surfaces drive stopword lists, tokenizer-coverage checks and
    * df-based term filters ([[Retrieval]] recomputes the same df shape
    * per-query; this is the corpus-wide standing form).
    *
    * Scale shape: one aggregate over the exploded token stream. `tf` enjoys
    * map-side partial aggregation (each task ships its local token multiset
    * collapsed to vocab-sized counts); the `countDistinct` doc-frequency leg
    * expands to a two-phase distinct aggregate on (token, id) — both
    * exchanges carry (token, id)-bounded rows, never full documents. Null or
    * token-free texts contribute nothing.
    *
    * @return (token, tf, df) — one row per distinct token.
    */
  def vocab(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    Par.ensure(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), explode(Dedup.tokens(col("__t"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("__id")).as("df"))
}

/** Static kernel for the codegen'd language-ID expression — the exact
  * scorer [[TextStats.langId]] always computed, callable from generated
  * Java (the [[newspipe.functions.PatternSentimentKernel]] pattern).
  */
object LangIdKernel {
  def id(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (text == null) return null
    org.apache.spark.unsafe.types.UTF8String.fromString(
      idString(text.toString))
  }

  private[ops] def idString(text: String): String = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val toks = lower.split("[^a-z0-9']+").filter(_.nonEmpty)
    val padded = " " + lower.replaceAll("\\s+", " ").trim + " "
    val tris = (0 until math.max(padded.length - 2, 0))
      .map(i => padded.substring(i, i + 3))
    var bestLang = "und"
    var bestScore = 0.0
    var i = 0
    while (i < TextStats.langCodes.length) {
      val wordHits = if (toks.isEmpty) 0.0
        else toks.count(TextStats.wordSets(i)).toDouble / toks.length
      val triHits = if (tris.isEmpty) 0.0
        else tris.count(TextStats.triSets(i)).toDouble / tris.length
      val s = 0.6 * wordHits + 0.4 * triHits
      if (s > bestScore) { bestScore = s; bestLang = TextStats.langCodes(i) }
      i += 1
    }
    bestLang
  }
}

/** Language ID as a native codegen'd expression (round 18, VERDICT
  * item: the last ScalaUDF in the cleaning hot path) — stays inside
  * whole-stage codegen, so a pipeline stacking langId with cleanText/
  * gopherRules fuses into one generated stage instead of breaking at a
  * UDF barrier. Null text → null; scorer byte-identical to the UDF it
  * replaced (q30 hash unchanged, CodegenParitySpec pins interpreted ==
  * codegen'd).
  */
case class LangIdExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, StringType}

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    LangIdKernel.id(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"newspipe.ops.LangIdKernel.id($c)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : LangIdExpr = copy(child = newChild)
}

/** Static kernel for the codegen'd quality-score expression — the exact
  * arithmetic of [[TextStats.qualityScore]]'s column form (the banded
  * [[TextStats.wordCount]], [[TextStats.stopwordRatio]],
  * [[TextStats.punctRatio]] and [[TextStats.avgWordLen]]) in ONE pass over the text
  * instead of four interpreted HOF re-tokenizations plus a regex rebuild.
  *
  * Bit-parity notes (each mirrors the column form it replaces):
  *  - wordCount: non-empty parts of Java `split("\\s+")` = maximal runs
  *    of non-ASCII-whitespace (`\s` without UNICODE_CHARACTER_CLASS is
  *    `[ \t\n\x0B\f\r]`).
  *  - punctRatio: `length(text) − length(regexp_replace(text,
  *    "[^\p{L}\p{N}\s]", ""))` counts CODE POINTS whose category is
  *    neither letter (`Character.isLetter` ≡ `\p{L}`: Lu/Ll/Lt/Lm/Lo)
  *    nor number (`\p{N}`: Nd/Nl/No) nor ASCII whitespace; the
  *    denominator is the code-point length.
  *  - stopword/avg-word-length: [[newspipe.functions.TokenizeKernel]]
  *    semantics — `UTF8String.toLowerCase`, split `[^a-z0-9']+`, drop
  *    empties; tokens are therefore pure ASCII and their char length is
  *    their code-point length.
  *  - band arithmetic: identical doubles, identical left-associated
  *    multiply-add order.
  */
object QualityScoreKernel {
  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextStats.EnStopwords.foreach(s.add)
    s
  }

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  def score(text: org.apache.spark.unsafe.types.UTF8String): Double = {
    val s = text.toString
    // pass 1 (code points): word count over \s+ runs, punct + total chars
    var wc = 0L
    var punct = 0L
    var cpLen = 0L
    var inWord = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val isSpace = cp < 128 && isAsciiSpace(cp.toChar)
      if (isSpace) inWord = false
      else {
        if (!inWord) { wc += 1; inWord = true }
        val t = Character.getType(cp)
        val isLetter = t == Character.UPPERCASE_LETTER ||
          t == Character.LOWERCASE_LETTER || t == Character.TITLECASE_LETTER ||
          t == Character.MODIFIER_LETTER || t == Character.OTHER_LETTER
        val isNumber = t == Character.DECIMAL_DIGIT_NUMBER ||
          t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
        if (!isLetter && !isNumber) punct += 1
      }
      cpLen += 1
      i += Character.charCount(cp)
    }
    // pass 2 (lowercased, TokenizeKernel semantics): stopword hits + token
    // length sum over runs of [a-z0-9']
    val lower = text.toLowerCase.toString
    var nToks = 0L
    var tokLenSum = 0L
    var stopHits = 0L
    var start = -1
    var j = 0
    while (j <= lower.length) {
      val inTok = j < lower.length && {
        val c = lower.charAt(j)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '\''
      }
      if (inTok) { if (start < 0) start = j }
      else if (start >= 0) {
        nToks += 1
        tokLenSum += j - start
        // stopwords are ≤ 5 chars — skip the substring for longer runs
        if (j - start <= 5 && stopSet.contains(lower.substring(start, j)))
          stopHits += 1
        start = -1
      }
      j += 1
    }
    val lenOk = if (wc >= 10L && wc <= 10000L) 1.0 else 0.0
    val stopRatio =
      if (nToks == 0L) 0.0 else stopHits.toDouble / nToks
    val stopOk = if (stopRatio >= 0.05) 1.0 else 0.0
    val punctRatio = if (cpLen == 0L) 0.0 else punct.toDouble / cpLen
    val punctOk = if (punctRatio <= 0.3) 1.0 else 0.0
    val awl = if (nToks == 0L) 0.0 else tokLenSum.toDouble / nToks
    val awlOk = if (awl >= 2.0 && awl <= 12.0) 1.0 else 0.0
    lenOk * 0.3 + stopOk * 0.3 + punctOk * 0.2 + awlOk * 0.2
  }
}

/** Quality score as a native codegen'd expression (round 19) — the same
  * shape as [[LangIdExpr]]: one static-kernel call inside whole-stage
  * codegen, so curation pipelines stacking the quality gate with
  * exact/MinHash dedup fuse into one generated stage instead of paying
  * four interpreted tokenizations per row. Null text → null.
  */
case class QualityScoreExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    QualityScoreKernel.score(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"newspipe.ops.QualityScoreKernel.score($c)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : QualityScoreExpr = copy(child = newChild)
}
