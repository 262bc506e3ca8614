package newspipe.functions

import newspipe.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpreted-vs-codegen parity for every custom Catalyst expression: the
  * classic custom-expression bug class is an `eval` that drifts from
  * `doGenCode` (only one path runs in a given plan, so a divergence hides
  * until an optimizer change flips the path). Each test evaluates the same
  * frame under whole-stage codegen and under forced interpretation
  * (`CODEGEN_ONLY` off + factory mode NO_CODEGEN) and asserts identical
  * results.
  */
class CodegenParitySpec extends SparkTestBase {
  import spark.implicits._

  private def withInterpreted[T](f: => T): T = {
    val conf = spark.conf
    val oldWhole = conf.get("spark.sql.codegen.wholeStage")
    val oldMode = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f finally {
      conf.set("spark.sql.codegen.wholeStage", oldWhole)
      conf.set("spark.sql.codegen.factoryMode", oldMode)
    }
  }

  /** The HOF column form of [[newspipe.ops.TextStats.qualityScore]] — the
    * parity oracle for its native kernel: the same four bands and weights
    * built from the public per-feature columns.
    */
  private def qualityScoreHof(text: Column): Column = {
    import newspipe.ops.TextStats._
    val wc = wordCount(text)
    val lenOk = when(wc.between(10, 10000), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) >= 0.05, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.3, 1.0).otherwise(0.0)
    val awl = avgWordLen(text)
    val awlOk = when(awl.between(2.0, 12.0), 1.0).otherwise(0.0)
    when(text.isNull, lit(null))
      .otherwise((lenOk * 0.3 + stopOk * 0.3 + punctOk * 0.2 + awlOk * 0.2))
  }

  private def bothWays(df: => DataFrame): (Seq[String], Seq[String]) = {
    val gen = df.collect().map(_.toString).toSeq.sorted
    val interp = withInterpreted(df.collect().map(_.toString).toSeq.sorted)
    (gen, interp)
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different text about spark engines at scale"),
    (3L, null.asInstanceOf[String]),
    (4L, "")
  ).toDF("id", "text")

  test("MinHashSignature: codegen = interpreted (incl. null/empty docs)") {
    def frame = docs.select($"id",
      newspipe.ops.Dedup.minhashSignature(
        newspipe.ops.Dedup.shingles($"text"), 64).as("sig"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("SimHash64: codegen = interpreted (incl. the null→0 contract)") {
    def frame = docs.select($"id", newspipe.ops.Dedup.simhash($"text").as("sig"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("LangIdExpr: codegen = interpreted (incl. null/empty docs and " +
      "multi-language samples)") {
    def frame = docs
      .union(Seq(
        (10L, "el que la de los en las del se una"),
        (11L, "der die und in den von zu das mit sich"),
        (12L, "le la de et les des en un du une"),
        (13L, "12345 !!! ???")).toDF("id", "text"))
      .select($"id", newspipe.ops.TextStats.langId($"text").as("lang"))
    val (g, i) = bothWays(frame)
    g shouldBe i
    // the scorer itself still answers the obvious cases
    g.exists(_.contains("en")) shouldBe true
    g.exists(_.contains("es")) shouldBe true
  }

  test("QualityScoreExpr: codegen = interpreted = legacy HOF column form " +
      "(adversarial unicode/whitespace/punct inputs + 200 random strings)") {
    // adversarial fixed cases: every band boundary, unicode letters/digits
    // (Ⅻ = LETTER_NUMBER, ² = OTHER_NUMBER), non-ASCII whitespace (NBSP is
    // NOT \s — must count as punct), apostrophes, VT/FF separators
    val vt = "\u000B"; val nbsp = " "
    val fixed = Seq(
      null.asInstanceOf[String], "", " ", "a",
      "the of and to in is it that was for",         // 10 words, all stop
      "zz xx qq ww rr tt yy uu ii oo",                // 10 words, no stop
      "x " * 10001,                                   // > 10000 words
      "supercalifragilisticexpialidocious " * 12,     // awl > 12
      "!!! ??? *** (((" + nbsp + "))) %%%",
      "tab\tsep" + vt + "vtsep\ffeed\rcr\nnl words here make ten yes",
      "don't can't won't it's o'clock 'quoted' '' ''' x",
      "Ⅻ ² ½ ٣ ７ 一 二 三 四 五 六 七 八 九 十",
      "Grüße naïve façade über schön àéîõü ÇÃO word word word",
      "mixed1234digits and words with'apostrophes in them ok fine")
    val rnd = new java.util.Random(42L)
    val alphabet = "abcXYZ012 \t\n'!?.,;:-_()[]" + nbsp + vt +
      "é世٢Ⅲ²😀" // é 世 ٢ Ⅲ ² 😀
    val random = (1 to 200).map { _ =>
      val n = rnd.nextInt(120)
      val sb = new StringBuilder
      (1 to n).foreach(_ => sb.append(alphabet.charAt(rnd.nextInt(alphabet.length))))
      sb.toString
    }
    val df = (fixed ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .localCheckpoint(true)
    def kernelFrame = df.select($"id",
      newspipe.ops.TextStats.qualityScore($"text").as("q"))
    val legacy = df.select($"id",
      qualityScoreHof($"text").as("q"))
      .collect().map(_.toString).toSeq.sorted
    val (g, i) = bothWays(kernelFrame)
    g shouldBe i
    g shouldBe legacy
  }

  private def vecs = Seq(
    (1L, Seq(0.5f, -0.25f, 1.0f, 0.0f)),
    (2L, Seq(-1.0f, 2.0f, -0.5f, 0.25f)),
    (3L, null.asInstanceOf[Seq[Float]])
  ).toDF("id", "v")

  test("RhpSignatureExpr + RhpBandSignaturesExpr: codegen = interpreted") {
    // any deterministic plane matrix works — parity is about eval paths,
    // not specific buckets
    val rnd = new java.util.Random(7L)
    val planes: Array[Array[Float]] =
      Array.fill(12)(Array.fill(4)(rnd.nextFloat() * 2f - 1f))
    val bandPlanes: Array[Array[Array[Float]]] =
      Array.fill(3)(Array.fill(6)(Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
    def frame = vecs.select($"id",
      Rhp.signature($"v", planes).as("sig"),
      Rhp.bandSignatures($"v", bandPlanes).as("bands"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("NearestCellsExpr: codegen = interpreted") {
    val centroids = Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, -1.0, 0.5))
    def frame = vecs.select($"id",
      newspipe.ops.IvfCells.nearestCells($"v", centroids, 2).as("cells"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("DoubleDot: codegen = interpreted") {
    def frame = vecs.filter($"v".isNotNull).select($"id",
      ArrayMath.dot($"v", $"v").as("d"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("WinnowFingerprints: codegen = interpreted") {
    def frame = docs.select($"id",
      TextKernels.winnow(TextKernels.tokens($"text"), 4, 4).as("fps"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("BloomMightContain + CmsAtLeast: codegen = interpreted (incl. null propagation)") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putString("the quick brown fox jumps over the lazy dog tonight")
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 1)
    (1 to 3).foreach(_ =>
      cms.addString("completely different text about spark engines at scale"))
    val bcBf = spark.sparkContext.broadcast(bf)
    val bcCms = spark.sparkContext.broadcast(cms)
    def frame = docs.select($"id",
      BloomMightContain.probe($"text", bcBf).as("bloom"),
      CmsAtLeast.probe($"text", bcCms, 2L).as("cms"))
    val (g, i) = bothWays(frame)
    g shouldBe i
    // sanity: the planted members actually probe true
    val byId = frame.collect().map(r => r.getLong(0) ->
      (r.isNullAt(1), if (r.isNullAt(1)) false else r.getBoolean(1),
        if (r.isNullAt(2)) false else r.getBoolean(2))).toMap
    byId(1L)._2 shouldBe true  // bloom member
    byId(2L)._3 shouldBe true  // cms count 3 >= 2
    byId(3L)._1 shouldBe true  // null text → null probe
  }

  test("SentimentScore: codegen = interpreted = legacy UDF") {
    val texts = Seq(
      (1L, "this is a very good and truly wonderful excellent result"),
      (2L, "a terrible awful disaster, not good at all"),
      (3L, "not bad, actually quite nice"),
      (4L, "nothing scored here, plain reporting text"),
      (5L, null.asInstanceOf[String]),
      (6L, ""),
      (7L, "barely helpful but extremely slow and somewhat disappointing")
    ).toDF("id", "text")
    def native = texts.select($"id",
      SentimentAnalyzer.sentiment($"text").as("s"))
    val (g, i) = bothWays(native)
    g shouldBe i
    // the native expression must be float-identical to the UDF it replaced
    // (q20's oracle replays the UDF's arithmetic)
    val viaUdf = texts.select($"id",
        SentimentAnalyzer.sentimentUdf($"text").as("s"))
      .collect().map(_.toString).toSeq.sorted
    g shouldBe viaUdf
  }

  test("PatternSentimentScore: codegen = interpreted = scalar kernel") {
    val rows = Seq(
      (1L, "a very good and truly wonderful excellent result"),
      (2L, "not really good, a terrible awful disaster"),
      (3L, "really not good but isn't bad :)"),
      (4L, "nothing scored here"),
      (5L, null.asInstanceOf[String]),
      (6L, ""))
    val texts = rows.toDF("id", "text")
    def native = texts.select($"id",
      SentimentAnalyzer.sentiment($"text", textblobParity = true).as("s"))
    val (g, i) = bothWays(native)
    g shouldBe i
    val viaScalar = rows.map { case (id, t) =>
      val s = PatternSentiment.score(t)
      (id, s.polarity, s.label)
    }
    val fromDf = native.collect().map(r => (r.getLong(0),
      Option(r.getStruct(1).get(0)).map(_.asInstanceOf[Float]),
      Option(r.getStruct(1).getString(1)))).toSeq
    fromDf shouldBe viaScalar
  }

  test("TokenizeWords + WordShingles: codegen = interpreted") {
    def frame = docs.select($"id",
      TextKernels.tokens($"text").as("toks"),
      TextKernels.shingles(TextKernels.tokens($"text"), 3).as("sh"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }

  test("TokenizeWords + WordShingles: native = HOF chain they replaced") {
    // the oracle SQL replays the HOF semantics (regexp_split_to_array +
    // list_distinct of slice-joins), so the kernels must match the chain
    // exactly — including the [""] shingle of an all-separator doc, unicode
    // lowercasing, and first-occurrence distinct order
    val tricky = docs.union(Seq(
      (5L, "...!!!   "),
      (6L, "a b a b a b a b"),
      (7L, "ÅÉÎ Straße Ⅻ one two three four"),
      (8L, "o'neill can't '' ' x1 2y z")
    ).toDF("id", "text"))
    // qualify length/size — ScalaTest's Matchers shadow the sql.functions
    val F = org.apache.spark.sql.functions
    def hofTokens(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "[^a-z0-9']+"), t => F.length(t) > 0)
    def hofShingles(toks: org.apache.spark.sql.Column, n: Int) =
      array_distinct(transform(
        sequence(lit(1), greatest(F.size(toks) - (n - 1), lit(1))),
        i => array_join(slice(toks, i, lit(n)), " ")))
    val native = tricky.select($"id",
        TextKernels.tokens($"text").as("toks"),
        TextKernels.shingles(TextKernels.tokens($"text"), 3).as("sh"))
      .collect().map(_.toString).sorted
    val hof = tricky
      .select($"id", hofTokens($"text").as("toks"))
      .select($"id", $"toks", hofShingles($"toks", 3).as("sh"))
      .collect().map(_.toString).sorted
    native shouldBe hof
  }

  test("UnicodeNormalize: codegen = interpreted (all forms, mixed scripts)") {
    def frame = Seq(
      (1L, "caf" + "\u00e9"),
      (2L, "cafe" + "\u0301"),
      (3L, "\ufb01\uff21\u00b2\u212b"),
      (4L, "plain ascii"),
      (5L, null.asInstanceOf[String]),
      (6L, "")
    ).toDF("id", "text").select($"id",
      UnicodeNormalize($"text", "NFC").as("nfc"),
      UnicodeNormalize($"text", "NFD").as("nfd"),
      UnicodeNormalize($"text", "NFKC").as("nfkc"),
      UnicodeNormalize($"text", "NFKD").as("nfkd"))
    val (g, i) = bothWays(frame)
    g shouldBe i
  }
}
