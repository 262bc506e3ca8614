package newspipe.io

import java.nio.file.Files

import newspipe.SparkTestBase
import newspipe.ops.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted near-dedup index ([[Lake.createDedupIndex]] /
  * [[Lake.nearDups]] / [[DedupIndex]]): one banded-MinHash signature
  * artifact per immutable data file, O(increment) maintenance on append,
  * incremental new-vs-corpus pairing without re-shingling text,
  * exact-Jaccard verification against the alive corpus, artifact
  * borrowing across shallow clones, and parity with the from-scratch
  * [[Dedup.minhashCandidates]] pipeline.
  */
class LakeDedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  /** Deterministic corpus: 12-word texts hash-derived from the id —
    * distinct ids give Jaccard ≈ 0 (shingle space ≫ shingles per doc),
    * so only PLANTED copies pair up.
    */
  private def docText(i: Long): String =
    (0 until 12).map { j =>
      var z = i * 1000003L + j * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      vocab(math.floorMod(z, vocab.size.toLong).toInt)
    }.mkString(" ")

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, docText(i.toLong))).toDF("doc_id", "text")

  /** `ids` re-landed under id+1000 with the LAST word changed: 11 shared
    * words → 9 of 10+1 distinct trigrams shared → Jaccard 9/11 ≈ 0.818,
    * above the 0.8 floor but not an exact copy.
    */
  private def nearCopies(ids: Range): DataFrame =
    ids.map { i =>
      val words = docText(i.toLong).split(" ")
      ((i + 1000).toLong, (words.dropRight(1) :+ "zulu").mkString(" "))
    }.toDF("doc_id", "text")

  private def newLake(): (String, Lake) = {
    val base = Files.createTempDirectory("lake_didx").toString
    (base, new Lake(spark, LakeConfig(basePath = base)))
  }

  private def shardCount(base: String, layer: String, name: String): Int = {
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    DedupIndex.existingShards(f, s"$base/$layer", name).size
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"),
      round(col("jaccard"), 6)).as[(Long, Long, Double)].collect().toSet

  test("create + nearDups: pairs match the from-scratch MinHash pipeline " +
      "exactly; artifacts build once per file and maintenance is a no-op") {
    val (base, lake) = newLake()
    val corpus = docs(0 until 60)
      .union(docs(0 until 8).select($"doc_id" + 500, $"text")) // exact copies
      .union(nearCopies(10 until 16))
      .toDF("doc_id", "text")
    lake.writeAtomic(corpus.repartitionByRange(4, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    val built = lake.createDedupIndex("docs", "dix", "text", "doc_id")
    built shouldBe 4
    shardCount(base, "docs", "dix") shouldBe 4
    lake.maintainDedupIndexes("docs") shouldBe 0
    val truth = Dedup.jaccardVerify(
      Dedup.minhashCandidates(corpus, "doc_id", "text"),
      corpus, "doc_id", "text", threshold = 0.8)
    val indexed = lake.nearDups("docs")
    val got = pairsOf(indexed)
    got shouldBe pairsOf(truth)
    // every planted exact copy verifies at 1.0
    val j = got.map { case (a, b, v) => ((a, b), v) }.toMap
    (0L until 8L).foreach { i => j((i, i + 500L)) shouldBe 1.0 }
  }

  test("incremental nearDups(since): a new batch pairs against the whole " +
      "corpus from persisted signatures; old-old pairs stay out") {
    val (base, lake) = newLake()
    lake.writeAtomic(docs(0 until 60)
      .union(docs(0 until 4).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
      .repartitionByRange(3, $"doc_id").sortWithinPartitions("doc_id"),
      "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id") shouldBe 3
    val v1 = lake.listVersions("docs").head
    // new batch: copies of docs 20..26 (dups vs OLD corpus) + one fresh
    // doc 900 (no dup anywhere) + an exact pair INSIDE the batch
    val twinText = docText(77) + " extra"
    val batch = docs(20 until 26).select($"doc_id" + 2000, $"text")
      .toDF("doc_id", "text")
      .union(docs(900 until 901))
      .union(Seq((3000L, twinText), (3001L, twinText))
        .toDF("doc_id", "text"))
    lake.appendAtomic(batch.coalesce(1), "docs")
    shardCount(base, "docs", "dix") shouldBe 4 // the increment's shard only
    lake.maintainDedupIndexes("docs") shouldBe 0
    val inc = pairsOf(lake.nearDups("docs", sinceVersion = Some(v1)))
    // every new-vs-old copy pair is found, at jaccard 1.0
    (20L until 26L).foreach { i => inc should contain ((i, i + 2000L, 1.0)) }
    // the inside-batch pair is found too (both sides new)
    inc should contain ((3000L, 3001L, 1.0))
    // NO old-old pair leaks in: 0/500-series pairs predate the batch
    inc.filter { case (a, b, _) => a < 2000L && b < 2000L } shouldBe empty
    // bucket-pruning parity: the eager path prunes corpus artifacts by
    // the landing's bucket Blooms, the lazy path reads them all — the
    // pairs must be IDENTICAL (pruning is exact for recall)
    pairsOf(lake.nearDups("docs", sinceVersion = Some(v1),
      eager = false)) shouldBe inc
    // and the full (non-incremental) run still sees those old pairs
    pairsOf(lake.nearDups("docs"))
      .filter { case (a, b, _) => a < 600L && b < 600L } should not be empty
  }

  test("bucket-Bloom probe threshold (round 19): below " +
      "dedupPruneMinArtifacts the probe job is skipped outright; a lake " +
      "configured to always probe returns IDENTICAL pairs and dedup " +
      "decisions") {
    def scenario(cfg: String => LakeConfig): (Set[(Long, Long, Double)],
        Lake.AppendDedupResult) = {
      val base = Files.createTempDirectory("lake_didx_thr").toString
      val lake = new Lake(spark, cfg(base))
      lake.writeAtomic(docs(0 until 50)
        .repartitionByRange(5, $"doc_id").sortWithinPartitions("doc_id"),
        "docs")
      lake.createDedupIndex("docs", "dix", "text", "doc_id")
      val v1 = lake.listVersions("docs").head
      lake.appendAtomic(docs(10 until 14)
        .select(($"doc_id" + 2000).as("doc_id"), $"text").coalesce(1),
        "docs")
      val inc = pairsOf(lake.nearDups("docs", sinceVersion = Some(v1)))
      val r = lake.appendDeduped(docs(20 until 23)
        .select(($"doc_id" + 4000).as("doc_id"), $"text")
        .union(docs(950 until 952)), "docs")
      (inc, r)
    }
    // default config: 6 artifacts < 64 → unpruned path (no probe job)
    val (pairsDefault, dedupDefault) =
      scenario(b => LakeConfig(basePath = b))
    // threshold 1: every incremental read computes the probe and prunes
    val (pairsPruned, dedupPruned) =
      scenario(b => LakeConfig(basePath = b, dedupPruneMinArtifacts = 1))
    pairsPruned shouldBe pairsDefault
    pairsDefault.map(p => (p._1, p._2)) shouldBe
      (10L until 14L).map(i => (i, i + 2000L)).toSet
    dedupPruned.landed shouldBe dedupDefault.landed
    dedupPruned.droppedVsCorpus shouldBe dedupDefault.droppedVsCorpus
    dedupDefault.landed shouldBe 2L // the fresh 950/951; 4020-22 are dups
    dedupDefault.droppedVsCorpus shouldBe 3L
  }

  test("v1 (pre-Bloom) signature artifacts stay readable and simply " +
      "unprunable: stripping the header changes cost, never pairs") {
    val (base, lake) = newLake()
    lake.writeAtomic(docs(0 until 40)
      .union(docs(0 until 4).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
      .repartitionByRange(3, $"doc_id").sortWithinPartitions("doc_id"),
      "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val v1 = lake.listVersions("docs").head
    lake.appendAtomic(docs(7 until 9)
      .select(($"doc_id" + 3000).as("doc_id"), $"text").coalesce(1),
      "docs")
    val expect = pairsOf(lake.nearDups("docs", sinceVersion = Some(v1)))
    expect.map(p => (p._1, p._2)) shouldBe Set((7L, 3007L), (8L, 3008L))
    // rewrite every artifact in the LEGACY v1 layout (magic DSG1, no
    // Bloom header) — the deserializer must read them fully
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val shards = DedupIndex.shardsDir(s"$base/docs", "dix")
    f.listStatus(shards).map(_.getPath)
      .filter(_.getName.endsWith(DedupIndex.Ext)).foreach { p =>
        val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        val in = f.open(p)
        try in.readFully(bytes) finally in.close()
        val triples = DedupIndex.deserialize(bytes)
        val bos = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(bos)
        out.writeInt(0x44534731) // "DSG1"
        out.writeInt(triples.length)
        triples.foreach { case (id, band, bucket) =>
          out.writeLong(id); out.writeInt(band); out.writeLong(bucket)
        }
        out.flush()
        val os = f.create(p, true)
        try os.write(bos.toByteArray) finally os.close()
        f.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
      }
    pairsOf(lake.nearDups("docs", sinceVersion = Some(v1))) shouldBe expect
    pairsOf(lake.nearDups("docs")).map(p => (p._1, p._2)) shouldBe
      Set((0L, 500L), (1L, 501L), (2L, 502L), (3L, 503L),
        (7L, 3007L), (8L, 3008L))
  }

  test("deletion vectors + artifact loss degrade cost, never answers: a " +
      "DV-deleted doc verifies away; a deleted artifact re-signs inline") {
    val (base, lake) = newLake()
    val corpus = docs(0 until 40)
      .union(docs(0 until 6).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
    lake.writeAtomic(corpus.repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val before = pairsOf(lake.nearDups("docs"))
    before.map(p => (p._1, p._2)) shouldBe
      (0L until 6L).map(i => (i, i + 500L)).toSet
    // DV-delete one copy (no file rewrite): its pair must disappear —
    // the artifact still carries id 503, but stale ids verify away
    // against the ALIVE corpus
    lake.deleteWhereDv("docs", col("doc_id") === 503L)
      .rewrittenFiles shouldBe 0
    val after = pairsOf(lake.nearDups("docs"))
    after.map(p => (p._1, p._2)) shouldBe
      (0L until 6L).filter(_ != 3L).map(i => (i, i + 500L)).toSet
    // knock out one artifact: same answers through the inline-sign path
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val shards = DedupIndex.shardsDir(s"$base/docs", "dix")
    val victim = f.listStatus(shards).map(_.getPath)
      .filter(_.getName.endsWith(DedupIndex.Ext)).sortBy(_.getName).head
    f.delete(victim, false)
    pairsOf(lake.nearDups("docs")) shouldBe after
    // maintenance heals the hole
    lake.maintainDedupIndexes("docs") shouldBe 1
  }

  test("shallow clone borrows signature artifacts; full overwrite resets " +
      "coverage and REFRESH rebuilds it") {
    val (base, lake) = newLake()
    val corpus = docs(0 until 40)
      .union(docs(0 until 5).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
    lake.writeAtomic(corpus.repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val expect = pairsOf(lake.nearDups("docs"))
    lake.clone("docs", "fork")
    lake.dedupIndexes("fork").map(_.name) shouldBe Seq("dix")
    shardCount(base, "fork", "dix") shouldBe 0 // borrowed, not copied
    lake.maintainDedupIndexes("fork") shouldBe 0
    val (_, covered, total) = lake.dedupIndexStatus("fork").head
    covered shouldBe total
    pairsOf(lake.nearDups("fork")) shouldBe expect
    // full overwrite: deliberately NOT auto-signed (O(corpus) inside a
    // write) — coverage drops, answers hold, REFRESH restores coverage
    lake.writeAtomic(corpus.repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    val (_, cov2, tot2) = lake.dedupIndexStatus("docs").head
    cov2 shouldBe 0
    tot2 shouldBe 2
    pairsOf(lake.nearDups("docs")) shouldBe expect
    lake.refreshDedupIndex("docs", "dix") shouldBe 2
    val (_, cov3, _) = lake.dedupIndexStatus("docs").head
    cov3 shouldBe 2
  }

  test("borrow validation: a source that recreates a same-named index " +
      "with a different LSH split is refused — the clone re-signs " +
      "inline and still finds every pair (no silent misses)") {
    val (base, lake) = newLake()
    val corpus = docs(0 until 40)
      .union(docs(0 until 5).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
    lake.writeAtomic(corpus.repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val expect = pairsOf(lake.nearDups("docs"))
    expect.map(p => (p._1, p._2)) shouldBe
      (0L until 5L).map(i => (i, i + 500L)).toSet
    lake.clone("docs", "fork")
    pairsOf(lake.nearDups("fork")) shouldBe expect
    // the source recreates the name with a different bands/hashes split:
    // its artifacts' (band, bucket) space no longer matches the fork's
    // meta — borrowing them would silently MISS true near-dup pairs
    lake.dropDedupIndex("docs", "dix")
    lake.createDedupIndex("docs", "dix", "text", "doc_id",
      numHashes = 32, bands = 8)
    val (_, covered, _) = lake.dedupIndexStatus("fork").head
    covered shouldBe 0 // nothing borrowable any more
    pairsOf(lake.nearDups("fork")) shouldBe expect // inline re-sign
    // fork maintenance builds LOCAL artifacts under ITS parameters
    lake.maintainDedupIndexes("fork") shouldBe 3
    pairsOf(lake.nearDups("fork")) shouldBe expect
  }

  test("a STREAMING-sink micro-batch (landBatch = appendAtomic + txn " +
      "ledger) signs its file like any append — the next incremental " +
      "dedup re-shingles nothing") {
    val (base, lake) = newLake()
    lake.writeAtomic(docs(0 until 40).repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val v1 = lake.listVersions("docs").head
    val before = shardCount(base, "docs", "dix")
    newspipe.io.source.LakeStreamSink.landBatch(base, "docs", Nil,
      Some("didx_app"), 0L,
      docs(5 until 8).select(($"doc_id" + 7000).as("doc_id"), $"text")
        .toDF("doc_id", "text").coalesce(1))
    shardCount(base, "docs", "dix") shouldBe before + 1
    lake.maintainDedupIndexes("docs") shouldBe 0
    pairsOf(lake.nearDups("docs", sinceVersion = Some(v1)))
      .map(p => (p._1, p._2)) shouldBe
      (5L until 8L).map(i => (i, i + 7000L)).toSet
  }

  test("appendDeduped: only non-duplicate rows land — intra-batch " +
      "keep-min-id, corpus near-dups shed through persisted signatures, " +
      "an all-duplicate batch commits nothing") {
    val (_, lake) = newLake()
    lake.writeAtomic(docs(0 until 50).repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    // batch: 6 verbatim copies of old docs + 4 fresh docs + a fresh twin
    // pair (identical text, distinct ids)
    val twinText = (0 until 15).map(j => s"zulu$j").mkString(" ")
    val batch = docs(10 until 16)
      .select(($"doc_id" + 1000).as("doc_id"), $"text")
      .toDF("doc_id", "text")
      .union(docs(900 until 904))
      .union(Seq((2000L, twinText), (2001L, twinText))
        .toDF("doc_id", "text"))
    val r = lake.appendDeduped(batch, "docs")
    r.droppedInBatch shouldBe 1 // the twin's larger id
    r.droppedVsCorpus shouldBe 6 // every verbatim copy
    r.landed shouldBe 5
    r.snapshot.isDefined shouldBe true
    lake.read("docs").filter($"doc_id" >= 900)
      .select("doc_id").as[Long].collect().toSet shouldBe
      Set(900L, 901L, 902L, 903L, 2000L)
    // the landing signed its own file — the next batch re-signs nothing
    lake.maintainDedupIndexes("docs") shouldBe 0
    // an all-duplicate batch (the fresh docs re-landed under new ids)
    // commits NOTHING — no snapshot, no version bump
    val head = lake.listVersions("docs").head
    val r2 = lake.appendDeduped(docs(900 until 904)
      .select(($"doc_id" + 5000).as("doc_id"), $"text")
      .toDF("doc_id", "text"), "docs")
    r2.landed shouldBe 0
    r2.droppedVsCorpus shouldBe 4
    r2.snapshot shouldBe None
    lake.listVersions("docs").head shouldBe head
    // empty batch: noop
    val r3 = lake.appendDeduped(docs(0 until 0), "docs")
    r3.landed shouldBe 0
    r3.snapshot shouldBe None
    // txn fence: a same-ID replay is INVISIBLE to content dedup (a row
    // never pairs with itself) — the (appId, batchId) ledger catches it
    val rt = lake.appendDeduped(docs(950 until 952), "docs",
      txn = Some(("dd_app", 7L)))
    rt.landed shouldBe 2
    val headT = lake.listVersions("docs").head
    val replay = lake.appendDeduped(docs(950 until 952), "docs",
      txn = Some(("dd_app", 7L)))
    replay shouldBe Lake.AppendDedupResult(None, 0L, 0L, 0L)
    lake.listVersions("docs").head shouldBe headT
    // …while the same CONTENT under new ids in a NEW batch id is
    // content-deduped as usual
    val rc = lake.appendDeduped(docs(950 until 952)
      .select(($"doc_id" + 8000).as("doc_id"), $"text")
      .toDF("doc_id", "text"), "docs", txn = Some(("dd_app", 8L)))
    rc.landed shouldBe 0
    rc.droppedVsCorpus shouldBe 2
  }

  test("REORG APPLY (PURGE) re-signs its rewritten outputs, and widening " +
      "the keyed id column (metadata-only) leaves every signature " +
      "valid — nearDups pairs unchanged with zero re-signs") {
    val (_, lake) = newLake()
    val corpus = docs(0 until 40)
      .union(docs(0 until 5).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
      .select($"doc_id".cast("int").as("doc_id"), $"text")
    lake.writeAtomic(corpus.repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    // DV-delete one copy, then PURGE: rewrite drops the row physically
    // and the post-commit hook signs the rewritten file
    lake.deleteWhereDv("docs", $"doc_id" === 502)
    lake.purgeDeletionVectors("docs").rewrittenFiles shouldBe 1
    lake.maintainDedupIndexes("docs") shouldBe 0 // REORG re-signed
    pairsOf(lake.nearDups("docs")).map(p => (p._1, p._2)) shouldBe
      (0L until 5L).filter(_ != 2L).map(i => (i, i + 500L)).toSet
    // widen int → long: metadata-only; signatures key ids as longs
    // already, so artifacts stay valid and pairs identical
    lake.widenColumn("docs", "doc_id",
      org.apache.spark.sql.types.LongType).rewrittenFiles shouldBe 0
    lake.maintainDedupIndexes("docs") shouldBe 0
    pairsOf(lake.nearDups("docs")).map(p => (p._1, p._2)) shouldBe
      (0L until 5L).filter(_ != 2L).map(i => (i, i + 500L)).toSet
  }

  test("SQL surface: CREATE DEDUP INDEX / lake_near_dups TVF / SHOW / " +
      "REFRESH / DROP") {
    val (base, lake) = newLake()
    newspipe.NewspipeExtensions.register(spark)
    val corpus = docs(0 until 40)
      .union(docs(0 until 5).select($"doc_id" + 500, $"text"))
      .toDF("doc_id", "text")
    lake.writeAtomic(corpus.repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    val r = LakeSql.sql(spark,
      s"CREATE DEDUP INDEX dix ON lake.`$base`.docs (text) ID doc_id " +
        "THRESHOLD 0.8 HASHES 64 BANDS 16 SHINGLE 3").collect().head
    r.getString(0) shouldBe "CREATE DEDUP INDEX"
    r.getString(1) shouldBe "shards=3"
    // TVF route ≡ API route; lazy — EXPLAIN launches no jobs
    val sqlPairs = spark.sql(
      s"""SELECT id_a, id_b, round(jaccard, 6) AS j
         |FROM lake_near_dups('$base', 'docs')
         |ORDER BY id_a, id_b""".stripMargin)
      .as[(Long, Long, Double)].collect().toSet
    sqlPairs shouldBe pairsOf(lake.nearDups("docs"))
    sqlPairs.map(p => (p._1, p._2)) shouldBe
      (0L until 5L).map(i => (i, i + 500L)).toSet
    // incremental form: a 3rd arg pins the since-version
    val v1 = lake.listVersions("docs").head
    lake.appendAtomic(docs(7 until 9)
      .select(($"doc_id" + 3000).as("doc_id"), $"text").coalesce(1),
      "docs")
    spark.sql(
      s"""SELECT id_a, id_b FROM
         |lake_near_dups('$base', 'docs', '$v1')
         |ORDER BY id_a""".stripMargin)
      .as[(Long, Long)].collect().toSeq shouldBe
      Seq((7L, 3007L), (8L, 3008L))
    // SHOW: parameters + coverage; REFRESH: no-op when covered
    val show = LakeSql.sql(spark,
      s"SHOW DEDUP INDEXES ON lake.`$base`.docs").collect()
    show.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getDouble(7),
      r.getInt(8), r.getInt(9))).toSeq shouldBe
      Seq(("dix", "doc_id", "text", 64, 16, 4, 3, 0.8, 4, 4))
    LakeSql.sql(spark, s"REFRESH DEDUP INDEX dix ON lake.`$base`.docs")
      .collect().head.getString(1) shouldBe "shards=0"
    LakeSql.sql(spark, s"DROP DEDUP INDEX dix ON lake.`$base`.docs")
      .collect().head.getString(0) shouldBe "DROP DEDUP INDEX"
    lake.dedupIndexes("docs") shouldBe empty
    intercept[IllegalArgumentException] {
      lake.nearDups("docs")
    }
  }

  test("declaration contract: bad params refused, duplicate name refused, " +
      "drop removes the index, vacuum prunes rewritten-away artifacts") {
    val (base, lake) = newLake()
    lake.writeAtomic(docs(0 until 20).repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    intercept[IllegalArgumentException] {
      lake.createDedupIndex("docs", "dix", "text", "doc_id", bands = 7)
    }
    intercept[IllegalArgumentException] {
      lake.createDedupIndex("docs", "dix", "nope", "doc_id")
    }
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    intercept[IllegalArgumentException] {
      lake.createDedupIndex("docs", "dix", "text", "doc_id")
    }
    // compaction rewrites every file → new artifacts for the outputs;
    // vacuum then reclaims the inputs' orphaned artifacts
    lake.compact("docs")
    lake.maintainDedupIndexes("docs") shouldBe 0 // compact auto-signed
    val live = lake.describeDetail("docs").numFiles.toInt
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    shardCount(base, "docs", "dix") shouldBe live
    lake.dropDedupIndex("docs", "dix")
    lake.dedupIndexes("docs") shouldBe Nil
    intercept[NoSuchElementException] {
      lake.dropDedupIndex("docs", "dix")
    }
    // a keyed column cannot be renamed away from a live index
    lake.setProperties("docs", Map("lake.columnMapping.mode" -> "name"))
    lake.createDedupIndex("docs", "dix2", "text", "doc_id")
    intercept[IllegalArgumentException] {
      lake.renameColumn("docs", "text", "body")
    }
    lake.dropDedupIndex("docs", "dix2")
    lake.renameColumn("docs", "text", "body") // free once the index is gone
  }

  /** One layer both index families key: id, text and a 16-dim vector. */
  private def mixed(ids: Range): DataFrame =
    ids.map { i =>
      val vec = (0 until 16).map { j =>
        var z = i * 1000003L + j + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        ((z ^ (z >>> 31)) & 0xffffffL).toDouble / 0xffffffL.toDouble - 0.5
      }.toArray
      (i.toLong, docText(i.toLong), vec)
    }.toDF("doc_id", "text", "vec")
      .select($"doc_id", $"text", $"vec".cast("array<double>").as("vec"))

  test("both families on one layer: appends, vacuum, REFRESH, clone " +
      "borrowing, the keyed-column guard and drop each act per family") {
    val (base, lake) = newLake()
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def vShards(layer: String) =
      VectorIndex.existingShards(f, s"$base/$layer", "vix")
    def dShards(layer: String) =
      DedupIndex.existingShards(f, s"$base/$layer", "dix")
    def files(layer: String) = lake.describeDetail(layer).numFiles.toInt
    lake.writeAtomic(mixed(0 until 30).repartitionByRange(3, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createVectorIndex("docs", "vix", "vec", "doc_id") shouldBe 3
    lake.createDedupIndex("docs", "dix", "text", "doc_id") shouldBe 3

    // an append's post-commit hook builds exactly one artifact per new
    // file in EACH family
    val (v0, d0) = (vShards("docs"), dShards("docs"))
    lake.appendAtomic(mixed(100 until 120).repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    val added = files("docs") - 3
    added should be >= 1
    (vShards("docs") -- v0).size shouldBe added
    (dShards("docs") -- d0).size shouldBe added
    v0.subsetOf(vShards("docs")) shouldBe true
    d0.subsetOf(dShards("docs")) shouldBe true
    lake.maintainVectorIndexes("docs") shouldBe 0
    lake.maintainDedupIndexes("docs") shouldBe 0

    // compaction rewrites every file; vacuum reclaims each family's dead
    // artifacts and keeps exactly the live files'
    val (v1, d1) = (vShards("docs"), dShards("docs"))
    lake.compact("docs")
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    val live = files("docs")
    vShards("docs").size shouldBe live
    dShards("docs").size shouldBe live
    (vShards("docs") & v1) shouldBe empty
    (dShards("docs") & d1) shouldBe empty

    // a full overwrite is not auto-maintained; REFRESH without a name
    // reports and builds only its own family's shards
    lake.writeAtomic(mixed(0 until 30).repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.vectorIndexStatus("docs").map(_._2) shouldBe Seq(0)
    lake.dedupIndexStatus("docs").map(_._2) shouldBe Seq(0)
    val rv = LakeSql.sql(spark,
      s"REFRESH VECTOR INDEX ON lake.`$base`.docs").collect().head
    (rv.getString(0), rv.getString(1)) shouldBe
      (("REFRESH VECTOR INDEX", "shards=2"))
    lake.vectorIndexStatus("docs").map(_._2) shouldBe Seq(2)
    lake.dedupIndexStatus("docs").map(_._2) shouldBe Seq(0)
    val rd = LakeSql.sql(spark,
      s"REFRESH DEDUP INDEX ON lake.`$base`.docs").collect().head
    (rd.getString(0), rd.getString(1)) shouldBe
      (("REFRESH DEDUP INDEX", "shards=2"))
    lake.dedupIndexStatus("docs").map(_._2) shouldBe Seq(2)

    // a shallow clone borrows both families: declarations ride, zero
    // shard files are copied, and every file is covered
    lake.clone("docs", "fork")
    lake.vectorIndexes("fork").map(_.name) shouldBe Seq("vix")
    lake.dedupIndexes("fork").map(_.name) shouldBe Seq("dix")
    vShards("fork") shouldBe empty
    dShards("fork") shouldBe empty
    lake.maintainVectorIndexes("fork") shouldBe 0
    lake.maintainDedupIndexes("fork") shouldBe 0
    lake.vectorIndexStatus("fork").map(s => (s._2, s._4)) shouldBe
      Seq((2, 2))
    lake.dedupIndexStatus("fork").map(s => (s._2, s._3)) shouldBe
      Seq((2, 2))

    // a column both families key cannot be renamed; the refusal names
    // both indexes
    lake.setProperties("docs", Map("lake.columnMapping.mode" -> "name"))
    val refused = intercept[IllegalArgumentException] {
      lake.renameColumn("docs", "doc_id", "id2")
    }.getMessage
    refused should include("vector index 'vix'")
    refused should include("dedup index 'dix'")

    // dropping one family's index leaves the other's declaration and
    // shards in place
    val dLeft = dShards("docs")
    lake.dropVectorIndex("docs", "vix")
    lake.vectorIndexes("docs") shouldBe Nil
    vShards("docs") shouldBe empty
    lake.dedupIndexes("docs").map(_.name) shouldBe Seq("dix")
    dShards("docs") shouldBe dLeft
  }

  test("index layout is fixed: shard names are md5(qualified data-file " +
      "path) + Ext in both families, and _INDEX.json round-trips") {
    val (base, lake) = newLake()
    lake.writeAtomic(mixed(0 until 12).repartitionByRange(2, $"doc_id")
      .sortWithinPartitions("doc_id"), "docs")
    lake.createVectorIndex("docs", "vix", "vec", "doc_id", m = 8)
    lake.createDedupIndex("docs", "dix", "text", "doc_id", bands = 8)
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val md5s = lake.read("docs").inputFiles.toSeq.map { p =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(f.makeQualified(new Path(p)).toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    md5s should have size 2
    def names(dir: String): Set[String] =
      f.listStatus(new Path(dir)).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet
    names(s"$base/docs/_vindex/vix/shards") shouldBe md5s.map(_ + ".ann").toSet
    names(s"$base/docs/_dindex/dix/shards") shouldBe md5s.map(_ + ".sig").toSet
    def meta(dir: String): String = {
      val in = f.open(new Path(dir, "_INDEX.json"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val vJson = meta(s"$base/docs/_vindex/vix")
    VectorIndex.fromJson(vJson) shouldBe
      VectorIndex.Meta("vix", "hnsw", "doc_id", "vec", 8, 128)
    VectorIndex.toJson(VectorIndex.fromJson(vJson)) shouldBe vJson
    val dJson = meta(s"$base/docs/_dindex/dix")
    DedupIndex.fromJson(dJson) shouldBe
      DedupIndex.Meta("dix", "doc_id", "text", 64, 8, 8, 3, 0.8)
    DedupIndex.toJson(DedupIndex.fromJson(dJson)) shouldBe dJson
  }
}
