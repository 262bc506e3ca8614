package newspipe

/** The SparkSessionExtensions surface: native expressions as SQL functions. */
class ExtensionsSpec extends SparkTestBase {

  test("double_dot is callable from SQL after registration") {
    NewspipeExtensions.register(spark)
    val v = spark.sql(
      "SELECT double_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    v shouldBe 11.0 +- 1e-12
  }

  test("double_dot participates in a SQL aggregation over a table") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.5))).toDF("id", "v")
      .createOrReplaceTempView("vecs")
    val n = spark.sql(
      "SELECT count(*) AS n FROM vecs WHERE double_dot(v, v) > 0.4")
      .head().getLong(0)
    n shouldBe 2L
  }

  test("extension class applies cleanly to a SparkSessionExtensions instance") {
    // builder-path smoke: the injection list is well-formed
    new NewspipeExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("the curation surface is callable from SQL (same kernels as the DataFrame API)") {
    NewspipeExtensions.register(spark)
    val row = spark.sql(
      """SELECT quality_score('the cat sat on the mat and it was good for the day is here now') AS q,
        |  redact_pii('mail me@x.example.com now') AS r,
        |  word_count('a b c') AS wc,
        |  lang_id('the cat and the dog in the house that was of it') AS l,
        |  dup_token_ratio('spam spam spam ham') AS d""".stripMargin).head()
    row.getDouble(0) should be > 0.5
    row.getString(1) shouldBe "mail [REDACTED] now"
    row.getInt(2) shouldBe 3
    row.getString(3) shouldBe "en"
    row.getDouble(4) shouldBe 0.5 +- 1e-9
  }

  test("SQL sentiment returns the struct form (polarity + label)") {
    NewspipeExtensions.register(spark)
    val row = spark.sql(
      "SELECT sentiment('excellent wonderful great').label AS l").head()
    row.getString(0) shouldBe "positive"
  }

  test("the dedup signature surface is callable from SQL (native kernels)") {
    NewspipeExtensions.register(spark)
    val row = spark.sql(
      """SELECT tokens('The cat, the CAT!') AS t,
        |  size(shingles('a b c d')) AS ns,
        |  minhash_signature(shingles('a b c d')) AS sig,
        |  simhash('the quick brown fox') AS sh""".stripMargin).head()
    row.getSeq[String](0) shouldBe Seq("the", "cat", "the", "cat")
    row.getInt(1) shouldBe 2 // "a b c", "b c d"
    row.getSeq[Long](2).length shouldBe 64
    // identical text → identical signatures through SQL and DataFrame paths
    import spark.implicits._
    val df = Seq("the quick brown fox").toDF("t")
      .select(newspipe.ops.Dedup.simhash(org.apache.spark.sql.functions.col("t")))
      .as[Long].head()
    row.getLong(3) shouldBe df
  }

  test("winnow_fingerprints is callable from SQL and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    val sql = spark.sql(
      "SELECT winnow_fingerprints(tokens('a b c d e f g h'), 4, 4) AS fps")
      .head().getSeq[Long](0)
    import spark.implicits._
    val df = Seq("a b c d e f g h").toDF("t")
      .select(newspipe.functions.TextKernels.winnow(
        newspipe.ops.Dedup.tokens(org.apache.spark.sql.functions.col("t")), 4, 4))
      .head().getSeq[Long](0)
    sql shouldBe df
    sql should not be empty
    // non-literal k (a column reference) is rejected at analysis
    intercept[Exception] {
      spark.sql(
        "SELECT winnow_fingerprints(tokens(t), x, 4) FROM (VALUES ('a b', 2)) AS v(t, x)")
        .head()
    }
  }

  test("asof_join is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    Seq((1L, 10L, "c1"), (1L, 25L, "c2"), (2L, 5L, "c3"))
      .toDF("k", "ts", "cid").createOrReplaceTempView("clicks_tf")
    Seq((1L, 8L, 1.0), (1L, 20L, 2.0), (2L, 9L, 3.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("purch_tf")
    val sqlOut = spark.sql(
      """SELECT cid, r_v FROM asof_join('clicks_tf', 'purch_tf', 'k', 'ts')
        |ORDER BY cid""".stripMargin)
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    // c1: latest purchase at/before ts=10 for k=1 is 8→1.0; c2: 20→2.0;
    // c3: k=2 has no purchase at/before ts=5 → null
    sqlOut shouldBe Array(("c1", 1.0), ("c2", 2.0), ("c3", null))
    val api = newspipe.ops.AsOfJoin.asOf(
      spark.table("clicks_tf"), spark.table("purch_tf"), "k", "ts")
      .select("cid", "r_v").orderBy("cid")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    sqlOut shouldBe api
  }

  test("range_join is callable in FROM position with a literal bucket width") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    (0L to 50L).map(x => (x, x)).toDF("x", "pid")
      .createOrReplaceTempView("pts_tf")
    Seq((10L, 20L, "w1"), (40L, 45L, "w2")).toDF("s", "e", "wid")
      .createOrReplaceTempView("win_tf")
    val out = spark.sql(
      """SELECT wid, count(*) AS n
        |FROM range_join('pts_tf', 'win_tf', 'x', 's', 'e', 16)
        |GROUP BY wid ORDER BY wid""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("w1", 11L), ("w2", 6L))
  }

  test("winnow_pairs is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val run = "the licensed text block appears verbatim in both of these documents here today"
    Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zeta eta theta $run kappa lambda"),
      (3L, "completely unrelated content about something else entirely new")
    ).toDF("id", "text").createOrReplaceTempView("wdocs")
    val sql = spark.sql(
      "SELECT id_a, id_b, n_shared FROM winnow_pairs('wdocs', 'id', 'text', 2) ORDER BY id_a, id_b")
      .as[(Long, Long, Long)].collect().toSeq
    val df = newspipe.ops.Winnow.nearDupPairs(spark.table("wdocs"),
        "id", "text", minShared = 2L)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    sql shouldBe df
    sql.map(p => (p._1, p._2)) should contain((1L, 2L))
  }

  test("minhash_pairs is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    Seq(
      (1L, base),
      (2L, base.replace("tonight", "today")), // ~0.9 shingle Jaccard vs 1
      (3L, "completely different text about spark query engines and columnar execution")
    ).toDF("id", "text").createOrReplaceTempView("mhdocs")
    val sql = spark.sql(
      "SELECT id_a, id_b, round(jaccard, 6) AS j FROM minhash_pairs('mhdocs', 'id', 'text', 0.8) ORDER BY id_a, id_b")
      .as[(Long, Long, Double)].collect().toSeq
    val cand = newspipe.ops.Dedup.minhashCandidates(
      spark.table("mhdocs"), "id", "text")
    val df = newspipe.ops.Dedup.jaccardVerify(cand, spark.table("mhdocs"),
        "id", "text", threshold = 0.8)
      .selectExpr("id_a", "id_b", "round(jaccard, 6) AS j")
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    sql shouldBe df
    sql.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L))
    // threshold is validated at analysis time
    an[Exception] should be thrownBy
      spark.sql("SELECT * FROM minhash_pairs('mhdocs', 'id', 'text', 1.5)").collect()
  }

  test("minhash_pairs resolution and EXPLAIN launch no Spark jobs (lazy SQL path)") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    Seq((1L, "some document text body here"), (2L, "other unrelated text content"))
      .toDF("id", "text").createOrReplaceTempView("mhlazy")
    Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "v").createOrReplaceTempView("vecs_lazy")
    // analysis + optimization + physical planning, but NO execution (the
    // old eager localCheckpoint ran planning jobs)
    jobsDuring {
      val df = spark.sql("SELECT * FROM minhash_pairs('mhlazy', 'id', 'text', 0.8)")
      df.queryExecution.executedPlan // force full planning
      spark.sql("EXPLAIN SELECT * FROM knn_join('vecs_lazy', 'id', 'v', 2, 1)")
    } shouldBe 0
  }

  test("chunk is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "alpha beta gamma"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text").createOrReplaceTempView("cdocs")
    val sql = spark.sql(
      "SELECT doc_id, chunk_idx, chunk_text FROM chunk('cdocs', 'doc_id', 'text', 5, 2) ORDER BY doc_id, chunk_idx")
      .as[(Long, Long, String)].collect().toSeq
    val df = newspipe.ops.Chunker.chunk(spark.table("cdocs"), "doc_id", "text",
        size = 5, overlap = 2)
      .orderBy("doc_id", "chunk_idx").as[(Long, Long, String)].collect().toSeq
    sql shouldBe df
    sql.head._3 shouldBe "one two three four five"
    // 4-arg form defaults overlap to 0
    val noOverlap = spark.sql(
      "SELECT count(*) AS n FROM chunk('cdocs', 'doc_id', 'text', 5)").head().getLong(0)
    noOverlap shouldBe newspipe.ops.Chunker.chunk(spark.table("cdocs"),
      "doc_id", "text", size = 5).count()
  }

  test("knn_join is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val centers = Seq.fill(3)(Array.fill(8)(rnd.nextGaussian()))
    val rows = for (c <- centers.indices; i <- 0 until 8) yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      ((c * 8 + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding").createOrReplaceTempView("kvecs")
    val sql = spark.sql(
      "SELECT query_id, neighbor_id, round(cos, 6) AS c, rank FROM knn_join('kvecs', 'vec_id', 'embedding', 8, 3) ORDER BY query_id, rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val df = newspipe.ops.Similarity.knnJoin(spark.table("kvecs"),
        "vec_id", "embedding", dim = 8, k = 3)
      .selectExpr("query_id", "neighbor_id", "round(cos, 6) AS c", "rank")
      .orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    sql shouldBe df
    // clustered fixture: rank-1 neighbors stay within the home cluster
    sql.filter(_._4 == 1).foreach { case (q, n, _, _) => (n / 8) shouldBe (q / 8) }
  }

  test("tfidf is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    Seq(
      (1L, "spark shuffles and spark plans"),
      (2L, "garlic onions and braising"),
      (3L, "spark plans for braising garlic")
    ).toDF("doc_id", "text").createOrReplaceTempView("tdocs")
    val sql = spark.sql(
      "SELECT doc_id, token, tf, df, round(tfidf, 6) AS s, rank " +
        "FROM tfidf('tdocs', 'doc_id', 'text', 2) ORDER BY doc_id, rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toSeq
    val df = newspipe.ops.Retrieval.tfIdf(spark.table("tdocs"),
        "doc_id", "text", k = 2)
      .selectExpr("doc_id", "token", "tf", "df", "round(tfidf, 6) AS s", "rank")
      .orderBy("doc_id", "rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toSeq
    sql shouldBe df
    sql.count(_._6 == 1) shouldBe 3 // one top term per doc
  }

  test("dsir_select is callable in FROM position and matches the DataFrame API") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "stars galaxies telescopes"), (2L, "galaxies stars nebulae"),
      (10L, "stars galaxies observed"), (11L, "garlic onions dinner"),
      (12L, "telescopes stars galaxies"), (13L, "braising onions butter")
    ).toDF("doc_id", "text")
    docs.filter($"doc_id" < 10).createOrReplaceTempView("dsir_tgt")
    docs.filter($"doc_id" >= 10).createOrReplaceTempView("dsir_raw")
    val sql = spark.sql(
      "SELECT doc_id, round(log_weight, 6) AS w, rank " +
        "FROM dsir_select('dsir_tgt', 'dsir_raw', 'doc_id', 'text', 2, 4096) " +
        "ORDER BY rank")
      .as[(Long, Double, Int)].collect().toSeq
    val df = newspipe.ops.Dsir.select(spark.table("dsir_tgt"),
        spark.table("dsir_raw"), "doc_id", "text", n = 2, buckets = 4096)
      .selectExpr("doc_id", "round(log_weight, 6) AS w", "rank")
      .orderBy("rank").as[(Long, Double, Int)].collect().toSeq
    sql shouldBe df
  }

  test("table functions reject non-literal and wrong-arity arguments") {
    NewspipeExtensions.register(spark)
    intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('a', 'b', 'k')").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM range_join('a','b','x','s','e', 'not_a_number')")
        .collect()
    }
  }

  test("lake_read / lake_read_version / lake_read_asof query the snapshot protocol from SQL") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sql_lake").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "docs")
    lake.deleteWhere("docs", $"id" === 1L) // manifest snapshot on top
    // current state through SQL
    spark.sql(s"SELECT id FROM lake_read('$dir', 'docs')")
      .as[Long].collect() shouldBe Array(2L)
    // pinned old version still reads pre-delete
    val Seq(_, vOld) = lake.listVersions("docs")
    spark.sql(s"SELECT count(*) AS n FROM lake_read_version('$dir', 'docs', '$vOld')")
      .as[Long].head() shouldBe 2L
    // time travel at the old version's commit instant
    val tOld = vOld.take(16).toLong
    spark.sql(s"SELECT count(*) AS n FROM lake_read_asof('$dir', 'docs', $tOld)")
      .as[Long].head() shouldBe 2L
    // composes with ordinary SQL (joins/filters over the TVF)
    spark.sql(
      s"""SELECT count(*) AS n FROM lake_read('$dir', 'docs') l
         |JOIN lake_read_version('$dir', 'docs', '$vOld') o ON l.id = o.id
         |""".stripMargin).as[Long].head() shouldBe 1L
  }

  test("lake_changes_tracked: the row-id-attributed feed from SQL — " +
      "pre/post images share one _row_id, no key declaration") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sql_trk").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "docs")
    lake.enableRowTracking("docs")
    val v0 = lake.listVersions("docs").head
    lake.updateWhere("docs", $"id" === 2L,
      Map("v" -> org.apache.spark.sql.functions.lit("B")))
    val v1 = lake.listVersions("docs").head
    val rows = spark.sql(
      s"SELECT id, v, _row_id, _change_type FROM " +
        s"lake_changes_tracked('$dir', 'docs', '$v0', '$v1')")
      .as[(Long, String, Long, String)].collect()
    rows.map(r => (r._1, r._2, r._4)).toSet shouldBe Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"))
    rows.map(_._3).toSet.size shouldBe 1 // ONE shared row id
    // over a longer range through a DV delete and a compaction, the table
    // function IS the API feed, row for row
    lake.deleteWhereDv("docs", $"id" === 1L)
    lake.compact("docs")
    val v3 = lake.listVersions("docs").head
    val api = lake.changeFeedTracked("docs", v0, v3)
    val sql = spark.sql(
      s"SELECT * FROM lake_changes_tracked('$dir', 'docs', '$v0', '$v3')")
    sql.columns.toSeq shouldBe api.columns.toSeq
    sql.collect().sortBy(_.toString).toSeq shouldBe
      api.collect().sortBy(_.toString).toSeq
    api.filter($"_change_type" === "delete").select("id").as[Long]
      .collect() shouldBe Array(1L)
  }

  test("lake_changes / lake_changes_keyed: table_changes() from SQL equals the API feed") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sql_cdf").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "docs")
    lake.mergeInto("docs", Seq((2L, "b2"), (5L, "e")).toDF("id", "v"),
      Seq("id"))
    val versions = lake.listVersions("docs")
    val (vFrom, vTo) = (versions.last, versions.head)
    spark.sql(
      s"SELECT id, v, _change_type FROM lake_changes('$dir', 'docs', " +
        s"'$vFrom', '$vTo')").as[(Long, String, String)].collect().toSet shouldBe
      Set((2L, "b", "delete"), (2L, "b2", "insert"), (5L, "e", "insert"))
    spark.sql(
      s"SELECT id, v, _change_type FROM lake_changes_keyed('$dir', 'docs', " +
        s"'$vFrom', '$vTo', 'id')").as[(Long, String, String)].collect()
      .toSet shouldBe Set((2L, "b", "update_preimage"),
        (2L, "b2", "update_postimage"), (5L, "e", "insert"))
    // composes: aggregate the feed by change type in plain SQL
    spark.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM lake_changes_keyed('$dir', 'docs', '$vFrom', '$vTo', 'id')
         |GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(String, Long)].collect() shouldBe
      Array(("insert", 1L), ("update_postimage", 1L), ("update_preimage", 1L))
    // over a longer range through a DV delete and a compaction, each
    // table function IS its API feed, row for row
    lake.deleteWhereDv("docs", $"id" === 1L)
    lake.compact("docs")
    val vHead = lake.listVersions("docs").head
    def same(sqlText: String, api: org.apache.spark.sql.DataFrame): Unit = {
      val sql = spark.sql(sqlText)
      sql.columns.toSeq shouldBe api.columns.toSeq
      sql.collect().sortBy(_.toString).toSeq shouldBe
        api.collect().sortBy(_.toString).toSeq
    }
    same(s"SELECT * FROM lake_changes('$dir', 'docs', '$vFrom', '$vHead')",
      lake.changeFeed("docs", vFrom, vHead))
    same(s"SELECT * FROM lake_changes_keyed('$dir', 'docs', '$vFrom', " +
      s"'$vHead', 'id')", lake.changeFeedKeyed("docs", vFrom, vHead, Seq("id")))
    lake.changeFeed("docs", vFrom, vHead)
      .filter($"_change_type" === "delete").select("id").as[Long]
      .collect().sorted shouldBe Array(1L, 2L)
  }


  test("lake_history TVF: the commit ledger is queryable in FROM position") {
    NewspipeExtensions.register(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ext_hist").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), "docs")
    lake.deleteWhere("docs", $"id" === 1L)
    val rows = spark.sql(
      s"SELECT ordinal, operation FROM lake_history('$dir', 'docs') ORDER BY ordinal")
      .as[(Int, String)].collect().toSeq
    rows shouldBe Seq((1, "WRITE"), (2, "DELETE"))
    // composes like any table: join the ledger against itself on parentage
    val n = spark.sql(
      s"""SELECT count(*) FROM lake_history('$dir', 'docs') c
         |JOIN lake_history('$dir', 'docs') p ON c.parent = p.version""".stripMargin)
      .head().getLong(0)
    n shouldBe 1 // the DELETE's parent is the WRITE
  }

  test("catalog SQL joins auto-broadcast a small lake table with NO " +
      "hint (stats flow through the LakeV2ReadRewrite v1 plan)") {
    import newspipe.io.{Lake, LakeCatalog, LakeConfig}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("extstats").toString
    // a REAL extension session (resolution rules can't be injected into a
    // live session) — the LakeV2ReadRewrite path is what's under test
    val s2 = org.apache.spark.sql.NewspipeSqlBridge.sessionWithExtensions(
      spark, new NewspipeExtensions()(_))
    s2.conf.set("spark.sql.catalog.exstat", classOf[LakeCatalog].getName)
    s2.conf.set("spark.sql.catalog.exstat.basePath", dir)
    val lake = new Lake(s2, LakeConfig(basePath = dir))
    lake.writeAtomic(
      Seq((0L, "d0"), (1L, "d1")).toDF("bucket", "label"), "dim")
    import scala.jdk.CollectionConverters._
    s2.createDataFrame(
      (1L to 20000L).map(i => org.apache.spark.sql.Row(i, i % 2)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, bucket BIGINT"))
      .createOrReplaceTempView("exstat_fact")
    val prev = s2.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      val df = s2.sql(
        "SELECT f.id, d.label FROM exstat_fact f " +
          "JOIN exstat.dim d ON f.bucket = d.bucket")
      // the STATIC plan (pre-AQE) must already pick the broadcast — that
      // proves the decision came from the relation's metadata statistics,
      // not from AQE's runtime shuffle sizes
      val static = df.queryExecution.sparkPlan.toString
      static should include("BroadcastHashJoin")
      static should not include "SortMergeJoin"
    } finally
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
