package newspipe.pipeline

import newspipe.SparkTestBase
import newspipe.io.LakeConfig
import java.nio.file.Files

/** §3 E1-E3 as one runnable flow: JSON in, star schema + quarantine on disk. */
class EndToEndSpec extends SparkTestBase {
  import spark.implicits._

  /** Latest committed snapshot dir of an atomically-written layer. */
  private def latestSnapshot(layerPath: String): java.io.File =
    new java.io.File(s"$layerPath/_v").listFiles()
      .filter(d => new java.io.File(d, "_COMMITTED").exists())
      .maxBy(_.getName)

  private val fixtures = Seq(
    """{"source":{"name":"BBC"},"author":"Alice","title":"Excellent results","description":"d","url":"https://bbc.co.uk/1","publishedAt":"2026-01-02T10:00:00Z","content":"c"}""",
    """{"source":{"name":"CNN"},"author":"Bob","title":null,"description":"bad","url":"https://cnn.com/2","publishedAt":"2026-01-02T11:00:00Z","content":"c"}""",
    """{"source":{"name":"CNN"},"author":"Cara","title":"Committee meets","description":"d","url":"https://cnn.com/3","publishedAt":"2026-01-03T09:00:00Z","content":"c"}"""
  )

  test("Pipeline.run lands every layer with consistent counts") {
    val base = Files.createTempDirectory("e2e").toString
    val result = Pipeline.run(spark, fixtures,
      Pipeline.Config(LakeConfig(base), keyMode = "md5"),
      now = java.time.Instant.parse("2026-01-05T00:00:00Z"))

    result.bronzeRows shouldBe 3
    result.quarantineRows shouldBe 1 // null title
    result.silverRows shouldBe 2
    result.factRows shouldBe 2
    result.dimSourceRows shouldBe 2 // BBC, CNN

    // layers exist on disk; silver's committed snapshot is COUNTRY-partitioned
    val lake = new newspipe.io.Lake(spark, LakeConfig(base))
    latestSnapshot(s"$base/silver").listFiles()
      .map(_.getName).exists(_.startsWith("COUNTRY=")) shouldBe true
    lake.read("gold/fact_news_articles").count() shouldBe 2
    // dim_date spans the fact's published dates (2026-01-02 .. 2026-01-03)
    val dimDate = lake.read("gold/dim_date")
    dimDate.count() shouldBe 2
    dimDate.select("DATE_ID").as[String].collect().sorted shouldBe
      Array("20260102", "20260103")
    // raw landing replay copy present
    new java.io.File(s"$base/raw").listFiles().length shouldBe 1
  }

  test("Pipeline.run does not re-run the silver→gold build for Result counts") {
    // Count Spark jobs across a full run: the Result counts and the
    // dim_date span come from the commits' stats, the written layers'
    // schemas from this run's own commits, and the fact joins the dims as
    // written. A recompute of the gold lineage, a re-read count or a
    // footer-inference job shows up as extra jobs.
    val base = Files.createTempDirectory("e2ejobs").toString
    val jobs = jobsDuring(Pipeline.run(spark, fixtures,
      Pipeline.Config(LakeConfig(base), keyMode = "md5"),
      now = java.time.Instant.parse("2026-01-05T00:00:00Z")))
    // measured: 20 jobs (36 when the counts, span and schemas each ran a
    // job and the fact rebuilt both dims inside its broadcasts)
    assert(jobs <= 23, s"Pipeline.run launched $jobs jobs — " +
      "a jump here means Result counts are recomputing the gold lineage again")
  }

  test("a second page on the same lake stays within its job budget") {
    // the benchmark's shape: pages landing one after another in one lake
    val base = Files.createTempDirectory("e2ejobs2").toString
    val cfg = Pipeline.Config(LakeConfig(base))
    Pipeline.run(spark, fixtures, cfg,
      java.time.Instant.parse("2026-01-05T00:00:00Z"))
    val page2 = fixtures.map(_.replace("https://", "https://p2."))
    val jobs = jobsDuring(Pipeline.run(spark, page2, cfg,
      java.time.Instant.parse("2026-01-06T00:00:00Z")))
    // measured: 23 jobs (legacy keys: each dim's global row_number window
    // adds a shuffle job over md5 keys)
    assert(jobs <= 26, s"a steady-state page launched $jobs jobs")
  }

  test("Pipeline.run writes the fact with its declared nullability") {
    // the fact joins the dims read back from their layers; file reads make
    // every column nullable, which must not leak into the fact's footer
    val base = Files.createTempDirectory("e2eschema").toString
    Pipeline.run(spark, fixtures, Pipeline.Config(LakeConfig(base)),
      java.time.Instant.parse("2026-01-05T00:00:00Z"))
    val file = latestSnapshot(s"$base/gold/fact_news_articles").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath),
        spark.sparkContext.hadoopConfiguration))
    val written = try org.apache.spark.sql.types.DataType.fromJson(
        reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    finally reader.close()
    written.fields.map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toSeq shouldBe Seq(
        ("ARTICLE_ID", "string", false), ("SOURCE_ID", "string", false),
        ("AUTHOR_ID", "string", false), ("DOMAIN", "string", false),
        ("COUNTRY", "string", false), ("PUBLISHED_DATE", "date", true),
        ("INGESTION_TIME", "date", true), ("SENTIMENT_SCORE", "float", true),
        ("SENTIMENT_LABEL", "string", false),
        ("CONTENT_WORD_COUNT", "int", true), ("TITLE", "string", false),
        ("DESCRIPTION", "string", false), ("CONTENT", "string", false),
        ("URL", "string", false))
  }

  test("re-running with a new page appends bronze and rebuilds silver/gold (ref modes)") {
    val base = Files.createTempDirectory("e2e2").toString
    val cfg = Pipeline.Config(LakeConfig(base), keyMode = "md5")
    Pipeline.run(spark, fixtures, cfg,
      java.time.Instant.parse("2026-01-05T00:00:00Z"))
    val page2 = Seq(
      """{"source":{"name":"Reuters"},"author":"Eve","title":"New story","description":"d","url":"https://reuters.com/9","publishedAt":"2026-01-06T08:00:00Z","content":"c"}""")
    val second = Pipeline.run(spark, page2, cfg,
      java.time.Instant.parse("2026-01-06T00:00:00Z"))
    second.bronzeRows shouldBe 1 // this run's page
    spark.read.parquet(s"$base/bronze").count() shouldBe 4 // layer appends
    // silver rebuilds from the WHOLE layer (ref 02:29): 4 rows − 1 bad title
    second.silverRows shouldBe 3
    // the bad row is re-quarantined on the second full-layer pass (appended)
    spark.read.parquet(s"$base/quarantine").count() shouldBe 2
    val lake = new newspipe.io.Lake(spark, LakeConfig(base))
    lake.read("gold/fact_news_articles").count() shouldBe 3
    // the first run's silver snapshot is still on disk (both committed)
    new java.io.File(s"$base/silver/_v").listFiles()
      .count(d => new java.io.File(d, "_COMMITTED").exists()) shouldBe 2
  }
}
