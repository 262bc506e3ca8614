package newspipe.pipeline

import newspipe.dq.DqConfig
import newspipe.io.{JsonSource, Lake, LakeConfig, RawLanding}
import org.apache.spark.sql.{DataFrame, NewspipeSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.StructType

/** End-to-end orchestrator — the runnable form of the reference's three
  * notebooks (E1-E3, SURVEY.md §3): raw JSON → bronze → DQ/quarantine →
  * silver (partitioned by COUNTRY) → gold star schema + analytics →
  * catalog publish.
  *
  * Everything below is a composition of the stage functions; this object
  * only sequences writes. Each write happens ONCE (the reference recomputed
  * dims for the Hive publish, E3.3) and the DQ-tagged frame is cached across
  * the valid/quarantine branches (quirk Q1 fix).
  */
object Pipeline {

  final case class Config(
      lake: LakeConfig,
      dq: DqConfig = DqConfig.newsArticles,
      country: String = "us",
      keyMode: String = "legacy",
      publish: Boolean = false)

  final case class Result(
      bronzeRows: Long, silverRows: Long, quarantineRows: Long,
      dimSourceRows: Long, dimAuthorRows: Long, factRows: Long)

  /** Run the full flow from NewsAPI-shaped JSON lines (pages already fetched
    * driver-side, or use `io.source.NewsSource` for the distributed fetch).
    * Every [[Result]] count but `bronzeRows` is the written layer's row
    * count, taken from its commit's stats sidecar
    * ([[newspipe.io.Lake.metadataRowCount]]); only a snapshot without
    * stats is re-read and counted by a Spark job.
    */
  def run(spark: SparkSession, jsonLines: Seq[String], config: Config,
      now: java.time.Instant): Result = {
    val lake = new Lake(spark, config.lake)

    // E1 bronze: raw landing copy + schema'd parse + metadata + cast
    RawLanding.put(config.lake.basePath, s"articles-${now.toEpochMilli}.json",
      jsonLines.mkString("\n"))
    val raw = JsonSource.fromJsonLines(spark, jsonLines)
    val bronze = Bronze.transform(raw, now.toString, config.country)
    lake.write(bronze, "bronze", mode = "append")

    // E2 silver: re-read the ACCUMULATED bronze layer (ref 02:29 reads the
    // whole layer, not just this run's page), then DQ split (tagged frame
    // cached), quarantine, enrich
    val bronzeLayer = lake.read("bronze")
    val (silver, quarantine, dq) = Silver.process(bronzeLayer, config.dq,
      java.sql.Timestamp.from(now))
    val qRows = quarantine.map { q =>
      lake.write(q, "quarantine", mode = "append"); q.count()
    }.getOrElse(0L)
    // atomic snapshot: a gold build re-reading silver mid-overwrite (or any
    // concurrent reader) resolves a complete snapshot, never partial files
    lake.writeAtomic(silver, "silver", partitionBy = Seq("COUNTRY"))
    // both DQ branches are written — drop the shared tagged-frame cache so
    // repeated runs on one session don't accumulate pinned executor memory
    dq.release()

    // E3 gold: dims, then the fact joined against the dims AS WRITTEN —
    // its broadcasts scan the two small dim layers instead of rebuilding
    // both dims from silver a second time (publish optionally registers
    // each table)
    val silverBack = lake.read("silver")
    def sink(df: DataFrame, layer: String, table: String): Unit =
      if (config.publish) lake.writeAndPublish(df, layer, table)
      else { lake.writeAtomic(df, layer); () }
    val ds = Gold.dimSource(silverBack, config.keyMode)
    val da = Gold.dimAuthor(silverBack, config.keyMode)
    sink(ds, "gold/dim_source", "dim_source")
    sink(da, "gold/dim_author", "dim_author")
    sink(Gold.fact(silverBack,
        asBuilt(lake.read("gold/dim_source"), ds.schema),
        asBuilt(lake.read("gold/dim_author"), da.schema), config.keyMode),
      "gold/fact_news_articles", "fact_news_articles")
    // dim_date over the fact's actual date span — the reference advertises
    // this table (README.md:66) but never builds it. The span comes from
    // the fact commit's own stats (a scan only when they cannot answer);
    // the dimension itself is generated distributed (sequence + explode,
    // Gold.dimDate).
    val span = lake.metadataMinMax("gold/fact_news_articles", "PUBLISHED_DATE") match {
      case Some(known) => known.map { case (lo, hi) => (lo.toString, hi.toString) }
      case None =>
        val row = lake.read("gold/fact_news_articles").agg(
          min("PUBLISHED_DATE"), max("PUBLISHED_DATE")).head()
        if (row.isNullAt(0)) None
        else Some((row.getDate(0).toString, row.getDate(1).toString))
    }
    span.foreach { case (lo, hi) =>
      sink(Gold.dimDate(spark, lo, hi), "gold/dim_date", "dim_date")
    }

    // snapshot retention: every run lands a fresh silver/gold snapshot —
    // without vacuum the lake grows by one full copy per run. keep=2 leaves
    // the previous snapshot for readers that resolved it mid-run; the
    // default orphan grace protects any concurrent in-flight writer.
    Seq("silver", "gold/dim_source", "gold/dim_author",
      "gold/fact_news_articles", "gold/dim_date")
      .foreach(lake.vacuum(_, keep = 2))

    // Counts come from the WRITTEN layers, never the in-memory frames:
    // those still carry the whole silver→gold lineage, so a .count() would
    // re-run the build. bronzeRows is THIS RUN's page (the layer
    // accumulates across runs, so it cannot be re-read for a batch count)
    // — its lineage is a parse of driver-local JSON lines, one cheap
    // narrow job.
    def rows(layer: String): Long =
      lake.metadataRowCount(layer).getOrElse(lake.read(layer).count())
    Result(bronze.count(), rows("silver"), qRows,
      rows("gold/dim_source"), rows("gold/dim_author"),
      rows("gold/fact_news_articles"))
  }

  /** A dimension read back from its layer with the nullability the built
    * frame had: file reads make every column nullable, and the fact's
    * keys, joined from the dims, would otherwise change its written
    * schema. Sound because the layer holds exactly what the built frame
    * wrote.
    */
  private def asBuilt(readBack: DataFrame, built: StructType): DataFrame =
    readBack.select(built.fields.toSeq.map { f =>
      if (f.nullable) col(f.name)
      else NewspipeSqlBridge.knownNotNull(col(f.name)).as(f.name)
    }: _*)
}
