package newspipe.pipeline

import newspipe.functions.Keys
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold modeling stage — ref 03_gold_modeling_news_articles.py:18-105 plus the
  * three ad-hoc analytic aggregates (03:134-155).
  *
  * Star schema: `dim_source(SOURCE, SOURCE_ID)`, `dim_author(AUTHOR,
  * AUTHOR_ID)`, `fact_news_articles` (14 cols, 03:62-77). Surrogate keys
  * default to the reference's legacy `row_number` form (global window +
  * 5-char truncate — see [[newspipe.functions.Keys]] for the documented
  * hazards and the scale-safe `md5` mode used at 100 TB).
  *
  * `dim_date` is advertised by the reference (README.md:67) but never
  * implemented there; we implement it (SURVEY.md §1) and flag the gap.
  */
object Gold {

  /** Generic dimension: distinct natural key → fillna("UNKNOWN") → surrogate
    * id (ref 03:36-44). `keyMode` ∈ legacy | padded | md5.
    */
  def dim(silver: DataFrame, naturalCol: String, idCol: String,
      keyMode: String = "legacy"): DataFrame =
    Keys.withSurrogateKey(
      silver.select(naturalCol).distinct().na.fill("UNKNOWN"),
      naturalCol, idCol, keyMode)

  def dimSource(silver: DataFrame, keyMode: String = "legacy"): DataFrame =
    dim(silver, "SOURCE", "SOURCE_ID", keyMode)

  def dimAuthor(silver: DataFrame, keyMode: String = "legacy"): DataFrame =
    dim(silver, "AUTHOR", "AUTHOR_ID", keyMode)

  /** Date dimension over a span — the reference advertises `dim_date`
    * (README.md:67) without building it. Generated with `sequence` +
    * `explode`: distributed, no driver loop.
    */
  def dimDate(spark: SparkSession, start: String, end: String): DataFrame =
    spark.range(1).select(
        explode(sequence(to_date(lit(start)), to_date(lit(end)))).as("DATE"))
      .select(
        date_format(col("DATE"), "yyyyMMdd").as("DATE_ID"),
        col("DATE"),
        year(col("DATE")).as("YEAR"),
        month(col("DATE")).as("MONTH"),
        dayofmonth(col("DATE")).as("DAY"),
        dayofweek(col("DATE")).as("DAY_OF_WEEK"))

  /** Fact build — ref 03:47-77: fillna("UNKNOWN") on the whole silver frame
    * (string cols only, Spark semantics match PySpark), date casts, two
    * USING equi-joins against the dims (both broadcast — dims are tiny
    * relative to the fact at any scale), global ARTICLE_ID, 14-col
    * projection.
    */
  def fact(silver: DataFrame, dimSource: DataFrame, dimAuthor: DataFrame,
      keyMode: String = "legacy"): DataFrame = {
    val prepared = silver.na.fill("UNKNOWN")
      .withColumn("PUBLISHED_DATE", to_date(col("PUBLISHED_DATE")))
      .withColumn("INGESTION_TIME", to_date(col("INGESTION_TIME")))
    val joined = prepared
      .join(broadcast(dimSource), Seq("SOURCE"))
      .join(broadcast(dimAuthor), Seq("AUTHOR"))
    val withId = keyMode match {
      case "legacy" => joined.withColumn("ARTICLE_ID", Keys.legacyRowNumberKey("URL"))
      case "padded" => joined.withColumn("ARTICLE_ID", Keys.paddedRowNumberKey("URL"))
      case "md5"    => joined.withColumn("ARTICLE_ID", Keys.md5Key(col("URL")))
      case other    => throw new IllegalArgumentException(s"unknown key mode: $other")
    }
    withId.select("ARTICLE_ID", "SOURCE_ID", "AUTHOR_ID", "DOMAIN", "COUNTRY",
      "PUBLISHED_DATE", "INGESTION_TIME", "SENTIMENT_SCORE", "SENTIMENT_LABEL",
      "CONTENT_WORD_COUNT", "TITLE", "DESCRIPTION", "CONTENT", "URL")
  }

  /** Analytic model 1 — top publishers (ref 03:131-137: over silver, not
    * fact). Tie-break on SOURCE added for deterministic output (the
    * reference's bare `count desc` is nondeterministic across ties).
    */
  def topPublishers(silver: DataFrame): DataFrame =
    silver.groupBy("SOURCE").count()
      .orderBy(desc("count"), asc("SOURCE"))

  /** Analytic model 2 — sentiment trends by day (ref 03:140-146). */
  def sentimentTrends(silver: DataFrame): DataFrame =
    silver.groupBy("PUBLISHED_DATE", "SENTIMENT_LABEL").count()
      .orderBy(asc("PUBLISHED_DATE"), asc("SENTIMENT_LABEL"))

  /** Analytic model 3 — country distribution (ref 03:148-153). */
  def countryDistribution(silver: DataFrame): DataFrame =
    silver.groupBy("COUNTRY").count()
      .orderBy(desc("count"), asc("COUNTRY"))

  /** Full silver→gold as three frames over one silver frame: dims + fact,
    * the dims broadcast into the fact. Writing all three runs the dim
    * builds twice (once per dim write, once inside the fact's
    * broadcasts); [[Pipeline.run]] writes the dims first and joins the
    * fact against the written layers instead.
    */
  def build(silver: DataFrame, keyMode: String = "legacy")
      : (DataFrame, DataFrame, DataFrame) = {
    val ds = dimSource(silver, keyMode)
    val da = dimAuthor(silver, keyMode)
    (ds, da, fact(silver, ds, da, keyMode))
  }
}
