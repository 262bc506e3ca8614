package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import newspipe.dq.DqConfig
import newspipe.io.{Lake, LakeConfig}
import newspipe.pipeline.{Gold, Pipeline, Silver}
import org.apache.spark.sql.functions._

/** The paper's flow: NewsAPI-shaped pages of 100 articles, one at a time
  * through `Pipeline.run` into one lake whose bronze layer accumulates.
  * A round is one page.
  */
final class NewsIngest(val run: Run) extends Workload {
  import NewsIngest._
  val unitOp = "page"
  private val spark = run.spark
  private val t0 = java.time.Instant.parse("2026-10-01T00:00:00Z")

  /** One lake: its directory and the articles landed in it so far. */
  private final class LakeState(val no: Int, val dir: String) {
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    val articles = mutable.ArrayBuffer.empty[Gen.Article]
    var pages = 0
    var inputBytes = 0L
  }
  private var measured: LakeState = _
  private var ratio = Double.NaN
  private var pagesTimed = 0L

  private def page(st: LakeState, timed: Boolean): Unit = {
    val rows = Gen.newsPage(run.seed, st.no, st.pages, st.articles.flatMap(_.url)
      .filter(_.nonEmpty).distinct.toIndexedSeq)
    val lines = rows.map(_.json)
    val now = t0.plusSeconds(60L * (1000 * st.no + st.pages))
    val cfg = Pipeline.Config(LakeConfig(basePath = st.dir))
    run.op("page", timed, Some(st.dir), if (timed) Sampled else Set.empty)(
      Pipeline.run(spark, lines, cfg, now)) { res =>
      st.articles ++= rows
      st.pages += 1
      st.inputBytes += lines.map(_.getBytes("UTF-8").length + 1).sum
      checkPage(st, res, now)
    }
    if (timed) { pagesTimed += 1; replays(st, now) }
    run.quiesce(Option(feedQuery).map(_.id).toSet)
  }

  private def checkPage(st: LakeState, res: Pipeline.Result,
      now: java.time.Instant): Unit = {
    val lake = st.lake
    val bronze = st.articles.size.toLong
    val valid = Gen.validCount(st.articles.toSeq)
    require(res.bronzeRows == Gen.PageSize, s"page bronze rows ${res.bronzeRows}")
    val bronzeRows = lake.read("bronze").count()
    require(bronzeRows == bronze, s"bronze holds $bronzeRows rows, $bronze landed")
    require(res.silverRows == valid && res.quarantineRows == bronze - valid,
      s"silver ${res.silverRows} + quarantine ${res.quarantineRows}, model $valid + ${bronze - valid}")
    val qNow = lake.read("quarantine")
      .filter(col("ingestion_time") === lit(java.sql.Timestamp.from(now))).count()
    require(qNow == bronze - valid, s"quarantine layer holds $qNow rows of this run")
    val s = lake.read("silver").agg(count(lit(1)), countDistinct(col("URL")),
      sum(when(col("URL").isNull || col("URL") === "", 1).otherwise(0)),
      sum(when(col("TITLE").isNull, 1).otherwise(0))).head()
    require(s.getLong(0) == valid && s.getLong(1) == valid && s.getLong(2) == 0 &&
      s.getLong(3) == 0, s"silver rows/distinct urls/empty urls/null titles: $s")
    val fact = lake.read("gold/fact_news_articles")
    require(res.factRows == valid && fact.count() == valid, s"fact rows ${res.factRows}")
    val orphans =
      fact.join(lake.read("gold/dim_source"), Seq("SOURCE_ID"), "left_anti").count() +
        fact.join(lake.read("gold/dim_author"), Seq("AUTHOR_ID"), "left_anti").count()
    require(orphans == 0, s"$orphans fact keys do not resolve in their dimension")
  }

  /** Traced runs: replay the page's DQ split, silver and gold stages on
    * the accumulated bronze, and count the lake's live files.
    */
  private def replays(st: LakeState, now: java.time.Instant): Unit = if (run.tracer.isDefined) {
    val bronze = st.lake.read("bronze")
    run.replay("dq.split") {
      val dq = Silver.dqSplit(Silver.flattenSource(bronze), DqConfig.newsArticles)
      val q = dq.quarantined.map(_.count()).getOrElse(0L)
      dq.valid.write.format("noop").mode("overwrite").save()
      run.add("dq.quarantined_rows", q.toDouble)
    }
    run.replay("pipeline.silver") {
      val (silver, quarantine, dq) = Silver.process(bronze, DqConfig.newsArticles,
        java.sql.Timestamp.from(now))
      silver.write.format("noop").mode("overwrite").save()
      quarantine.foreach(_.write.format("noop").mode("overwrite").save())
      dq.release()
    }
    run.replay("pipeline.gold") {
      val (ds, da, fact) = Gold.build(st.lake.read("silver"))
      Seq(ds, da, fact).foreach(_.write.format("noop").mode("overwrite").save())
    }
    feed(st)
    // point lookups of landed urls through the silver layer's stats
    val r = Gen.rng(run.seed, 5000L + st.pages)
    val urls = st.articles.flatMap(_.url).filter(_.nonEmpty).toIndexedSeq
    (0 until Lookups).foreach { _ =>
      val u = urls(r.nextInt(urls.size))
      run.replay("io.lookup")(st.lake.readWhere("silver", col("URL") === u).collect())
      st.lake.pruneInfo("silver", col("URL") === u).foreach { p =>
        run.add("io.lookup_files_kept", p.keptFiles)
        run.add("io.lookup_files_total", p.totalFiles)
      }
    }
    val snapshotFiles = SnapshotLayers.flatMap(l =>
      st.lake.pruneInfo(l, lit(true)).map(_.totalFiles)).sum
    val flat = Seq("bronze", "quarantine").map { l =>
      val s = Files.list(Paths.get(st.dir, l))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }.sum
    run.add("io.live_files", (snapshotFiles + flat).toDouble)
  }

  /** Traced runs: a keyed change feed on the silver layer (one
    * `LakeChangeSource` stream, started after the first page), running
    * beside the pipeline as a downstream consumer does and caught up with
    * `processAllAvailable` after each page. Per page it must deliver the
    * urls that became valid (inserts) and those a later page's duplicate
    * made invalid (deletes).
    */
  private def feed(st: LakeState): Unit = {
    val valid = Gen.validUrls(st.articles.toSeq)
    if (feedQuery == null) {
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => fedRows.addAndGet(df.count())
      feedQuery = spark.readStream.format("newspipe.io.source.LakeChangeSource")
        .option("basePath", st.dir).option("layer", "silver")
        .option("startingVersion", "latest").option("keyColumns", "URL")
        .load().writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"${st.dir}/_feed_checkpoint").start()
      feedQuery.processAllAvailable()
      fedRows.set(0)
    } else {
      val expected = (valid -- fedValid).size + (fedValid -- valid).size
      run.replay("io.feed")(feedQuery.processAllAvailable())
      val got = fedRows.getAndSet(0)
      if (got != expected) {
        System.err.println(s"perfbench: feed delivered $got rows, model expects $expected")
        replayMismatch = true
      }
      feedQuery.recentProgress.filter(p => p.batchId > lastBatch &&
          p.durationMs.containsKey("addBatch")).foreach { p =>
        def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        run.add("streaming.trigger_s", ms("triggerExecution") / 1000)
        run.add("streaming.wal_commit_s", (ms("walCommit") + ms("commitOffsets")) / 1000)
        run.add("streaming.batches", 1)
        run.add("streaming.input_rows", p.numInputRows.toDouble)
      }
      // the feed reads the files the silver commit added and removed
      val h = st.lake.historyRows("silver", Some(1)).head
      run.add("io.feed_files_read", Seq(4, 5).map(i => if (h.isNullAt(i)) 0L else h.getLong(i)).sum.toDouble)
    }
    lastBatch = Option(feedQuery.lastProgress).map(_.batchId).getOrElse(-1L)
    fedValid = valid
  }
  private var feedQuery: org.apache.spark.sql.streaming.StreamingQuery = _
  private val fedRows = new java.util.concurrent.atomic.AtomicLong()
  private var lastBatch = -1L
  private var fedValid = Set.empty[String]
  private var replayMismatch = false

  def setup(): Unit = {
    // untimed warm-up on a throwaway lake
    val warm = new LakeState(-1, run.newLake("warmup"))
    run.warmUp("pages", WarmupPages)(page(warm, timed = false))
    measured = new LakeState(0, run.newLake("news"))
  }

  def round(i: Int): Unit = {
    page(measured, timed = true)
    if (measured.pages == RatioPages) ratio = Run.dirBytes(measured.dir).toDouble / measured.inputBytes
  }
  override def minRounds: Int = RatioPages
  def finish(): Boolean = !ratio.isNaN && !replayMismatch
  def lakeRatio: Double = ratio
  def items: Long = pagesTimed * Gen.PageSize
}

object NewsIngest {
  /** Untimed pages before timing: page time drops from ~15 s to ~3 s over
    * these (JIT, codegen caches); it is still falling slowly after them.
    */
  val WarmupPages = 3
  /** Silver lookups per page in traced runs. */
  val Lookups = 4
  /** The lake-size ratio is taken after this many pages of the measured lake. */
  val RatioPages = 2
  val SnapshotLayers = Seq("silver", "gold/dim_source", "gold/dim_author",
    "gold/fact_news_articles", "gold/dim_date")
  /** Lake entry points whose driver-side time the sampler attributes. */
  val Sampled = Set("write", "writeAtomic", "vacuum")
}
