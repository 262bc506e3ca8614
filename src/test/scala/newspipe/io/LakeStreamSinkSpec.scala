package newspipe.io

import java.nio.file.Files

import newspipe.SparkTestBase
import newspipe.io.source.LakeStreamSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming lake SINK (`writeStream.format("lake")` / `.toTable`):
  * every micro-batch lands as one txn-fenced atomic append — a fresh
  * layer first gets an empty creating commit, a flat layer holding data
  * is refused — with at-least-once replays fenced to exactly-once
  * content. Closes the produce half the change source consumes (ref
  * `docs/pipeline_overview.md:160-166`, streaming ingestion as named
  * future work).
  */
class LakeStreamSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def operations(lake: Lake, layer: String): Seq[String] =
    lake.history(layer).orderBy("ordinal").select("operation").as[String]
      .collect().toSeq

  test("format(lake) into a fresh layer: a WRITE creates it, every batch " +
      "is a STREAMING APPEND") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_fresh")
    val ckpt = freshDir("sink_fresh_ck")
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "text").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      stream.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.isSnapshotManaged("docs") shouldBe true
    val rows = lake.read("docs")
    rows.columns.toSeq shouldBe Seq("id", "text")
    rows.select("id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    operations(lake, "docs") shouldBe
      Seq("WRITE", "STREAMING APPEND", "STREAMING APPEND")
    lake.txnVersion("docs", ckpt) shouldBe Some(1L)
  }

  test("fresh layer: a checkpoint-reset replay lands no row twice") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_fresh_replay")
    def run(ckpt: String, data: Seq[(Long, String)]): Unit = {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF().toDF("id", "text").writeStream
        .format("lake")
        .option("basePath", base).option("layer", "docs")
        .option("txnAppId", "appA")
        .option("checkpointLocation", ckpt)
        .start()
      try { data.foreach { r => stream.addData(r); q.processAllAvailable() } }
      finally q.stop()
    }
    run(freshDir("sink_fresh_replay_ck1"), Seq((1L, "a"), (2L, "b")))
    // a WIPED checkpoint replays both rows as batch 0: fenced
    run(freshDir("sink_fresh_replay_ck2"), Seq((1L, "a"), (2L, "b")))
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.read("docs").select("id").as[Long].collect().sorted shouldBe
      Array(1L, 2L)
  }

  test("a layer holding data files but no commit is refused, not hidden") {
    val base = freshDir("sink_flat")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.write(Seq((1L, "a")).toDF("id", "text"), "docs", mode = "append")
    val e = intercept[IllegalArgumentException] {
      LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 0L,
        Seq((2L, "b")).toDF("id", "text"))
    }
    e.getMessage should include("CONVERT TO LAKE")
    lake.isSnapshotManaged("docs") shouldBe false
    lake.read("docs").select("id").as[Long].collect() shouldBe Array(1L)
    // once adopted, the same batch lands on top of the flat rows
    lake.convertToLake("docs")
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 0L,
      Seq((2L, "b")).toDF("id", "text"))
    lake.read("docs").select("id").as[Long].collect().sorted shouldBe
      Array(1L, 2L)
  }

  test("properties declared before the first batch are metadata, not data") {
    val base = freshDir("sink_declared")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    // the layer root holds only _PROPERTIES.json and its hidden checksum
    lake.setProperties("docs", Map("lake.partitionBy" -> "lang"))
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 0L,
      Seq((1L, "en")).toDF("id", "lang"))
    lake.partitionColumns("docs") shouldBe Seq("lang")
    lake.read("docs").select("id").as[Long].collect() shouldBe Array(1L)
  }

  test("format(lake) with path option and partitionBy") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_path")
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "lang").writeStream
      .format("lake")
      .partitionBy("lang")
      .option("checkpointLocation", freshDir("sink_path_ck"))
      .start(s"$base/docs")
    try { stream.addData((1L, "en"), (2L, "fr")); q.processAllAvailable() }
    finally q.stop()
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.read("docs").where($"lang" === "en").select("id")
      .as[Long].collect() shouldBe Array(1L)
    // hive layout: the creating commit declares lang, the batch lands in it
    lake.partitionColumns("docs") shouldBe Seq("lang")
  }

  test("snapshot-managed layer: commits are STREAMING APPEND, txn-fenced " +
      "across a checkpoint-reset replay") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_snap")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((0L, "seed")).toDF("id", "text"), "docs")

    def run(ckpt: String, data: Seq[(Long, String)]): Unit = {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF().toDF("id", "text").writeStream
        .format("lake")
        .option("basePath", base).option("layer", "docs")
        .option("txnAppId", "appA")
        .option("checkpointLocation", ckpt)
        .start()
      try { data.foreach { r => stream.addData(r); q.processAllAvailable() } }
      finally q.stop()
    }

    run(freshDir("sink_snap_ck1"), Seq((1L, "a"), (2L, "b")))
    lake.read("docs").count() shouldBe 3
    lake.txnVersion("docs", "appA") shouldBe Some(1L)
    lake.history("docs").where($"operation" === "STREAMING APPEND")
      .count() shouldBe 2

    // a WIPED checkpoint replays the whole source as batch 0/1 — the txn
    // ledger (latest = 1) fences both; content must not change
    run(freshDir("sink_snap_ck2"), Seq((1L, "a"), (2L, "b")))
    lake.read("docs").count() shouldBe 3

    // a DIFFERENT app id is a different writer — its batch 0 lands
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "text").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("txnAppId", "appB")
      .option("checkpointLocation", freshDir("sink_snap_ck3"))
      .start()
    try { stream.addData((9L, "z")); q.processAllAvailable() }
    finally q.stop()
    lake.read("docs").count() shouldBe 4
    lake.txnVersion("docs", "appB") shouldBe Some(0L)
    lake.txnVersion("docs", "appA") shouldBe Some(1L)
  }

  test("option(deduped): micro-batches land through appendDeduped — " +
      "near-duplicates shed against the persisted index, replays " +
      "fenced by the txn ledger, all-dup batches commit nothing") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_dd")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    def textOf(i: Int, salt: String): String =
      (0 until 15).map(j => s"$salt${i}w$j").mkString(" ")
    lake.writeAtomic((1 to 30).map(i => (i.toLong, textOf(i, "a")))
      .toDF("doc_id", "text")
      .repartitionByRange(2, $"doc_id").sortWithinPartitions("doc_id"),
      "docs")
    lake.createDedupIndex("docs", "dix", "text", "doc_id")
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("deduped", "true").option("dedupIndex", "dix")
      .option("txnAppId", "dd_sink")
      .option("checkpointLocation", freshDir("sink_dd_ck"))
      .start()
    try {
      // batch 0: one corpus dup + one fresh + a twin pair
      stream.addData(
        (1005L, textOf(5, "a")), (2000L, textOf(1, "f")),
        (3000L, textOf(1, "t")), (3001L, textOf(1, "t")))
      q.processAllAvailable()
      // batch 1: all duplicates of what batch 0 landed → no commit
      stream.addData((4000L, textOf(1, "f")), (4001L, textOf(1, "t")))
      q.processAllAvailable()
    } finally q.stop()
    lake.read("docs").filter($"doc_id" >= 1000L)
      .select("doc_id").as[Long].collect().toSet shouldBe
      Set(2000L, 3000L)
    // the ledger recorded batch 0 (it committed); an out-of-band replay
    // of batch 0 re-noops BEFORE any dedup work
    lake.txnVersion("docs", "dd_sink") shouldBe Some(0L)
    val head = lake.listVersions("docs").head
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("dd_sink"), 0L,
      Seq((9000L, textOf(9, "q"))).toDF("doc_id", "text"),
      deduped = true, dedupIndex = Some("dix"))
    lake.listVersions("docs").head shouldBe head
    // deduped into a non-snapshot layer is refused loudly
    val e = intercept[Exception] {
      LakeStreamSink.landBatch(lake, "flatlayer", Nil, Some("x"), 0L,
        Seq((1L, "t")).toDF("doc_id", "text"), deduped = true)
    }
    e.getMessage should include("snapshot-managed")
  }

  test("landBatch replay fence is exact: same batch id lands once") {
    val base = freshDir("sink_fence")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((0L, "seed")).toDF("id", "text"), "docs")
    val inc = Seq((1L, "a")).toDF("id", "text")
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 0L, inc)
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 0L, inc)
    lake.read("docs").count() shouldBe 2
    LakeStreamSink.landBatch(lake, "docs", Nil, Some("app"), 1L, inc)
    lake.read("docs").count() shouldBe 3
  }

  test("constraints and partition layout apply on the streaming commit path") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_cons")
    spark.conf.set("spark.sql.catalog.lakesink", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakesink.basePath", base)
    spark.sql("CREATE TABLE lakesink.docs (id BIGINT NOT NULL, lang STRING) " +
      "PARTITIONED BY (lang)")

    val good = MemoryStream[(Long, String)]
    val q = good.toDF().toDF("id", "lang").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("checkpointLocation", freshDir("sink_cons_ck"))
      .start()
    try { good.addData((1L, "en"), (2L, "fr")); q.processAllAvailable() }
    finally q.stop()
    spark.sql("SELECT count(*) AS n FROM lakesink.docs").as[Long].head()
      .shouldBe(2L)
    // partition layout from the table's recorded lake.partitionBy
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.partitionColumns("docs") shouldBe Seq("lang")

    // NOT NULL CHECK constraint refuses the batch (query fails, layer keeps
    // its committed state)
    val bad = MemoryStream[(Option[Long], String)]
    val q2 = bad.toDF().toDF("id", "lang").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("checkpointLocation", freshDir("sink_cons_ck2"))
      .start()
    bad.addData((None, "en"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n") should include("CHECK")
    spark.sql("SELECT count(*) AS n FROM lakesink.docs").as[Long].head()
      .shouldBe(2L)
  }

  test("toTable streams into a catalog table through the same commit path") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_tot")
    spark.conf.set("spark.sql.catalog.laketot", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.laketot.basePath", base)
    spark.sql("CREATE TABLE laketot.docs (id BIGINT, text STRING)")

    val ckpt = freshDir("sink_tot_ck")
    val stream = MemoryStream[(Long, String)]
    // format must match the table's provider (Spark's v1-fallback rule:
    // "input source differs from provider" otherwise)
    val q = stream.toDF().toDF("id", "text").writeStream
      .format("lake")
      .option("checkpointLocation", ckpt)
      .toTable("laketot.docs")
    try { stream.addData((1L, "a"), (2L, "b")); q.processAllAvailable() }
    finally q.stop()
    spark.sql("SELECT id FROM laketot.docs ORDER BY id").as[Long].collect()
      .shouldBe(Array(1L, 2L))

    // restart from the SAME checkpoint: appends continue, no duplication,
    // and the txn app id (the persisted query id) is stable across runs
    val stream2 = MemoryStream[(Long, String)]
    // a fresh source with a used checkpoint replays nothing only if offsets
    // line up — give the restart its own data and rely on the ledger for
    // the id check instead
    val lake = new Lake(spark, LakeConfig(basePath = base))
    val appBefore = lake.txnVersion("docs", "lake-stream")
    appBefore shouldBe None // thread-name id resolved, not the fallback
    val q2 = stream2.toDF().toDF("id", "text").writeStream
      .format("lake")
      .option("checkpointLocation", freshDir("sink_tot_ck2"))
      .toTable("laketot.docs")
    try { stream2.addData((3L, "c")); q2.processAllAvailable() }
    finally q2.stop()
    spark.sql("SELECT count(*) AS n FROM laketot.docs").as[Long].head()
      .shouldBe(3L)
    lake.history("docs").where($"operation" === "STREAMING APPEND")
      .count() shouldBe 2
  }

  test("readStream.format(lake): insert-only rows by default, tagged CDF " +
      "with readChangeFeed=true") {
    val base = freshDir("src_fmt")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), "docs")
    val q = spark.readStream.format("lake")
      .option("basePath", base).option("layer", "docs")
      .load()
      .writeStream.format("memory").queryName("lakesrc")
      .option("checkpointLocation", freshDir("src_fmt_ck")).start()
    try {
      q.processAllAvailable()
      spark.table("lakesrc").columns.toSeq shouldBe Seq("id", "text")
      lake.deleteWhere("docs", $"id" === 1L) // contributes no rows here
      lake.appendAtomic(Seq((3L, "c")).toDF("id", "text"), "docs")
      q.processAllAvailable()
      spark.table("lakesrc").orderBy("id").as[(Long, String)]
        .collect() shouldBe Array((1L, "a"), (2L, "b"), (3L, "c"))
    } finally q.stop()
    val q2 = spark.readStream.format("lake")
      .option("readChangeFeed", "true")
      .option("basePath", base).option("layer", "docs")
      .load()
      .writeStream.format("memory").queryName("lakesrc2")
      .option("checkpointLocation", freshDir("src_fmt_ck2")).start()
    try {
      // earliest (default) replays the whole retained lineage, tagged:
      // oldest snapshot as inserts, then each commit's delta
      q2.processAllAvailable()
      spark.table("lakesrc2").columns.toSeq shouldBe
        Seq("id", "text", "_change_type")
      spark.table("lakesrc2").orderBy("id", "_change_type")
        .as[(Long, String, String)].collect() shouldBe
        Array((1L, "a", "delete"), (1L, "a", "insert"),
          (2L, "b", "insert"), (3L, "c", "insert"))
    } finally q2.stop()
  }

  test("skipChangeCommits=true: a commit containing ANY change " +
      "contributes nothing (commit granularity); default row " +
      "granularity emits an update's post-image") {
    val base = freshDir("src_scc")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), "docs")
    // default (row granularity): the update's post-image leaks as an
    // insert — documented, key-your-state consumers want it
    val q1 = spark.readStream.format("lake")
      .option("basePath", base).option("layer", "docs").load()
      .writeStream.format("memory").queryName("scc_rows")
      .option("checkpointLocation", freshDir("scc_ck1")).start()
    try {
      q1.processAllAvailable()
      lake.updateWhere("docs", $"id" === 2L, Map("text" -> lit("B")))
      lake.appendAtomic(Seq((3L, "c")).toDF("id", "text"), "docs")
      q1.processAllAvailable()
      spark.table("scc_rows").orderBy("id", "text").as[(Long, String)]
        .collect() shouldBe Array((1L, "a"), (2L, "B"), (2L, "b"),
          (3L, "c"))
    } finally q1.stop()
    // skipChangeCommits: the update COMMIT is skipped whole; appends
    // (before and after) still flow
    val q2 = spark.readStream.format("lake")
      .option("skipChangeCommits", "true")
      .option("basePath", base).option("layer", "docs").load()
      .writeStream.format("memory").queryName("scc_commits")
      .option("checkpointLocation", freshDir("scc_ck2")).start()
    try {
      q2.processAllAvailable()
      // earliest = the OLDEST retained snapshot as inserts, then per-
      // commit deltas with change commits skipped WHOLE: the update to
      // id=2 never surfaces (no post-image leak), appends flow
      lake.updateWhere("docs", $"id" === 1L, Map("text" -> lit("A")))
      lake.appendAtomic(Seq((4L, "d")).toDF("id", "text"), "docs")
      q2.processAllAvailable()
      spark.table("scc_commits").orderBy("id").as[(Long, String)]
        .collect() shouldBe Array((1L, "a"), (2L, "b"), (3L, "c"),
          (4L, "d"))
    } finally q2.stop()
    // refusal: commit-skipping contradicts the change-feed surfaces
    an[Exception] should be thrownBy spark.readStream.format("lake")
      .option("skipChangeCommits", "true")
      .option("readChangeFeed", "true")
      .option("basePath", base).option("layer", "docs").load()
      .writeStream.format("noop")
      .option("checkpointLocation", freshDir("scc_ck3")).start()
  }

  test("skipChangeCommits=true over append, compact, append, update: " +
      "only the appends' rows, each once across a restart") {
    val base = freshDir("src_scc_maint")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), "docs")
    val start = lake.listVersions("docs").head
    def commits(body: => Unit): Int = {
      val before = lake.listVersions("docs").size
      body
      lake.listVersions("docs").size - before
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val ckpt = freshDir("src_scc_maint_ck")
    def run(): Unit = {
      val q = spark.readStream.format("lake")
        .option("skipChangeCommits", "true")
        .option("startingVersion", start)
        .option("basePath", base).option("layer", "docs").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.as[(Long, String)].collect().foreach(got.add); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    // four commits land before the first poll, so one batch spans the
    // compaction (a maintenance commit) and the update (a change commit)
    commits(lake.appendAtomic(Seq((3L, "c")).toDF("id", "text"), "docs")) shouldBe 1
    commits(lake.compact("docs")) shouldBe 1
    commits(lake.appendAtomic(Seq((4L, "d")).toDF("id", "text"), "docs")) shouldBe 1
    commits(lake.updateWhere("docs", $"id" === 1L,
      Map("text" -> lit("A")))) shouldBe 1
    run()
    got.toArray.toSeq.map(_.asInstanceOf[(Long, String)]).sorted shouldBe
      Seq((3L, "c"), (4L, "d"))
    // restart from the checkpoint: nothing is delivered again, and the
    // next append flows alone past another compaction and update
    run()
    got.size shouldBe 2
    commits(lake.appendAtomic(Seq((5L, "e")).toDF("id", "text"), "docs")) shouldBe 1
    commits(lake.compact("docs")) shouldBe 1
    commits(lake.updateWhere("docs", $"id" === 2L,
      Map("text" -> lit("B")))) shouldBe 1
    run()
    got.toArray.toSeq.map(_.asInstanceOf[(Long, String)]).sorted shouldBe
      Seq((3L, "c"), (4L, "d"), (5L, "e"))
  }

  test("extension-less readStream.table rides the v1 fallback source") {
    val base = freshDir("src_tbl")
    spark.conf.set("spark.sql.catalog.lakefb", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakefb.basePath", base)
    val lake = new Lake(spark, LakeConfig(basePath = base))
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "text"), "docs")
    // the plain test session has NO NewspipeExtensions: the streaming read
    // resolves through LakeTable.v1Table → provider "lake" → this source
    val q = spark.readStream.table("lakefb.docs")
      .writeStream.format("memory").queryName("lakefbq")
      .option("checkpointLocation", freshDir("src_tbl_ck")).start()
    try {
      q.processAllAvailable()
      spark.table("lakefbq").as[(Long, String)].collect() shouldBe
        Array((1L, "a"))
      lake.appendAtomic(Seq((2L, "b")).toDF("id", "text"), "docs")
      q.processAllAvailable()
      spark.table("lakefbq").count() shouldBe 2L
    } finally q.stop()
  }

  test("fill-at-commit applies to streamed batches: a batch omitting a " +
      "DEFAULTed and an IDENTITY column lands filled, and the tracked " +
      "feed attributes the streamed rows") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_fill")
    val lake = new Lake(spark, LakeConfig(basePath = base))
    // snapshot-managed target with declarations BEFORE the stream starts
    lake.writeAtomic(Seq((0L, "seed", "s")).toDF("rid", "text", "status")
      .select($"rid".cast("long").as("rid"), $"text", $"status"), "docs")
    lake.addIdentityColumn("docs", "rid", start = 100L, step = 1L)
    lake.setColumnDefault("docs", "status", "'streamed'")
    lake.enableRowTracking("docs")
    val stream = MemoryStream[String]
    val q = stream.toDF().toDF("text").writeStream
      .format("lake")
      .option("basePath", base).option("layer", "docs")
      .option("checkpointLocation", freshDir("sink_fill_ck"))
      .start()
    val v0 = lake.listVersions("docs").head
    try {
      stream.addData("a", "b"); q.processAllAvailable()
      stream.addData("c"); q.processAllAvailable()
    } finally q.stop()
    val rows = lake.read("docs").orderBy("rid")
      .select("rid", "text", "status").collect()
    // identity allocated densely from the declared start, default filled
    rows.map(_.getLong(0)).toSeq shouldBe Seq(0L, 100L, 101L, 102L)
    rows.filter(_.getString(1) != "seed")
      .map(_.getString(2)).toSet shouldBe Set("streamed")
    // streamed increments are attributed by the tracked feed as inserts
    // with DISTINCT stable row ids
    val head = lake.listVersions("docs").head
    val feed = lake.changeFeedTracked("docs", v0, head)
    val ins = feed.filter($"_change_type" === "insert")
    ins.count() shouldBe 3L
    ins.select("_row_id").distinct().count() shouldBe 3L
  }

  test("update/complete output modes are refused at sink build time") {
    implicit val sqlCtx = spark.sqlContext
    val base = freshDir("sink_mode")
    val stream = MemoryStream[(Long, String)]
    val agg = stream.toDF().toDF("id", "text").groupBy("text").count()
    val ex = intercept[Exception] {
      agg.writeStream
        .format("lake")
        .outputMode("complete")
        .option("basePath", base).option("layer", "docs")
        .option("checkpointLocation", freshDir("sink_mode_ck"))
        .start()
    }
    ex.getMessage should include("Append")
  }
}
