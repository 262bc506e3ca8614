package newspipe.streaming

import newspipe.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** §7 extension: Structured Streaming — batch/stream parity for the windowed
  * aggregations and watermark-bounded late-data handling.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val events = Seq(
    (ts("2026-01-01 00:10:00"), "click"),
    (ts("2026-01-01 00:20:00"), "click"),
    (ts("2026-01-01 00:40:00"), "view"),
    (ts("2026-01-01 01:05:00"), "click"),
    (ts("2026-01-01 01:30:00"), "view"),
    (ts("2026-01-01 02:15:00"), "click"))

  test("windowedEventCounts: stream output equals the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    stream.addData(events: _*)

    val streamed = StreamingSilver.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type"), "ts", "event_type",
      size = "1 hour", watermark = "2 hours")
    val q = streamed.writeStream.format("memory")
      .queryName("win_counts").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamRows = spark.table("win_counts")
      .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"count")
      .as[(String, String, Long)].collect().toSet

    val batchRows = events.toDF("ts", "event_type")
      .groupBy(window($"ts", "1 hour"), $"event_type").count()
      .select(date_format($"window.start", "HH:mm").as("w"), $"event_type", $"count")
      .as[(String, String, Long)].collect().toSet

    streamRows shouldBe batchRows
    streamRows should contain(("00:00", "click", 2L))
  }

  test("sliding windows emit one row per covering window") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    stream.addData((ts("2026-01-01 00:10:00"), "click"))
    val streamed = StreamingSilver.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type"), "ts", "event_type",
      size = "1 hour", slide = Some("30 minutes"), watermark = "2 hours")
    val q = streamed.writeStream.format("memory")
      .queryName("win_sliding").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // 00:10 falls in [23:30,00:30) and [00:00,01:00)
    spark.table("win_sliding").count() shouldBe 2
  }

  test("watermark drops late data: an event older than the watermark never lands") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val agg = StreamingSilver.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type"), "ts", "event_type",
      size = "1 hour", watermark = "1 hour")
    val q = agg.writeStream.format("memory")
      .queryName("late_drop").outputMode("append").start()
    try {
      // batch 1 advances the watermark to 13:00 - 1h = 12:00
      stream.addData((ts("2026-01-01 10:30:00"), "click"),
        (ts("2026-01-01 13:00:00"), "click"))
      q.processAllAvailable()
      // batch 2: an event at 09:45 is behind the 12:00 watermark → dropped;
      // 13:30 is live
      stream.addData((ts("2026-01-01 09:45:00"), "click"),
        (ts("2026-01-01 13:30:00"), "click"))
      q.processAllAvailable()
      // close all windows
      stream.addData((ts("2026-01-01 16:00:00"), "click"))
      q.processAllAvailable()
      val counts = spark.table("late_drop")
        .select(date_format($"window_start", "HH:mm").as("w"), $"count")
        .as[(String, Long)].collect().toMap
      counts("10:00") shouldBe 1L
      counts.get("09:00") shouldBe None // the late 09:45 event was dropped
      counts("13:00") shouldBe 2L
    } finally q.stop()
  }

  test("foreachBatch lake sink writes the batch layout") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("slake").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    val stream = MemoryStream[(String, String)]
    stream.addData(("a", "US"), ("b", "GB"))
    val q = StreamingSilver.writeToLake(
      stream.toDF().toDF("v", "COUNTRY"), lake, "silver",
      checkpoint = s"$dir/_ckpt")
    try { stream.addData(("c", "US")); q.processAllAvailable() } finally q.stop()
    lake.read("silver").count() shouldBe 3
    new java.io.File(s"$dir/silver").listFiles()
      .map(_.getName).count(_.startsWith("COUNTRY=")) shouldBe 2
  }

  test("exactly-once lake sink: batches land under __batch_id partitions, no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("slake1x").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    val stream = MemoryStream[(String, String)]
    stream.addData(("a", "US"), ("b", "GB"))
    val q = StreamingSilver.writeToLakeExactlyOnce(
      stream.toDF().toDF("v", "COUNTRY"), lake, "silver",
      checkpoint = s"$dir/_ckpt")
    try { stream.addData(("c", "US")); q.processAllAvailable() } finally q.stop()
    val landed = lake.read("silver")
    landed.count() shouldBe 3
    landed.schema.fieldNames should contain("__batch_id")
    landed.select("__batch_id").distinct().count() should be >= 1L
  }

  test("streaming upsert sink: per-key latest wins across micro-batches; content converges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("slakeups").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    // snapshot-managed target with initial state
    lake.writeAtomic(Seq((1L, 0L, "init1"), (2L, 0L, "init2"))
      .toDF("id", "seq", "v"), "state")
    val stream = MemoryStream[(Long, Long, String)]
    // batch 1: update id=1 (two versions in ONE batch — seq 2 must win), insert id=5
    stream.addData((1L, 1L, "old"), (1L, 2L, "new"), (5L, 1L, "五"))
    val q = StreamingSilver.upsertToLake(
      stream.toDF().toDF("id", "seq", "v"), lake, "state", Seq("id"),
      checkpoint = s"$dir/_ckpt", seqCol = Some("seq"))
    try {
      q.processAllAvailable()
      // batch 2: update id=5
      stream.addData((5L, 2L, "five"))
      q.processAllAvailable()
    } finally q.stop()
    lake.read("state").as[(Long, Long, String)].collect().sortBy(_._1) shouldBe
      Array((1L, 2L, "new"), (2L, 0L, "init2"), (5L, 2L, "five"))
    // replaying the same content is a fixpoint (at-least-once safety):
    // merge the last batch again by hand — nothing changes
    lake.mergeInto("state", Seq((5L, 2L, "five")).toDF("id", "seq", "v"),
      Seq("id"))
    lake.read("state").count() shouldBe 3
  }

  test("lake change-feed stream: initial snapshot as inserts, then per-commit deltas with change types") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(2), "t")
    val stream = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .load()
    stream.schema.fieldNames should contain("_change_type")
    val q = stream.writeStream.format("memory").queryName("cdf_sink")
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      q.processAllAvailable()
      // batch 0: the full starting snapshot as inserts
      spark.table("cdf_sink").as[(Long, String, String)].collect()
        .sortBy(_._1) shouldBe Array((1L, "a", "insert"), (2L, "b", "insert"),
          (3L, "c", "insert"))
      // a delete commits → one delta batch with the deleted row
      lake.deleteWhere("t", $"id" === 2L)
      q.processAllAvailable()
      spark.table("cdf_sink").filter($"_change_type" === "delete")
        .as[(Long, String, String)].collect() shouldBe
        Array((2L, "b", "delete"))
      // an upsert commits → update surfaces as delete+insert, insert alone
      lake.mergeInto("t", Seq((3L, "C3"), (9L, "i")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      val rows = spark.table("cdf_sink").as[(Long, String, String)].collect()
      rows.count(r => r._1 == 3L && r._3 == "delete") shouldBe 1
      rows.count(r => r._1 == 3L && r._2 == "C3" && r._3 == "insert") shouldBe 1
      rows.count(r => r._1 == 9L && r._3 == "insert") shouldBe 1
    } finally q.stop()
  }

  test("lake change-feed stream: restart from checkpoint resumes at the stored version, no replay") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf3").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    // foreachBatch sink: the memory sink refuses checkpoint recovery, and
    // recovery is exactly what this test pins
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    def start() = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String, String)].collect().foreach(got.add); ()
      }
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    got.size shouldBe 2 // initial inserts
    got.clear()
    // a commit lands while the stream is DOWN
    lake.deleteWhere("t", $"id" === 1L)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // only batches after the stored offset arrive: the one delete — an
      // initial-snapshot replay here would mean the offset didn't restore
      got.toArray(Array.empty[(Long, String, String)]) shouldBe
        Array((1L, "a", "delete"))
    } finally q2.stop()
  }

  test("lake change-feed stream survives a mid-stream REPLACE TABLE: " +
      "the overwrite emits conformed rows (vanished columns null-pad, " +
      "changed types cast back to the declared shape)") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf5").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]()
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt5")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(got.add); ()
      }
      .start()
    try {
      q.processAllAvailable()
      got.size shouldBe 2 // initial snapshot as inserts
      got.clear()
      // REPLACE mid-stream: id type widens-compatible (long), v vanishes,
      // a new column appears (projected away for the in-flight query)
      lake.replaceAtomic(Seq((10L, 7.5)).toDF("id", "score"), "t")
      q.processAllAvailable()
      val rows = got.toArray(Array.empty[org.apache.spark.sql.Row])
      // overwrite delta: 2 deletes (old corpus) + 1 insert (new corpus)
      rows.length shouldBe 3
      val byType = rows.groupBy(_.getString(2))
      byType("delete").map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L)
      val ins = byType("insert").head
      ins.getLong(0) shouldBe 10L
      ins.isNullAt(1) shouldBe true // 'v' vanished → null-padded
    } finally q.stop()
  }

  test("lake change-feed stream: mid-stream schema evolution keeps the declared shape; restart sees the new column") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf4").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def start() = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(got.add); ()
      }
      .start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      got.size shouldBe 1 // initial insert, 3 cols (id, v, _change_type)
      got.clear()
      // the layer evolves WHILE the stream runs: the in-flight query keeps
      // its declared 3-col shape (the added column is projected away)
      lake.appendAtomic(Seq((2L, "b", 9L)).toDF("id", "v", "extra"), "t")
      q1.processAllAvailable()
      val row = got.poll()
      row.length shouldBe 3
      row.getLong(0) shouldBe 2L
    } finally q1.stop()
    got.clear()
    // a RESTART re-resolves the schema: the new column is now declared,
    // and further deltas carry it
    lake.appendAtomic(Seq((3L, "c", 11L)).toDF("id", "v", "extra"), "t")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = got.toArray(Array.empty[org.apache.spark.sql.Row])
      rows.length shouldBe 1
      rows(0).length shouldBe 4 // id, v, extra, _change_type
      rows(0).getLong(rows(0).fieldIndex("extra")) shouldBe 11L
    } finally q2.stop()
  }

  test("lake change-feed stream: startingVersion=latest emits deltas only") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf2").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic((1 to 50).map(i => (i.toLong, "x")).toDF("id", "v"), "t")
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("startingVersion", "latest")
      .load()
      .writeStream.format("memory").queryName("cdf_latest")
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      q.processAllAvailable()
      spark.table("cdf_latest").count() shouldBe 0 // no initial replay
      lake.deleteWhere("t", $"id" <= 5L)
      q.processAllAvailable()
      val got = spark.table("cdf_latest")
      got.count() shouldBe 5
      got.select("_change_type").distinct().as[String].collect() shouldBe
        Array("delete")
    } finally q.stop()
  }

  test("lake change-feed stream: startingTimestamp resolves like readAsOf, deltas only after it") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf5").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic((1 to 20).map(i => (i.toLong, "x")).toDF("id", "v"), "t")
    val v1 = lake.listVersions("t").head
    Thread.sleep(15)
    lake.deleteWhere("t", $"id" <= 3L) // commits AFTER the asked-for instant
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("startingTimestamp", v1.take(16).toLong.toString)
      .load()
      .writeStream.format("memory").queryName("cdf_ts")
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      q.processAllAvailable()
      // no initial replay (the timestamp pins v1); the later delete arrives
      val got = spark.table("cdf_ts").as[(Long, String, String)].collect()
      got.map(_._1).sorted shouldBe Array(1L, 2L, 3L)
      got.map(_._3).distinct shouldBe Array("delete")
    } finally q.stop()
    // both options together are refused loudly, at stream build time
    an[Exception] should be thrownBy spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("startingVersion", "latest")
      .option("startingTimestamp", "0")
      .load()
  }

  test("lake change-feed stream: maxVersionsPerTrigger=1 serves one commit per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf6").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic((1 to 30).map(i => (i.toLong, "x")).toDF("id", "v"), "t")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, String)]]()
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.as[(Long, String, String)].collect()
          .map(r => (r._1, r._3)).toSeq
        if (rows.nonEmpty) batches.add(rows); ()
      }
      .start()
    try {
      q.processAllAvailable() // initial load (first trigger: uncapped)
      batches.size shouldBe 1
      batches.clear()
      // three commits land while the stream is idle...
      lake.deleteWhere("t", $"id" === 1L)
      lake.deleteWhere("t", $"id" === 2L)
      lake.deleteWhere("t", $"id" === 3L)
      q.processAllAvailable()
      // ...and arrive as THREE single-commit batches, in commit order —
      // the admission cap makes per-commit attribution visible downstream
      val got = batches.toArray(Array.empty[Seq[(Long, String)]])
      got.length shouldBe 3
      got.map(_.size).toSeq shouldBe Seq(1, 1, 1)
      got.flatten.toSeq shouldBe Seq(
        (1L, "delete"), (2L, "delete"), (3L, "delete"))
    } finally q.stop()
  }

  test("lake change-feed stream: keyColumns emits Delta's four-tag CDF") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf7").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("keyColumns", "id")
      .load()
      .writeStream.format("memory").queryName("cdf_keyed")
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      q.processAllAvailable()
      // one commit mixing an update (key 1) and an insert (key 9): the
      // keyed stream classifies instead of emitting delete+insert
      lake.mergeInto("t", Seq((1L, "a2"), (9L, "z")).toDF("id", "v"),
        Seq("id"))
      q.processAllAvailable()
      val got = spark.table("cdf_keyed")
        .filter($"_change_type" =!= "insert" || $"id" === 9L)
        .as[(Long, String, String)].collect().toSet
      got shouldBe Set(
        (1L, "a", "update_preimage"),
        (1L, "a2", "update_postimage"),
        (9L, "z", "insert"))
      // a later pure delete still tags 'delete'
      lake.deleteWhere("t", $"id" === 2L)
      q.processAllAvailable()
      spark.table("cdf_keyed").filter($"_change_type" === "delete")
        .as[(Long, String, String)].collect() shouldBe
        Array((2L, "b", "delete"))
    } finally q.stop()
  }

  test("streaming silver transform: same rows as batch over the same bronze input") {
    implicit val sqlCtx = spark.sqlContext
    val bronzeRows = Seq(
      ("BBC", "Alice", "Excellent outcome announced", "d", "https://bbc.co.uk/a",
        ts("2026-01-02 10:00:00"), "content a", "2026-01-05T00:00:00Z", "us"),
      ("CNN", "Bob", "Terrible storm hits coast", "d", "https://cnn.com/b",
        ts("2026-01-02 11:00:00"), "content b", "2026-01-05T00:00:00Z", "us"))
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("source_name", "author", "title", "description", "url",
        "publishedAt", "content", "ingestion_time", "country")

    val stream = MemoryStream[(String, String, String, String, String,
      java.sql.Timestamp, String, String, String)]
    stream.addData(bronzeRows: _*)
    val q = StreamingSilver.transform(shape(stream.toDF()))
      .writeStream.format("memory").queryName("silver_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("silver_stream")
      .select("URL", "SENTIMENT_LABEL").as[(String, String)].collect().toSet
    val batch = newspipe.pipeline.Silver.transform(shape(bronzeRows.toDF()))
      .select("URL", "SENTIMENT_LABEL").as[(String, String)].collect().toSet
    streamed shouldBe batch
    streamed.map(_._2) shouldBe Set("positive", "negative")
  }

  test("file-source readStream end-to-end: JSON files → bronze → silver → lake") {
    import newspipe.pipeline.{Bronze, Silver}
    val dir = java.nio.file.Files.createTempDirectory("fstream").toString
    new java.io.File(s"$dir/in").mkdirs()
    val lines = Seq(
      """{"source":{"name":"BBC"},"author":"Alice","title":"Great results today","description":"d","url":"https://bbc.co.uk/1","publishedAt":"2026-01-02T10:00:00Z","content":"c1"}""",
      """{"source":{"name":"CNN"},"author":"Bob","title":"Terrible crash reported","description":"d","url":"https://cnn.com/2","publishedAt":"2026-01-02T11:00:00Z","content":"c2"}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/page1.json"), lines.mkString("\n"))

    // the REAL file source (not MemoryStream): same explicit bronze schema,
    // same Bronze/Silver stages, micro-batched into the batch lake layout
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(s"$dir/lake"))
    val bronzeStream = Bronze.transform(
      spark.readStream.schema(newspipe.model.Schemas.bronzeRaw).json(s"$dir/in"),
      ingestionTime = "2026-01-05T00:00:00Z", country = "us")
    val silverStream = StreamingSilver.transform(Silver.flattenSource(bronzeStream))
    val q = StreamingSilver.writeToLake(silverStream, lake, "silver",
      checkpoint = s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()

    val batch = Silver.transform(Silver.flattenSource(Bronze.transform(
      newspipe.io.JsonSource.readArticles(spark, s"$dir/in"),
      "2026-01-05T00:00:00Z", "us")))
    val got = lake.read("silver")
    got.count() shouldBe 2
    got.columns.sorted shouldBe batch.columns.sorted
    got.select("URL", "SENTIMENT_LABEL").as[(String, String)].collect().toSet shouldBe
      batch.select("URL", "SENTIMENT_LABEL").as[(String, String)].collect().toSet
  }


  test("stream-stream interval join: clicks enrich with the preceding impression only") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(java.sql.Timestamp, String, String)]
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)]
    impressions.addData(
      (ts("2026-01-01 00:00:00"), "u1", "ad_a"),
      (ts("2026-01-01 00:02:00"), "u2", "ad_b"),
      (ts("2026-01-01 00:30:00"), "u1", "ad_c"))
    clicks.addData(
      (ts("2026-01-01 00:05:00"), "u1", "c1"), // 5 min after ad_a: joins
      (ts("2026-01-01 00:05:00"), "u2", "c2"), // 3 min after ad_b: joins
      (ts("2026-01-01 00:25:00"), "u1", "c3")) // 25 min after ad_a: outside tolerance

    val joined = StreamJoin.withinInterval(
      clicks.toDF().toDF("click_ts", "user", "click_id"),
      impressions.toDF().toDF("imp_ts", "user", "ad"),
      key = "user", tsL = "click_ts", tsR = "imp_ts",
      tolerance = "10 minutes", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ss_join").select("click_id", "ad")
      .as[(String, String)].collect().toSet
    got shouldBe Set(("c1", "ad_a"), ("c2", "ad_b"))
  }

  test("stream-stream join state is bounded: the physical plan carries watermarks and the interval condition") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(java.sql.Timestamp, String, String)]
    val r = MemoryStream[(java.sql.Timestamp, String, String)]
    l.addData((ts("2026-01-01 00:05:00"), "k", "x"))
    r.addData((ts("2026-01-01 00:04:00"), "k", "y"))
    val joined = StreamJoin.withinInterval(
      l.toDF().toDF("lts", "key", "lv"), r.toDF().toDF("rts", "key", "rv"),
      "key", "lts", "rts", tolerance = "5 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      plan should include("StreamingSymmetricHashJoin")
      spark.table("ss_state").count() shouldBe 1
    } finally q.stop()
  }


  test("stream-stream LEFT OUTER: unmatched clicks emit with nulls only after the watermark closes their window") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(java.sql.Timestamp, String, String)]
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)]
    val joined = StreamJoin.withinInterval(
      clicks.toDF().toDF("click_ts", "user", "click_id"),
      impressions.toDF().toDF("imp_ts", "user", "ad"),
      key = "user", tsL = "click_ts", tsR = "imp_ts",
      tolerance = "10 minutes", watermark = "5 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ss_outer")
      .outputMode("append").start()
    try {
      clicks.addData((ts("2026-01-01 00:05:00"), "u1", "c1")) // no impression
      impressions.addData((ts("2026-01-01 00:04:00"), "u2", "ad_b"))
      clicks.addData((ts("2026-01-01 00:05:00"), "u2", "c2")) // matches ad_b
      q.processAllAvailable()
      // c1 is still awaiting a possible late impression — not emitted yet
      val sofar = spark.table("ss_outer").select("click_id", "ad")
        .as[(String, String)].collect().toMap
      sofar.keySet should contain("c2")
      sofar should not contain key("c1")
      // watermark advances far past c1's window → the null row flushes
      impressions.addData((ts("2026-01-01 02:00:00"), "zz", "late"))
      clicks.addData((ts("2026-01-01 02:00:00"), "zz", "czz"))
      q.processAllAvailable()
      val after = spark.table("ss_outer").select("click_id", "ad")
        .as[(String, String)].collect().toMap
      after("c1") shouldBe null
      after("c2") shouldBe "ad_b"
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a multi-commit backlog in capped " +
      "batches, then STOPS") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf8").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    // 5-commit history accumulated while no stream is running
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    (2L to 5L).foreach(i =>
      lake.appendAtomic(Seq((i, "a")).toDF("id", "v"), "t"))
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = b.as[(Long, String, String)].collect()
        if (got.nonEmpty) { batches.incrementAndGet(); got.foreach(r => rows.add(r._1)) }
        ()
      }
      .start()
    // the run terminates BY ITSELF (the AvailableNow contract)
    assert(q.awaitTermination(120000), "AvailableNow run must stop itself")
    // the whole backlog arrived, one commit per batch (cap held from the
    // FIRST trigger — the admission-control path anchors at the exact
    // start offset, no best-effort caveat)
    batches.get() shouldBe 5
    rows.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted shouldBe
      Array(1L, 2L, 3L, 4L, 5L)
    // a commit landing after the latch waits for the NEXT run…
    lake.appendAtomic(Seq((6L, "a")).toDF("id", "v"), "t")
    val q2 = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String, String)].collect().foreach(r => rows.add(r._1))
        ()
      }
      .start()
    assert(q2.awaitTermination(120000))
    // …and ONLY the new commit arrives (checkpointed restart, caps intact)
    rows.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted shouldBe
      Array(1L, 2L, 3L, 4L, 5L, 6L)
  }

  test("admission caps respect startingVersion on a FRESH capped stream " +
      "(no reversed replay of skipped history)") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf10").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    (2L to 4L).foreach(i =>
      lake.appendAtomic(Seq((i, "a")).toDF("id", "v"), "t"))
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    // startingVersion=latest + a cap: the capped anchor must be the
    // latched head, NOT the oldest retained version (which would emit the
    // v2..v4 history reversed as deletes)
    val q = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("startingVersion", "latest")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String, String)].collect()
          .foreach(r => rows.add((r._1, r._3)))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      rows.isEmpty shouldBe true // latest = nothing before the pin
      lake.appendAtomic(Seq((5L, "a")).toDF("id", "v"), "t")
      q.processAllAvailable()
      rows.toArray(Array.empty[(Long, String)]).toSeq shouldBe
        Seq((5L, "insert"))
    } finally q.stop()
  }

  test("maxBytesPerTrigger admits whole commits up to the byte budget, " +
      "at least one per batch") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf9").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((0L, "seed")).toDF("id", "v"), "t")
    // 4 additional single-file commits, each a few KB
    (1L to 4L).foreach(i =>
      lake.appendAtomic(Seq((i, "x" * 64)).toDF("id", "v"), "t"))
    val perBatch =
      new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def run(maxBytes: String): Unit = {
      perBatch.clear()
      val ckpt = java.nio.file.Files.createTempDirectory("ck").toString
      val q = spark.readStream
        .format("newspipe.io.source.LakeChangeSource")
        .option("basePath", dir).option("layer", "t")
        .option("startingVersion", lake.listVersions("t").last)
        .option("maxBytesPerTrigger", maxBytes)
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count().toInt
          if (n > 0) perBatch.add(n); ()
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    // a 1-byte budget still makes progress: one commit per batch (soft cap)
    run("1")
    perBatch.toArray(Array.empty[Integer]).map(_.toInt).toSeq shouldBe
      Seq(1, 1, 1, 1)
    // a generous budget takes the whole backlog in one batch
    run((64L * 1024 * 1024).toString)
    perBatch.toArray(Array.empty[Integer]).map(_.toInt).toSeq shouldBe Seq(4)
  }

  test("trackedFeed=true: streaming consumers get row-id-attributed " +
      "update pre/post pairs (no key columns declared)") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf_trk").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      "t")
    lake.enableRowTracking("t")
    val stream = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("trackedFeed", "true")
      .load()
    stream.schema.fieldNames.toSeq should contain allOf
      ("_row_id", "_change_type")
    val q = stream.writeStream.format("memory").queryName("trk_sink")
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      q.processAllAvailable()
      // initial load: inserts WITH row ids
      val init = spark.table("trk_sink")
        .as[(Long, String, Long, String)].collect()
      init.map(_._4).toSet shouldBe Set("insert")
      init.map(_._3).distinct.length shouldBe 3
      val idOf = init.map(r => r._1 -> r._3).toMap
      // an update commits → pre/post PAIR sharing one row id
      lake.updateWhere("t", $"id" === 2L,
        Map("v" -> org.apache.spark.sql.functions.lit("B")))
      // a compaction commits → must be feed-INVISIBLE
      lake.compact("t")
      lake.deleteWhere("t", $"id" === 3L)
      q.processAllAvailable()
      val feed = spark.table("trk_sink")
        .filter($"_change_type" =!= "insert")
        .as[(Long, String, Long, String)].collect()
      feed.map(r => (r._1, r._2, r._4)).toSet shouldBe Set(
        (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
        (3L, "c", "delete"))
      // the attribution property: both images carry row 2's ORIGINAL id
      feed.filter(_._1 == 2L).map(_._3).toSet shouldBe Set(idOf(2L))
      feed.filter(_._1 == 3L).map(_._3).toSet shouldBe Set(idOf(3L))
    } finally q.stop()
    // refusals: keyColumns conflict, non-tracking layer
    val lake2 = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    lake2.writeAtomic(Seq((1L, "x")).toDF("id", "v"), "plain")
    an[Exception] should be thrownBy spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "plain")
      .option("trackedFeed", "true").load()
    an[Exception] should be thrownBy spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", dir).option("layer", "t")
      .option("trackedFeed", "true").option("keyColumns", "id")
      .load()
  }

  test("trackedFeed through readStream.table (the catalog path re-keys " +
      "the lowercased option and implies the CDF surface)") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf_trkt").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    lake.enableRowTracking("t")
    val s2 = org.apache.spark.sql.NewspipeSqlBridge.sessionWithExtensions(
      spark, new newspipe.NewspipeExtensions()(_))
    s2.conf.set("spark.sql.catalog.lake", "newspipe.io.LakeCatalog")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, String)]()
    val q = s2.readStream.option("trackedFeed", "true")
      .table(s"lake.`$dir`.t")
      .writeStream.option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3)))); ()
      }.start()
    try {
      q.processAllAvailable()
      val init = got.toArray(Array.empty[(Long, String, Long, String)])
      init.map(_._4).toSet shouldBe Set("insert")
      val idOf = init.map(r => r._1 -> r._3).toMap
      got.clear()
      lake.updateWhere("t", $"id" === 1L,
        Map("v" -> org.apache.spark.sql.functions.lit("A")))
      q.processAllAvailable()
      val feed = got.toArray(Array.empty[(Long, String, Long, String)])
      feed.map(r => (r._1, r._2, r._4)).toSet shouldBe Set(
        (1L, "a", "update_preimage"), (1L, "A", "update_postimage"))
      feed.map(_._3).toSet shouldBe Set(idOf(1L))
    } finally q.stop()
  }

  test("keyed change-feed stream started at latest survives restarts " +
      "after the layer moved on (start pinned in the checkpoint)") {
    val dir = java.nio.file.Files.createTempDirectory("lakecdf9").toString
    val lake = new newspipe.io.Lake(spark, newspipe.io.LakeConfig(dir))
    import spark.implicits._
    lake.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    // one AvailableNow run on one checkpoint: its rows, or what it threw
    def run(): (Set[(Long, String, String)], Option[Throwable]) = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
      val q = spark.readStream
        .format("newspipe.io.source.LakeChangeSource")
        .option("basePath", dir).option("layer", "t")
        .option("startingVersion", "latest").option("keyColumns", "id")
        .load()
        .writeStream
        .option("checkpointLocation", s"$dir/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.as[(Long, String, String)].collect().foreach(got.add); ()
        }
        .start()
      val err = scala.util.Try(q.awaitTermination(120000)).failed.toOption
        .orElse(q.exception)
      (got.toArray(Array.empty[(Long, String, String)]).toSet, err)
    }
    run() shouldBe ((Set.empty, None)) // latest: no initial load
    // the next run's start must not re-resolve `latest` to this commit
    lake.mergeInto("t", Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    run() shouldBe ((Set((1L, "a", "update_preimage"),
      (1L, "a2", "update_postimage"), (3L, "c", "insert")), None))
    lake.deleteWhere("t", $"id" === 2L)
    run() shouldBe ((Set((2L, "b", "delete")), None))
  }
}
