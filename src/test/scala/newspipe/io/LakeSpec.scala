package newspipe.io

import newspipe.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** §2.1 S3-S7: lake writer/reader — append/overwrite modes, partitioned
  * layout, catalog publish — and the bronze-schema JSON source (S1-S2).
  */
class LakeSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpLake(): Lake = {
    val dir = Files.createTempDirectory("lake").toString
    new Lake(spark, LakeConfig(basePath = dir))
  }

  test("optimizeWrite: partitioned commits coalesce to one file per partition value") {
    val dir = Files.createTempDirectory("lakeow").toString
    def dataFiles(sub: String): Seq[String] = {
      val it = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .listFiles(new org.apache.hadoop.fs.Path(s"$dir/$sub"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet"))
          b += s.getPath.toString
      }
      b.result()
    }
    val langs = Seq("en", "fr", "de")
    val df = (1 to 300).map(i => (i.toLong, langs(i % 3))).toDF("id", "lang")
      .repartition(8) // every task holds every lang
    // control: without optimizeWrite, tasks × values files land
    val plain = new Lake(spark, LakeConfig(basePath = dir))
    plain.writeAtomic(df, "off", partitionBy = Seq("lang"))
    dataFiles("off").size should be > 3
    // config-enabled: one AQE-rebalanced shuffle → one file per lang here
    val ow = new Lake(spark, LakeConfig(basePath = dir, optimizeWrite = true))
    ow.writeAtomic(df, "on", partitionBy = Seq("lang"))
    dataFiles("on").size shouldBe 3
    ow.read("on").as[(Long, String)].collect().sortBy(_._1) shouldBe
      (1 to 300).map(i => (i.toLong, langs(i % 3)))
    // property-enabled (Delta's autoOptimize shape): appends through a
    // DEFAULT-config lake still rebalance
    plain.setProperties("on", Map("lake.optimizeWrite" -> "true"))
    plain.appendAtomic(df.withColumn("id", col("id") + 1000L), "on")
    val newest = new Lake(spark, LakeConfig(basePath = dir))
      .listVersions("on").head
    dataFiles(s"on/_v/$newest").size shouldBe 3
    ow.read("on").count() shouldBe 600L
  }

  test("write/read round-trips a layer (ref _lib:21-54, 02:29)") {
    val lake = tmpLake()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    lake.write(df, "bronze", mode = "overwrite")
    lake.read("bronze").as[(Int, String)].collect().sorted shouldBe
      Array((1, "a"), (2, "b"))
  }

  test("append mode accumulates; overwrite replaces (ref writer modes)") {
    val lake = tmpLake()
    val df = Seq((1, "a")).toDF("id", "v")
    lake.write(df, "layer", mode = "overwrite")
    lake.write(df, "layer", mode = "append")
    lake.read("layer").count() shouldBe 2
    lake.write(df, "layer", mode = "overwrite")
    lake.read("layer").count() shouldBe 1
  }

  test("partitionBy produces hive-style directories (ref 02:102 COUNTRY partitioning)") {
    val lake = tmpLake()
    val df = Seq(("x", "US"), ("y", "GB")).toDF("v", "COUNTRY")
    val path = lake.write(df, "silver", partitionBy = Seq("COUNTRY"), mode = "overwrite")
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("COUNTRY="))
    dirs.sorted shouldBe Array("COUNTRY=GB", "COUNTRY=US")
  }

  test("writeAndPublish registers a queryable catalog table (ref _lib:198-233)") {
    val lake = tmpLake()
    val df = Seq((1, "a")).toDF("id", "v")
    lake.writeAndPublish(df, "gold", "t_publish_spec")
    spark.table("news_articles.t_publish_spec").count() shouldBe 1
    lake.listVersions("gold").length shouldBe 1 // took the snapshot path
    spark.sql("DROP TABLE news_articles.t_publish_spec")
  }

  test("publish lands in the REAL Hive metastore (ref S6: Hive catalog, not the in-memory stub)") {
    spark.conf.get("spark.sql.catalogImplementation") shouldBe "hive"
    val lake = tmpLake()
    lake.writeAndPublish(Seq((7, "h")).toDF("id", "v"), "gold", "t_hive_spec")
    // the external (metastore-backed) catalog must know the table — this is
    // the API the reference's write_to_datalake_and_hive relies on
    spark.sharedState.externalCatalog
      .tableExists("news_articles", "t_hive_spec") shouldBe true
    val meta = spark.sharedState.externalCatalog
      .getTable("news_articles", "t_hive_spec")
    meta.provider shouldBe Some("parquet")
    spark.sql("DROP TABLE news_articles.t_hive_spec")
  }

  test("writeAtomic: a reader mid-overwrite sees only the old or the new complete snapshot") {
    val lake = tmpLake()
    val v1 = lake.writeAtomic(Seq((1, "a"), (2, "b")).toDF("id", "v"), "silver")
    lake.read("silver").count() shouldBe 2

    // simulate a writer crashed/in-flight: a second snapshot directory with
    // data files but NO _COMMITTED marker — readers must still resolve v1
    val uncommitted = new java.io.File(v1).getParentFile.toPath
      .resolve("9999999999999999-zzzzzzzz")
    Seq((10, "x"), (11, "y"), (12, "z")).toDF("id", "v")
      .write.parquet(uncommitted.toString)
    lake.read("silver").count() shouldBe 2 // still the old snapshot

    // commit completes: marker + head-pointer update (a conforming writer
    // maintains `_v/_LAST` right after the marker — see the protocol doc)
    // → the new snapshot becomes visible atomically
    java.nio.file.Files.createFile(uncommitted.resolve("_COMMITTED"))
    java.nio.file.Files.write(
      uncommitted.getParent.resolve("_LAST"),
      "9999999999999999-zzzzzzzz".getBytes("UTF-8"))
    lake.read("silver").count() shouldBe 3

    // a POINTERLESS foreign commit (marker only) is still resolvable
    // through the fallback scan once the pointer is absent
    java.nio.file.Files.delete(uncommitted.getParent.resolve("_LAST"))
    lake.read("silver").count() shouldBe 3
  }

  test("writeAtomic under a concurrent reader loop: every read is a complete snapshot") {
    val lake = tmpLake()
    lake.writeAtomic(Seq.tabulate(10)(i => (i, "v1")).toDF("id", "v"), "layer")
    @volatile var bad = List.empty[Long]
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val n = lake.read("layer").count()
        if (n != 10 && n != 50) bad ::= n
      }
    })
    reader.start()
    try {
      (1 to 3).foreach { _ =>
        lake.writeAtomic(Seq.tabulate(50)(i => (i, "v2")).toDF("id", "v"), "layer")
        lake.writeAtomic(Seq.tabulate(10)(i => (i, "v3")).toDF("id", "v"), "layer")
      }
    } finally { stop = true; reader.join() }
    bad shouldBe empty // no torn read: always exactly one snapshot's rows
  }

  test("vacuum keeps the newest snapshots and reclaims orphans") {
    val lake = tmpLake()
    val v1 = lake.writeAtomic(Seq((1, "a")).toDF("id", "v"), "layer")
    val v2 = lake.writeAtomic(Seq((2, "b")).toDF("id", "v"), "layer")
    val v3 = lake.writeAtomic(Seq((3, "c")).toDF("id", "v"), "layer")
    // an uncommitted orphan (crashed writer debris)
    val orphan = new java.io.File(v1).getParentFile.toPath.resolve("0000-orphan")
    Seq((9, "o")).toDF("id", "v").write.parquet(orphan.toString)

    // with the default grace period, RECENT uncommitted dirs are protected —
    // they are indistinguishable from an in-flight writer's snapshot
    // (regardless of how their version id orders against committed ones)
    lake.vacuum("layer", keep = 2)
    java.nio.file.Files.exists(orphan) shouldBe true // recent → possible in-flight
    new java.io.File(v1).exists() shouldBe false     // superseded committed: gone
    // grace 0 reclaims crashed-writer debris immediately
    lake.vacuum("layer", keep = 2, orphanGraceMs = 0L)
    java.nio.file.Files.exists(orphan) shouldBe false
    new java.io.File(v2).exists() shouldBe true
    new java.io.File(v3).exists() shouldBe true
    lake.read("layer").as[(Int, String)].head() shouldBe ((3, "c"))
  }

  test("vacuum judges orphan recency by the files INSIDE, not the dir's own mtime") {
    val lake = tmpLake()
    val v1 = lake.writeAtomic(Seq((1, "a")).toDF("id", "v"), "layer")
    // in-flight writer: partitioned save landing files in a NESTED subdir;
    // top-level dir mtime backdated (object-store dirs report epoch-ish
    // mtimes; local partitioned saves don't touch the top dir either)
    val orphan = new java.io.File(v1).getParentFile.toPath.resolve("0001-inflight")
    val nested = orphan.resolve("COUNTRY=US")
    java.nio.file.Files.createDirectories(nested)
    val part = nested.resolve("part-00000.parquet")
    java.nio.file.Files.writeString(part, "payload")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    java.nio.file.Files.setLastModifiedTime(orphan, old)
    java.nio.file.Files.setLastModifiedTime(nested, old)
    // file inside is fresh → the writer may still be alive → protected
    lake.vacuum("layer", keep = 1, orphanGraceMs = 3600_000L)
    java.nio.file.Files.exists(orphan) shouldBe true
    // once the newest FILE is older than the grace, it is crashed debris
    java.nio.file.Files.setLastModifiedTime(part, old)
    lake.vacuum("layer", keep = 1, orphanGraceMs = 3600_000L)
    java.nio.file.Files.exists(orphan) shouldBe false
  }

  test("writeAtomicIfLatest: stale-parent writer fails loudly and leaves no orphan") {
    val lake = tmpLake()
    // first snapshot: expectedParent=None succeeds only while truly empty
    lake.writeAtomicIfLatest(Seq((1, "a")).toDF("id", "v"), "layer", None)
    val parent = lake.listVersions("layer").head
    an[java.util.ConcurrentModificationException] should be thrownBy
      lake.writeAtomicIfLatest(Seq((2, "b")).toDF("id", "v"), "layer", None)
    // correct parent: commit succeeds
    lake.writeAtomicIfLatest(Seq((2, "b")).toDF("id", "v"), "layer", Some(parent))
    // a read-modify-write that raced and lost: expected parent superseded
    an[java.util.ConcurrentModificationException] should be thrownBy
      lake.writeAtomicIfLatest(Seq((3, "c")).toDF("id", "v"), "layer", Some(parent))
    // losers cleaned up after themselves: only the two committed snapshots
    lake.listVersions("layer").length shouldBe 2
    val vdir = new java.io.File(
      lake.writeAtomic(Seq((4, "d")).toDF("id", "v"), "layer")).getParentFile
    // no uncommitted debris DIRS (the `_LAST` head pointer is a file)
    vdir.listFiles().count(_.isDirectory) shouldBe 3
    lake.read("layer").as[(Int, String)].head() shouldBe ((4, "d"))
  }

  test("_COMMITTED marker records the parent version (lineage audit)") {
    val lake = tmpLake()
    val p1 = lake.writeAtomic(Seq((1, "a")).toDF("id", "v"), "layer")
    val p2 = lake.writeAtomic(Seq((2, "b")).toDF("id", "v"), "layer")
    val m1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(p1, "_COMMITTED"))
    val m2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(p2, "_COMMITTED"))
    m1 shouldBe "" // first snapshot: no parent
    m2 shouldBe new java.io.File(p1).getName
  }

  test("readAsOf resolves the newest snapshot at or before the asked-for instant") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "first")).toDF("id", "v"), "layer")
    Thread.sleep(15) // distinct millis prefixes for the two versions
    lake.writeAtomic(Seq((2, "second")).toDF("id", "v"), "layer")
    val Seq(vNew, vOld) = lake.listVersions("layer")
    val tOld = vOld.take(16).toLong
    val tNew = vNew.take(16).toLong
    // exactly at the old snapshot's commit instant → the old snapshot
    lake.readAsOf("layer", tOld).as[(Int, String)].head() shouldBe ((1, "first"))
    // between the two → still the old one
    lake.readAsOf("layer", tNew - 1).as[(Int, String)].head() shouldBe ((1, "first"))
    // at/after the new one → the new one
    lake.readAsOf("layer", tNew).as[(Int, String)].head() shouldBe ((2, "second"))
    lake.readAsOf("layer", System.currentTimeMillis())
      .as[(Int, String)].head() shouldBe ((2, "second"))
    // before the layer existed → loud failure (vacuumed-or-never-existed)
    a[NoSuchElementException] should be thrownBy lake.readAsOf("layer", tOld - 1)
  }

  test("diffSince: timestamp-form change feed shares readAsOf's resolution") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "keep"), (2, "drop")).toDF("id", "v"), "t")
    Thread.sleep(15)
    lake.deleteWhere("t", col("id") === 2)
    Thread.sleep(15)
    lake.appendAtomic(Seq((3, "new")).toDF("id", "v"), "t")
    val versions = lake.listVersions("t") // newest first: append, delete, base
    val tBase = versions(2).take(16).toLong

    // since the base snapshot's instant → all changes up to head
    val (ins, del) = lake.diffSince("t", tBase)
    ins.as[(Int, String)].collect().sorted shouldBe Array((3, "new"))
    del.as[(Int, String)].collect().sorted shouldBe Array((2, "drop"))

    // bounded until the delete's instant → only the delete leg
    val tDelete = versions(1).take(16).toLong
    val (ins2, del2) = lake.diffSince("t", tBase, Some(tDelete))
    ins2.count() shouldBe 0L
    del2.as[(Int, String)].collect().sorted shouldBe Array((2, "drop"))

    // agreement with readAsOf: diffSince(T) applied to readAsOf(T)
    // reproduces the head exactly
    val atBase = lake.readAsOf("t", tBase).as[(Int, String)].collect().toSet
    val head = lake.read("t").as[(Int, String)].collect().toSet
    val insS = ins.as[(Int, String)].collect().toSet
    val delS = del.as[(Int, String)].collect().toSet
    (atBase -- delS ++ insS) shouldBe head

    // before the layer existed → same loud failure as readAsOf
    a[NoSuchElementException] should be thrownBy lake.diffSince("t", tBase - 1000)
  }

  test("changeFeed: per-commit attribution with Delta's CDF columns") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "t")
    lake.deleteWhere("t", col("id") === 2)
    lake.appendAtomic(Seq((4, "d")).toDF("id", "v"), "t")
    val versions = lake.listVersions("t") // newest first
    val feed = lake.changeFeed("t", versions.last, versions.head)
    feed.columns.toSeq shouldBe
      Seq("id", "v", "_change_type", "_commit_version", "_commit_timestamp")
    val rows = feed
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Int, String, String, String)].collect().toSet
    // each change attributed to the commit that made it — unlike diff's
    // net delta, the intermediate delete commit is visible
    rows shouldBe Set(
      (2, "b", "delete", versions(1)),
      (4, "d", "insert", versions(0)))
    // _commit_timestamp is the version id's own instant
    val ts = feed.filter(col("_change_type") === "insert")
      .select("_commit_timestamp").head().getTimestamp(0)
    ts.getTime shouldBe versions.head.take(16).toLong
    // reversed or unknown endpoints are loud
    an[IllegalArgumentException] should be thrownBy
      lake.changeFeed("t", versions.head, versions.last)
    an[IllegalArgumentException] should be thrownBy
      lake.changeFeed("t", "nope", versions.head)
  }

  test("changeFeedKeyed classifies same-commit key overlap as update pre/post-images") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "t")
    // one commit carrying an update (id=1), a delete (id=2) and an
    // insert (id=9) — the classifier must split all three correctly
    lake.mergeInto("t", Seq((1, "a2"), (9, "z")).toDF("id", "v"), Seq("id"))
    lake.deleteWhere("t", col("id") === 2)
    val versions = lake.listVersions("t")
    val feed = lake.changeFeedKeyed("t", versions.last, versions.head,
      Seq("id"))
    val rows = feed.select("id", "v", "_change_type", "_commit_version")
      .as[(Int, String, String, String)].collect().toSet
    rows shouldBe Set(
      (1, "a", "update_preimage", versions(1)),
      (1, "a2", "update_postimage", versions(1)),
      (9, "z", "insert", versions(1)),
      (2, "b", "delete", versions(0)))
    // the keyed feed maintains the same IVM state as the unkeyed one
    val gold0 = newspipe.ops.IncrementalAgg.compute(
      lake.readVersion("t", versions.last), Seq("v"), Nil)
    val viaKeyed = newspipe.ops.IncrementalAgg.applyDelta(
      gold0, feed, Seq("v"), Nil)
    val recomputed = newspipe.ops.IncrementalAgg.compute(
      lake.read("t"), Seq("v"), Nil)
    viaKeyed.as[(String, Long)].collect().toSet shouldBe
      recomputed.as[(String, Long)].collect().toSet
  }


  test("writeAtomic of an empty frame commits a readable 0-row snapshot; pre-commit reads fail loudly") {
    val lake = tmpLake()
    // simulate an in-flight first write: _v exists, nothing committed
    val base = java.nio.file.Files.createTempDirectory("lake2")
    val lake2 = new Lake(spark, LakeConfig(base.toString))
    java.nio.file.Files.createDirectories(base.resolve("layer/_v/000-wip"))
    val err = intercept[IllegalArgumentException](lake2.read("layer"))
    err.getMessage should include("no committed snapshot")
    // empty snapshot: schema survives, count 0
    lake.writeAtomic(Seq((1, "a")).toDF("id", "v").filter($"id" > 99), "layer")
    lake.read("layer").count() shouldBe 0L
    lake.read("layer").schema.fieldNames shouldBe Array("id", "v")
  }

  test("write refuses a snapshot-managed layer (flat append would be invisible)") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "a")).toDF("id", "v"), "layer")
    an[IllegalArgumentException] should be thrownBy
      lake.write(Seq((2, "b")).toDF("id", "v"), "layer", mode = "append")
    an[IllegalArgumentException] should be thrownBy
      lake.write(Seq((2, "b")).toDF("id", "v"), "layer", mode = "overwrite")
    lake.read("layer").count() shouldBe 1 // nothing was hidden or destroyed
  }

  test("writeAtomic with partitionBy keeps the hive layout inside the snapshot") {
    val lake = tmpLake()
    val path = lake.writeAtomic(Seq(("x", "US"), ("y", "GB")).toDF("v", "COUNTRY"),
      "silver", partitionBy = Seq("COUNTRY"))
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("COUNTRY=")).sorted shouldBe Array("COUNTRY=GB", "COUNTRY=US")
    lake.read("silver").count() shouldBe 2
  }

  test("listVersions/readVersion: every committed snapshot stays pinned-readable until vacuum") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, "first")).toDF("id", "v"), "layer")
    lake.writeAtomic(Seq((2, "second"), (3, "second")).toDF("id", "v"), "layer")
    val versions = lake.listVersions("layer")
    versions.length shouldBe 2
    versions shouldBe versions.sorted(Ordering[String].reverse) // newest first
    lake.readVersion("layer", versions.head).count() shouldBe 2
    lake.readVersion("layer", versions.last)
      .as[(Int, String)].head() shouldBe ((1, "first"))
    // unknown / uncommitted versions are rejected loudly
    an[IllegalArgumentException] should be thrownBy
      lake.readVersion("layer", "not-a-version")
    lake.listVersions("flat-layer") shouldBe empty
  }

  test("compact rewrites many small files as one atomic snapshot with fewer files") {
    val lake = tmpLake()
    // 40 tiny files via a wide repartition
    val df = Seq.tabulate(200)(i => (i.toLong, s"v$i")).toDF("id", "v")
    val p1 = lake.writeAtomic(df.repartition(40), "layer")
    val before = new java.io.File(p1).listFiles().count(_.getName.endsWith(".parquet"))
    before should be >= 30
    val p2 = lake.compact("layer", targetFileBytes = 1L * 1024 * 1024 * 1024)
    val after = new java.io.File(p2).listFiles().count(_.getName.endsWith(".parquet"))
    after shouldBe 1
    lake.read("layer").count() shouldBe 200
    // compaction is just another committed snapshot; the old one is intact
    lake.listVersions("layer").length shouldBe 2
  }

  test("compact(partitionBy) keeps the hive layout in the compacted snapshot") {
    val lake = tmpLake()
    val df = Seq.tabulate(100)(i => (i.toLong, if (i % 2 == 0) "US" else "GB"))
      .toDF("id", "COUNTRY")
    lake.writeAtomic(df.repartition(20), "silver", partitionBy = Seq("COUNTRY"))
    val p = lake.compact("silver", targetFileBytes = 1L << 30,
      partitionBy = Seq("COUNTRY"))
    new java.io.File(p).listFiles().map(_.getName)
      .filter(_.startsWith("COUNTRY=")).sorted shouldBe Array("COUNTRY=GB", "COUNTRY=US")
    lake.read("silver").count() shouldBe 100
  }

  test("compact migrates a flat layer to snapshot management") {
    val lake = tmpLake()
    lake.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), "flat", mode = "append")
    lake.compact("flat")
    lake.listVersions("flat").length shouldBe 1
    lake.read("flat").count() shouldBe 2
    // further flat writes are refused (snapshot-managed now)
    an[IllegalArgumentException] should be thrownBy
      lake.write(Seq((3, "c")).toDF("id", "v"), "flat", mode = "append")
  }

  test("read(mergeSchema): appends that added a column read as one evolved schema") {
    val lake = tmpLake()
    lake.write(Seq((1, "a")).toDF("id", "v"), "bronze", mode = "append")
    lake.write(Seq((2, "b", "extra")).toDF("id", "v", "note"), "bronze",
      mode = "append")
    // default read keeps whichever footer schema wins; the evolved read
    // unions them — old rows read null for the added column
    val evolved = lake.read("bronze", mergeSchema = true)
    evolved.schema.fieldNames.sorted shouldBe Array("id", "note", "v")
    evolved.filter($"id" === 1).select("note").head().isNullAt(0) shouldBe true
    evolved.filter($"id" === 2).select("note").as[String].head() shouldBe "extra"
  }

  test("JsonSource reads with the EXPLICIT bronze schema — missing keys are null, not errors") {
    val df = JsonSource.fromJsonLines(spark, Seq(
      """{"title":"only title","url":"https://x.com/1"}"""))
    val row = df.select("title", "author", "source.name").head()
    row.getString(0) shouldBe "only title"
    row.isNullAt(1) shouldBe true
    df.schema.fieldNames should contain("publishedAt") // schema fixed, not inferred
  }

  // ------------------------------------------------------------- row ops

  test("deleteWhere removes matching rows; read equals the filtered original") {
    val lake = tmpLake()
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    lake.writeAtomic(df.repartition(4), "docs")
    val r = lake.deleteWhere("docs", $"id" <= 30)
    r.noop shouldBe false
    lake.read("docs").agg(count("*"), min("id")).as[(Long, Long)].head() shouldBe
      ((70L, 31L))
    // old snapshot still time-travels to the pre-delete state
    val Seq(_, vOld) = lake.listVersions("docs")
    lake.readVersion("docs", vOld).count() shouldBe 100
  }

  test("deleteWhere NULL-predicate rows survive (SQL DELETE semantics)") {
    val lake = tmpLake()
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("x"))).toDF("id", "v")
    lake.writeAtomic(df, "n")
    lake.deleteWhere("n", $"v" =!= "a") // NULL on id=2 → keep
    lake.read("n").select("id").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("deleteWhere rewrites only can-match files; the rest ride the manifest by reference") {
    val lake = tmpLake()
    // id-clustered files so stats bounds separate the predicate cleanly
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartitionByRange(10, $"id").sortWithinPartitions("id")
    lake.writeAtomic(df, "docs")
    val r = lake.deleteWhere("docs", $"id" <= 100)
    r.rewrittenFiles should be <= 2 // ~1 file holds ids 1-100 (+boundary)
    r.carriedFiles should be >= 8
    lake.read("docs").count() shouldBe 900
    // and the carried files still prune on later reads (stats carried over)
    val info = lake.pruneInfo("docs", $"id" > 900).get
    info.keptFiles should be < info.totalFiles
  }

  test("deleteWhere of every row commits an empty-manifest snapshot that reads as 0 rows with schema") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "docs")
    lake.deleteWhere("docs", lit(true))
    val out = lake.read("docs")
    out.count() shouldBe 0L
    out.schema.fieldNames.sorted shouldBe Array("id", "v")
  }

  test("deleteWhere that provably matches nothing is a no-op (no new snapshot)") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 50).map(i => (i.toLong, "x")).toDF("id", "v"), "docs")
    val before = lake.listVersions("docs")
    val r = lake.deleteWhere("docs", $"id" > 999)
    r.noop shouldBe true
    lake.listVersions("docs") shouldBe before
    lake.read("docs").count() shouldBe 50
  }

  test("deleteWhere keeps the hive partition layout of rewritten files") {
    val lake = tmpLake()
    val df = Seq((1L, "US"), (2L, "US"), (3L, "GB"), (4L, "GB"))
      .toDF("id", "country")
    lake.writeAtomic(df, "docs", partitionBy = Seq("country"))
    val r = lake.deleteWhere("docs", $"country" === "US" && $"id" === 1L)
    // the GB partition's file must ride by reference — this is what forces
    // the read below across TWO version dirs, the layout Spark's single-
    // root partition discovery rejects without per-dir grouped loads
    r.carriedFiles should be >= 1
    val out = lake.read("docs")
    out.schema.fieldNames should contain("country")
    out.select("id").as[Long].collect().sorted shouldBe Array(2L, 3L, 4L)
    // partition pruning on the manifest snapshot still works
    lake.read("docs").filter($"country" === "GB").count() shouldBe 2
  }

  test("updateWhere assigns on matching rows only; row count is preserved") {
    val lake = tmpLake()
    val df = (1 to 40).map(i => (i.toLong, 1.0)).toDF("id", "score")
    lake.writeAtomic(df, "docs")
    lake.updateWhere("docs", $"id" <= 10, Map("score" -> lit(0.0)))
    lake.read("docs").agg(count("*"), sum("score")).as[(Long, Double)]
      .head() shouldBe ((40L, 30.0))
    an[IllegalArgumentException] should be thrownBy
      lake.updateWhere("docs", lit(true), Map("nope" -> lit(1)))
  }

  test("updateWhere assignments all read the ORIGINAL row (SQL UPDATE semantics)") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, 10.0, 20.0)).toDF("id", "a", "b"), "t_swap")
    lake.updateWhere("t_swap", lit(true), Map("a" -> $"b", "b" -> $"a"))
    lake.read("t_swap").select("a", "b").as[(Double, Double)].head() shouldBe
      ((20.0, 10.0))
  }

  test("mergeInto replaces matched rows and inserts unmatched (upsert)") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "t")
    val src = Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
    val r = lake.mergeInto("t", src, Seq("id"))
    r.noop shouldBe false
    lake.read("t").as[(Long, String)].collect().sortBy(_._1) shouldBe
      Array((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new"))
  }

  test("mergeInto rewrites only files that can hold a source key") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(10, $"id").sortWithinPartitions("id"), "t")
    // source keys all in one narrow range → one file rewritten, rest carried
    val src = (101 to 110).map(i => (i.toLong, "upd")).toDF("id", "v")
    val r = lake.mergeInto("t", src, Seq("id"))
    r.rewrittenFiles should be <= 2
    r.carriedFiles should be >= 8
    val out = lake.read("t")
    out.count() shouldBe 1000
    out.filter($"v" === "upd").count() shouldBe 10
  }

  test("mergeInto insert-only source (no key overlap) appends without rewriting") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "x")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "t")
    val src = Seq((5000L, "n1"), (5001L, "n2")).toDF("id", "v")
    val r = lake.mergeInto("t", src, Seq("id"))
    r.rewrittenFiles shouldBe 0
    lake.read("t").count() shouldBe 102
    lake.read("t").filter($"id" >= 5000L).count() shouldBe 2
  }

  test("mergeInto refuses duplicate source keys (ambiguous merge)") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "v")
    an[IllegalArgumentException] should be thrownBy
      lake.mergeInto("t", dup, Seq("id"))
    // explicit opt-out for producers that guarantee uniqueness upstream
    noException should be thrownBy lake.mergeInto("t",
      Seq((1L, "z")).toDF("id", "v"), Seq("id"), requireUniqueKeys = false)
  }

  test("mergeInto refuses a source whose columns differ from the layer") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    an[IllegalArgumentException] should be thrownBy
      lake.mergeInto("t", Seq((1L, 2L)).toDF("id", "other"), Seq("id"))
  }

  test("mergeInto composite key uses range bounds; result still exact") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0))
      .toDF("k1", "k2", "x"), "t")
    val src = Seq((1L, "b", 20.0), (3L, "c", 30.0)).toDF("k1", "k2", "x")
    lake.mergeInto("t", src, Seq("k1", "k2"))
    lake.read("t").as[(Long, String, Double)].collect()
      .sortBy(r => (r._1, r._2)) shouldBe
      Array((1L, "a", 1.0), (1L, "b", 20.0), (2L, "a", 3.0), (3L, "c", 30.0))
  }

  test("mergeInto(allowSchemaEvolution) adds source columns; carried files read null") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(5, $"id").sortWithinPartitions("id"), "t")
    // without the flag: refused
    an[IllegalArgumentException] should be thrownBy
      lake.mergeInto("t", Seq((1L, "x", 0.5)).toDF("id", "v", "score"),
        Seq("id"))
    val r = lake.mergeInto("t",
      Seq((5L, "up", 0.9), (500L, "new", 0.1)).toDF("id", "v", "score"),
      Seq("id"), allowSchemaEvolution = true)
    r.carriedFiles should be >= 4 // narrow keys → most files by reference
    val out = lake.read("t")
    out.schema.fieldNames.toSeq shouldBe Seq("id", "v", "score")
    out.count() shouldBe 101
    // touched rows carry the new column; untouched (incl. CARRIED files,
    // which predate the column entirely) read null
    out.filter($"id" === 5L).select("score").as[Double].head() shouldBe 0.9
    out.filter($"id" === 50L).select("score").isEmpty shouldBe false
    out.filter($"score".isNull).count() shouldBe 99
    // evolution survives a FURTHER row op (schema now includes score)
    lake.deleteWhere("t", $"id" === 500L)
    lake.read("t").schema.fieldNames.toSeq shouldBe Seq("id", "v", "score")
    lake.read("t").filter($"score".isNotNull).count() shouldBe 1
    // the source must still carry every existing column
    an[IllegalArgumentException] should be thrownBy
      lake.mergeInto("t", Seq((1L, 0.3)).toDF("id", "score"), Seq("id"),
        allowSchemaEvolution = true)
  }

  test("appendAtomic with new columns evolves the recorded schema both ways") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    lake.appendAtomic(Seq((2L, "b", 7L)).toDF("id", "v", "extra"), "t")
    val out = lake.read("t")
    out.schema.fieldNames.toSeq shouldBe Seq("id", "v", "extra")
    out.filter($"id" === 1L).select("extra").head().isNullAt(0) shouldBe true
    out.filter($"id" === 2L).select("extra").as[Long].head() shouldBe 7L
    // an increment MISSING a recorded column reads null for its rows
    lake.appendAtomic(Seq((3L, "c")).toDF("id", "v"), "t")
    lake.read("t").filter($"id" === 3L).select("extra").head()
      .isNullAt(0) shouldBe true
    lake.read("t").count() shouldBe 3
  }

  test("mergeInto with an empty source is a NOOP — no new snapshot, no rewrite") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "x", i % 7))
      .toDF("id", "v", "g").repartitionByRange(4, $"id")
      .sortWithinPartitions("id"), "t")
    val before = lake.listVersions("t")
    val empty = Seq.empty[(Long, String, Int)].toDF("id", "v", "g")
    // single-key path (the empty IN-list would otherwise optimize to a
    // removed filter → every file "can match")
    val r1 = lake.mergeInto("t", empty, Seq("id"))
    r1.noop shouldBe true
    r1.rewrittenFiles shouldBe 0
    // composite-key path (null min/max bounds would otherwise read TRUE →
    // full-layer rewrite); also the upsertToLake shape (no uniqueness pass)
    val r2 = lake.mergeInto("t", empty, Seq("id", "g"),
      requireUniqueKeys = false)
    r2.noop shouldBe true
    // neither committed anything: an idle CDC trigger must not grow history
    lake.listVersions("t") shouldBe before
    lake.read("t").count() shouldBe 100
  }

  test("mergeInto whose key column is ALL NULL in the source cannot rewrite the layer") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 60).map(i => (i.toLong, "x", i.toLong))
      .toDF("id", "v", "g").repartitionByRange(3, $"id")
      .sortWithinPartitions("id"), "t")
    // composite key forces the bounds path; a null key never equals
    // anything, so NO target row can match — the insert leg lands, zero
    // files rewrite
    val src = Seq((Option.empty[Long], "n", Option(999L)))
      .toDF("id", "v", "g")
    val r = lake.mergeInto("t", src, Seq("id", "g"))
    r.rewrittenFiles shouldBe 0
    lake.read("t").count() shouldBe 61
  }

  test("appendAtomic refuses an incompatible column type at COMMIT time") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    // v is string in the layer, long in the increment: committing it would
    // poison every later read (explicit-schema vs physical-type error) —
    // the append must fail BEFORE writing, and the layer stay readable
    val before = lake.listVersions("t")
    an[IllegalArgumentException] should be thrownBy
      lake.appendAtomic(Seq((2L, 99L)).toDF("id", "v"), "t")
    lake.listVersions("t") shouldBe before
    lake.read("t").count() shouldBe 1
  }

  test("appendAtomic widens int→long / float→double; carried narrow files promote on read") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1, 1.5f)).toDF("n", "x"), "t") // int, float
    lake.appendAtomic(Seq((2L, 2.5d)).toDF("n", "x"), "t") // long, double
    val out = lake.read("t")
    out.schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
    out.schema("x").dataType shouldBe org.apache.spark.sql.types.DoubleType
    out.as[(Long, Double)].collect().sorted shouldBe
      Array((1L, 1.5d), (2L, 2.5d))
    // and the NARROWER-increment direction keeps the recorded wide type
    lake.appendAtomic(Seq((3, 3.5f)).toDF("n", "x"), "t")
    lake.read("t").schema("n").dataType shouldBe
      org.apache.spark.sql.types.LongType
    lake.read("t").count() shouldBe 3
  }

  test("mergeInto refuses incompatible same-name types instead of coercing to string") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, 10L)).toDF("id", "v"), "t")
    // union coercion would silently resolve long-vs-string to STRING and
    // record a schema the carried parquet files can't be read with
    val ex = intercept[IllegalArgumentException] {
      lake.mergeInto("t", Seq((1L, "s")).toDF("id", "v"), Seq("id"))
    }
    ex.getMessage should include("'v'")
    // long→double is lossy (53-bit mantissa) — refused, not widened
    an[IllegalArgumentException] should be thrownBy
      lake.mergeInto("t", Seq((1L, 1.0d)).toDF("id", "v"), Seq("id"))
    lake.read("t").count() shouldBe 1
  }

  test("mergeInto widens the recorded type when the source is wider") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 40).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "t") // int ids
    lake.mergeInto("t",
      Seq((5L, "up"), (1000L, "new")).toDF("id", "v"), Seq("id")) // long ids
    val out = lake.read("t")
    out.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    out.count() shouldBe 41
    out.filter($"id" === 5L).select("v").as[String].head() shouldBe "up"
    // carried int files promoted on read; further row ops see long
    lake.deleteWhere("t", $"id" === 1000L)
    lake.read("t").count() shouldBe 40
  }

  test("manifest sharding: 10^4-path inventory round-trips in bounded shards") {
    val files = (1 to 10000).map(i => f"_v/v1/part-$i%05d.parquet")
    val m = SnapshotManifest(files, "id BIGINT, v STRING")
    val (head, shards) = SnapshotManifest.toJsonSharded(m, shardSize = 1024)
    shards.size shouldBe 10 // ceil(10000/1024)
    // every shard document stays bounded regardless of total inventory
    shards.foreach(_.length should be < 1024 * 60)
    val back = SnapshotManifest.read(head, shards(_))
    back.files shouldBe files
    back.schemaDdl shouldBe m.schemaDdl
    // a missing/truncated shard fails LOUDLY (silent narrowing would make
    // diff report phantom deletes and vacuum reclaim live files)
    an[Exception] should be thrownBy
      SnapshotManifest.read(head,
        i => if (i == 7) """{"files":[]}""" else shards(i))
    // small inventories stay inline: one read, no shard files
    val (inlineHead, noShards) = SnapshotManifest.toJsonSharded(m)
    noShards shouldBe empty
    SnapshotManifest.read(inlineHead,
      _ => fail("inline manifest must not read shards")).files shouldBe files
  }

  test("row ops through a SHARDED manifest: read/diff/restore/vacuum all compose") {
    val dir = Files.createTempDirectory("lake_sharded").toString
    // shard size 8 forces real sharding at test scale (24 files → 3+
    // shards); checkpointInterval=1 forces every commit to write the full
    // sharded manifest (the incremental form is spec'd separately)
    val lake = new Lake(spark, LakeConfig(basePath = dir,
      manifestShardSize = 8, checkpointInterval = 1))
    lake.writeAtomic((1 to 240).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(24, $"id").sortWithinPartitions("id"), "t")
    val v1 = lake.listVersions("t").head
    lake.deleteWhere("t", $"id" <= 10)
    val fsDir = new java.io.File(s"$dir/t/_v")
    val headSnap = lake.listVersions("t").head
    new java.io.File(s"$dir/t/_v/$headSnap").listFiles()
      .count(_.getName.startsWith("_MANIFEST-")) should be >= 2
    lake.read("t").count() shouldBe 230
    lake.mergeInto("t", Seq((5000L, "new")).toDF("id", "v"), Seq("id"))
    val vH = lake.listVersions("t").head
    val (ins, del) = lake.diff("t", v1, vH)
    del.count() shouldBe 10
    ins.count() shouldBe 1
    lake.restore("t", v1)
    lake.vacuum("t", keep = 1)
    lake.read("t").count() shouldBe 240
    fsDir should exist
  }

  test("chained row ops: delete after delete composes manifests correctly") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartition(5), "docs")
    lake.deleteWhere("docs", $"id" <= 20)
    lake.deleteWhere("docs", $"id" > 80)
    lake.read("docs").agg(min("id"), max("id"), count("*"))
      .as[(Long, Long, Long)].head() shouldBe ((21L, 80L, 60L))
  }

  test("vacuum pins older version dirs a kept manifest snapshot references") {
    val lake = tmpLake()
    // id-clustered so the delete provably carries files from v1 by reference
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartitionByRange(5, $"id").sortWithinPartitions("id"), "docs")
    lake.deleteWhere("docs", $"id" <= 10) // manifest referencing v1's files
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    // v1's dir must survive: the kept (manifest) snapshot reads through it
    lake.read("docs").count() shouldBe 90
    lake.listVersions("docs").length shouldBe 2 // v1 pinned, not reclaimed
  }

  test("compact of a manifest layer re-bases it to a self-contained snapshot") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartition(5), "docs")
    lake.deleteWhere("docs", $"id" <= 50)
    lake.compact("docs")
    lake.read("docs").count() shouldBe 50
    // now nothing references v1/v2 — vacuum reclaims down to the compacted one
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    lake.listVersions("docs").length shouldBe 1
    lake.read("docs").count() shouldBe 50
  }

  test("appendAtomic extends the snapshot without rewriting carried files") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartition(4), "t")
    val r = lake.appendAtomic(Seq((200L, "new"), (201L, "new")).toDF("id", "v"), "t")
    r.rewrittenFiles shouldBe 0
    r.carriedFiles shouldBe 4
    lake.read("t").count() shouldBe 102
    // readers of the OLD version still see the pre-append state
    val Seq(_, vOld) = lake.listVersions("t")
    lake.readVersion("t", vOld).count() shouldBe 100
    // the diff between them is exactly the appended rows
    val Seq(vNew, _) = lake.listVersions("t")
    val (ins, del) = lake.diff("t", vOld, vNew)
    ins.count() shouldBe 2
    del.count() shouldBe 0
  }

  test("appendAtomic keeps stats-based pruning across carried and appended files") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "t")
    lake.appendAtomic((1000 to 1100).map(i => (i.toLong, "n")).toDF("id", "v"), "t")
    val info = lake.pruneInfo("t", $"id" >= 1000L).get
    info.keptFiles should be < info.totalFiles
    lake.readWhere("t", $"id" >= 1000L).count() shouldBe 101
  }

  test("appendAtomic preserves the hive layout and refuses pre-snapshot layers") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "US"), (2L, "GB")).toDF("id", "country"),
      "t", partitionBy = Seq("country"))
    lake.appendAtomic(Seq((3L, "US")).toDF("id", "country"), "t")
    lake.read("t").filter($"country" === "US").count() shouldBe 2
    an[IllegalStateException] should be thrownBy
      lake.appendAtomic(Seq((1L, "x")).toDF("id", "v"), "never_landed")
  }

  test("vacuumOlderThan reclaims by age, always keeps the newest, pins manifest refs") {
    val lake = tmpLake()
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "v"), "t")
    Thread.sleep(15)
    lake.writeAtomic(Seq((2L, "b")).toDF("id", "v"), "t")
    Thread.sleep(15)
    lake.writeAtomic(Seq((3L, "c")).toDF("id", "v"), "t")
    // huge retention: nothing reclaimed
    lake.vacuumOlderThan("t", retentionMs = 3600 * 1000L, orphanGraceMs = 0L)
    lake.listVersions("t").length shouldBe 3
    // zero retention: only the newest survives (the always-keep guarantee)
    lake.vacuumOlderThan("t", retentionMs = 0L, orphanGraceMs = 0L)
    lake.listVersions("t").length shouldBe 1
    lake.read("t").as[(Long, String)].head() shouldBe ((3L, "c"))
    // a manifest HEAD pins the dirs it references even at zero retention
    val lake2 = tmpLake()
    lake2.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "t2")
    Thread.sleep(15)
    lake2.deleteWhere("t2", $"id" <= 10)
    lake2.vacuumOlderThan("t2", retentionMs = 0L, orphanGraceMs = 0L)
    lake2.read("t2").count() shouldBe 90 // carried v1 files pinned
  }

  test("restore rolls back to an old version as a new commit, no data copies") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, "v")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "t")
    val v1 = lake.listVersions("t").head
    lake.deleteWhere("t", $"id" <= 50) // the "bad" commit
    lake.read("t").count() shouldBe 50
    val r = lake.restore("t", v1)
    r.rewrittenFiles shouldBe 0
    lake.read("t").count() shouldBe 100
    // history intact: three versions, the middle one still diffs
    val versions = lake.listVersions("t")
    versions.length shouldBe 3
    val (ins, del) = lake.diff("t", versions(1), versions.head)
    ins.count() shouldBe 50 // the restore re-inserts what the delete removed
    del.count() shouldBe 0
    // restored state still prunes (target's stats carried over)
    lake.pruneInfo("t", $"id" > 90L).get.keptFiles should be < 4
    // further row ops compose on top of the restore
    lake.deleteWhere("t", $"id" === 1L)
    lake.read("t").count() shouldBe 99
    // restoring to the CURRENT head is a no-op
    val head = lake.listVersions("t").head
    lake.restore("t", head).noop shouldBe true
    // vacuum pins everything the restored manifest references
    lake.vacuum("t", keep = 1, orphanGraceMs = 0L)
    lake.read("t").count() shouldBe 99
  }

  test("manifest reads with the recorded-schema hint still push filters and prune columns") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, s"v$i", i % 7))
      .toDF("id", "v", "bucket").repartitionByRange(4, $"id")
      .sortWithinPartitions("id"), "t")
    lake.deleteWhere("t", $"id" === 1L) // HEAD is now a manifest snapshot
    val plan = lake.read("t").filter($"bucket" === 3).select("id", "bucket")
      .queryExecution.executedPlan.toString
    // the explicit reader schema (evolution support) must not cost the
    // scan its pushdown or projection pruning
    plan should include("PushedFilters: [IsNotNull(bucket), EqualTo(bucket,3)]")
    plan should include("ReadSchema: struct<id:bigint,bucket:int>")
  }

  test("diff between snapshots yields exact row-level inserted/deleted sets") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(5, $"id").sortWithinPartitions("id"), "t")
    lake.deleteWhere("t", $"id" <= 10)
    lake.mergeInto("t", Seq((50L, "updated"), (500L, "new")).toDF("id", "v"),
      Seq("id"))
    val versions = lake.listVersions("t") // newest first: merge, delete, base
    val Seq(vMerge, vDelete, vBase) = versions
    val (ins1, del1) = lake.diff("t", vBase, vDelete)
    ins1.count() shouldBe 0
    del1.select("id").as[Long].collect().sorted shouldBe (1L to 10L).toArray
    val (ins2, del2) = lake.diff("t", vDelete, vMerge)
    ins2.as[(Long, String)].collect().sortBy(_._1) shouldBe
      Array((50L, "updated"), (500L, "new")).sortBy(_._1)
    del2.as[(Long, String)].collect() shouldBe Array((50L, "v50"))
    // end-to-end diff composes: base → merge
    val (insAll, delAll) = lake.diff("t", vBase, vMerge)
    insAll.count() shouldBe 2
    delAll.count() shouldBe 11 // ids 1-10 + the old id=50 row
    // and the reverse direction swaps the sets
    val (insRev, delRev) = lake.diff("t", vMerge, vBase)
    insRev.count() shouldBe 11
    delRev.count() shouldBe 2
  }

  test("diff only reads files changed between the snapshots (plan-level pin)") {
    val lake = tmpLake()
    lake.writeAtomic((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(10, $"id").sortWithinPartitions("id"), "t")
    lake.deleteWhere("t", $"id" === 5L) // rewrites ~1 file, carries ~9
    val Seq(v2, v1) = lake.listVersions("t")
    val (ins, del) = lake.diff("t", v1, v2)
    // the union of both sides' scanned files must be << the two snapshots'
    // 20 combined: only the rewritten file appears on each side
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collectLeaves().map {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
        case _ => 0
      }.sum
    (scannedFiles(ins) + scannedFiles(del)) should be <= 4
    ins.count() shouldBe 0
    del.select("id").as[Long].collect() shouldBe Array(5L)
  }

  test("readAsOf pins the '~' sentinel: same-millisecond snapshots resolve to the newest by name") {
    val dir = Files.createTempDirectory("lake").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((1, "a")).toDF("id", "v"), "layer")
    lake.writeAtomic(Seq((2, "b")).toDF("id", "v"), "layer")
    val Seq(v2, v1) = lake.listVersions("layer")
    // Force the SAME millisecond prefix deterministically: rename the newer
    // version dir to v1's millis with a later-sorting suffix ('z' > hex).
    val vdir = new java.io.File(s"$dir/layer/_v")
    val forced = v1.take(16) + "-zzzzzzzz"
    new java.io.File(vdir, v2).renameTo(new java.io.File(vdir, forced)) shouldBe true
    val millis = v1.take(16).toLong
    // the '~' cutoff sentinel sorts after every '-'-suffixed id of that
    // millisecond — the cutoff AT the shared instant must resolve the
    // newest-by-name same-ms snapshot, not skip both or pick the older
    lake.readAsOf("layer", millis).as[(Int, String)].head() shouldBe ((2, "b"))
    a[NoSuchElementException] should be thrownBy
      lake.readAsOf("layer", millis - 1)
  }


  test("compactSmall: bin-packs only sub-threshold files, carries the rest, noop when nothing to pack") {
    val dir = Files.createTempDirectory("lake_csmall").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    // 4 tiny files + 1 larger file, via explicit repartitionByRange slices
    val tiny = (1 to 40).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .repartitionByRange(4, $"id")
    val bigger = (1000 to 2999).map(i =>
      (i.toLong, "x" * 200 + i)).toDF("id", "text").coalesce(1)
    lake.writeAtomic(tiny.unionByName(bigger).repartitionByRange(5, $"id")
      .sortWithinPartitions("id"), "docs")
    val before = lake.read("docs").collect().toSet
    val sizes = new java.io.File(s"$dir/docs/_v").listFiles()
      .filter(_.isDirectory).head
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sorted
    // threshold between the tiny slices and the big one
    val threshold = sizes.last // everything below the biggest is "small"
    val r = lake.compactSmall("docs", smallFileBytes = threshold,
      targetFileBytes = threshold * 10)
    r.noop shouldBe false
    r.carriedFiles should be >= 1 // the big file rode by reference
    r.rewrittenFiles shouldBe 4
    lake.read("docs").collect().toSet shouldBe before
    // history records an OPTIMIZE commit
    lake.historyRows("docs").map(_.getString(2)) shouldBe Seq("WRITE", "OPTIMIZE")
    // packing left at most one sub-threshold file -> second call is a noop
    val r2 = lake.compactSmall("docs", smallFileBytes = threshold,
      targetFileBytes = threshold * 10)
    r2.noop shouldBe true
    lake.historyRows("docs").size shouldBe 2 // no commit churn
  }

  test("compactSmall rewrites DV'd small files THROUGH their deletion vectors") {
    val dir = Files.createTempDirectory("lake_csmall_dv").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic((1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), "docs")
    lake.deleteWhereDv("docs", $"id" % 10 === 0)
    val expected = (1 to 100).filter(_ % 10 != 0).map(_.toLong).toSet
    lake.read("docs").select("id").as[Long].collect().toSet shouldBe expected
    val r = lake.compactSmall("docs", smallFileBytes = Long.MaxValue / 2,
      targetFileBytes = Long.MaxValue / 2)
    r.noop shouldBe false
    // deletes are materialized, not resurrected
    lake.read("docs").select("id").as[Long].collect().toSet shouldBe expected
    lake.deleteWhereDv("docs", $"id" === 1L) // protocol still healthy after
    lake.read("docs").count() shouldBe expected.size - 1
  }


  test("retryOnConflict: a losing writer re-reads the new head and lands on top of it") {
    val dir = Files.createTempDirectory("lake_retry").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "text"), "docs")
    var attempts = 0
    lake.retryOnConflict(maxAttempts = 3) {
      attempts += 1
      val parent = Some(new org.apache.hadoop.fs.Path(
        lake.listVersions("docs").head).getName)
      if (attempts == 1) {
        // a concurrent writer commits between our read and our commit
        lake.writeAtomic(Seq((2L, "b")).toDF("id", "text"), "docs")
      }
      lake.writeAtomicIfLatest(
        lake.read("docs").unionByName(Seq((3L, "c")).toDF("id", "text")),
        "docs", parent)
    }
    attempts shouldBe 2 // lost once, succeeded on the re-read
    lake.read("docs").select("id").as[Long].collect().toSet shouldBe Set(2L, 3L)
  }

  test("retryOnConflict: exhausting attempts stays loud") {
    val dir = Files.createTempDirectory("lake_retry2").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((1L, "a")).toDF("id", "text"), "docs")
    intercept[java.util.ConcurrentModificationException] {
      lake.retryOnConflict(maxAttempts = 2, baseBackoffMs = 1L) {
        throw new java.util.ConcurrentModificationException("synthetic")
      }
    }
  }


  test("two writers racing appendAtomic under retryOnConflict: both increments land") {
    val dir = Files.createTempDirectory("lake_race").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((0L, "base")).toDF("id", "text"), "docs")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { w =>
      Future {
        lake.retryOnConflict(maxAttempts = 10, baseBackoffMs = 20L) {
          lake.appendAtomic(
            Seq((w.toLong, s"writer$w")).toDF("id", "text"), "docs")
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // every writer's row landed exactly once; history shows 5 commits
    lake.read("docs").select("id").as[Long].collect().sorted shouldBe
      Array(0L, 1L, 2L, 3L, 4L)
    lake.historyRows("docs").map(_.getString(2)) shouldBe
      Seq("WRITE", "APPEND", "APPEND", "APPEND", "APPEND")
  }

  test("commit lock: a stale lock (dead holder) is broken and cleaned up") {
    val dir = Files.createTempDirectory("lake_stale").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((0L, "base")).toDF("id", "text"), "docs")
    // plant a dead holder's lock: old content timestamp AND old mtime
    val vDir = new org.apache.hadoop.fs.Path(s"$dir/docs/_v")
    val lock = new org.apache.hadoop.fs.Path(vDir, "_COMMIT_LOCK")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 120000L
    val out = fs.create(lock, false)
    out.write(s"dead-holder-nonce $old".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, old, old)
    // a new writer must break the stale lock and commit normally
    lake.appendAtomic(Seq((1L, "next")).toDF("id", "text"), "docs")
    lake.read("docs").count() shouldBe 2L
    // ...leaving neither the stale lock nor any tombstone debris behind
    val leftovers = fs.listStatus(vDir)
      .map(_.getPath.getName).filter(_.startsWith("_COMMIT_LOCK"))
    leftovers shouldBe empty
  }

  test("commit lock: a FRESH foreign lock is waited out, never broken") {
    val dir = Files.createTempDirectory("lake_fresh").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq((0L, "base")).toDF("id", "text"), "docs")
    val vDir = new org.apache.hadoop.fs.Path(s"$dir/docs/_v")
    val lock = new org.apache.hadoop.fs.Path(vDir, "_COMMIT_LOCK")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    val out = fs.create(lock, false)
    out.write(s"live-holder-nonce $now".getBytes("UTF-8")); out.close()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writer = Future {
      lake.appendAtomic(Seq((1L, "next")).toDF("id", "text"), "docs")
    }
    Thread.sleep(1500) // writer must still be blocked on the live lock
    writer.isCompleted shouldBe false
    fs.delete(lock, false) // holder releases
    Await.result(writer, 60.seconds)
    lake.read("docs").count() shouldBe 2L
  }

  test("a failed full overwrite leaves nothing staged: old snapshot, no orphan dir") {
    val dir = Files.createTempDirectory("lakefail").toString
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    lake.writeAtomic(Seq(1L, 2L, 3L).toDF("id"), "docs")
    val committed = lake.listVersions("docs").toSet
    committed should have size 1
    // the save's task throws: the write aborts after Spark created the
    // staged version directory
    val boom = udf((x: Long) => {
      if (x >= 0L) throw new IllegalStateException("task failure"); x
    })
    val bad = spark.range(3).select(boom(col("id")).as("id"))
    val vDir = new java.io.File(s"$dir/docs/_v")
    def versionDirs: Set[String] =
      vDir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    Seq[(String, () => String)](
      "writeAtomic" -> (() => lake.writeAtomic(bad, "docs")),
      "replaceAtomic" -> (() => lake.replaceAtomic(bad, "docs"))
    ).foreach { case (name, overwrite) =>
      intercept[Exception](overwrite())
      withClue(s"$name: ") {
        lake.read("docs").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
        lake.listVersions("docs").toSet shouldBe committed
        versionDirs shouldBe committed // no uncommitted _v/<id> left behind
      }
    }
  }
}
