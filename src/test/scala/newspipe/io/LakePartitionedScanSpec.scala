package newspipe.io

import newspipe.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Hive-partitioned layers read through [[LakeFileIndex]]: one scan over
  * every version dir of a manifest inventory, exact partition pruning in
  * `listFiles`, escaped and null partition values, discovery's partition
  * typing, deletion vectors inside partition dirs, and byte-stable commit
  * metadata. Every read is compared with the layer's `mergeSchema = true`
  * read (Spark's own file discovery, independent of the index) and with
  * the rows the test knows it wrote.
  */
class LakePartitionedScanSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpLake(): Lake = new Lake(spark,
    LakeConfig(basePath = Files.createTempDirectory("lake_hive_scan").toString))

  /** Partition values that need escaping on disk, plus a null. */
  private val groups = Seq("a", "g 1", "g=2", "g%3", null)

  private def frame(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, i * 10, groups(i % groups.size)))
      .toDF("id", "x", "g").coalesce(1)

  private val deleted = Set(2L, 3L, 4L, 11L, 26L)

  /** The rows the layer holds after [[build]], as (id, x, g). */
  private val model: Seq[(Long, Int, String)] =
    (0 until 40).filterNot(i => deleted(i.toLong)).map { i =>
      (i.toLong, if (i == 7) -7 else i * 10, groups(i % groups.size))
    }

  /** A hive layer over 5 version dirs: write, two appends, an update and
    * a DV delete that touches escaped and null partitions. Returns the
    * versions before and after the DV delete.
    */
  private def build(lake: Lake): (String, String) = {
    lake.writeAtomic(frame(0 until 20), "h", partitionBy = Seq("g"))
    lake.appendAtomic(frame(20 until 30), "h")
    lake.appendAtomic(frame(30 until 40), "h")
    lake.updateWhere("h", col("id") === 7L, Map("x" -> lit(-7)))
    val before = lake.headVersion("h").get
    lake.deleteWhereDv("h", col("id").isin(deleted.toSeq: _*))
    (before, lake.headVersion("h").get)
  }

  /** Rows of `df` (columns id, x, g); runs `df`'s own plan, so its scan
    * metrics are readable afterwards. */
  private def rowsOf(df: DataFrame): Seq[String] = {
    df.columns.toSeq shouldBe Seq("id", "x", "g")
    df.collect().map(_.toString).toSeq.sorted
  }

  private def modelRows(keep: ((Long, Int, String)) => Boolean): Seq[String] =
    model.filter(keep).map { case (i, x, g) => s"[$i,$x,$g]" }.sorted

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  /** The DV anti-join adds an exchange; without AQE the executed plan is
    * plain and its scan node directly reachable. */
  private def withoutAqe[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  /** The files `df`'s one scan reads: its index listed with the scan's
    * own partition and data filters, as FileSourceScanExec lists it. */
  private def filesScanned(df: DataFrame): Long = {
    val s = scans(df).head
    s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
      .map(_.files.size.toLong).sum
  }

  /** Files of the head inventory in partition `g = v`. */
  private def filesIn(lake: Lake, v: String): Int = {
    val dir = "/g=" + (if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(v)) + "/"
    lake.read("h").inputFiles.count(_.contains(dir))
  }

  test("a hive layer across version dirs reads as ONE scan, no union") {
    val lake = tmpLake()
    build(lake)
    val df = lake.read("h")
    // the inventory really spans several version dirs
    df.inputFiles.map(_.split("/_v/")(1).takeWhile(_ != '/')).distinct
      .length should be >= 3
    rowsOf(df) shouldBe modelRows(_ => true)
    withoutAqe {
      val plan = lake.read("h").queryExecution.executedPlan
      plan.collect { case s: FileSourceScanExec => s }.length shouldBe 1
      plan.toString should not include "Union"
    }
    // same schema (names, types, nullability, order) and rows as the
    // mergeSchema read; the partition column comes last, as in discovery
    val reference = lake.read("h", mergeSchema = true)
    val referencePlan = reference.queryExecution.executedPlan.toString
    referencePlan should include("InMemoryFileIndex")
    referencePlan should not include "LakeFileIndex"
    df.schema shouldBe reference.schema
    df.schema.fieldNames.toSeq shouldBe Seq("id", "x", "g")
    rowsOf(df) shouldBe rowsOf(reference)
  }

  test("partition filters scan only the matching partitions, exactly") {
    withoutAqe(partitionFilterChecks())
  }

  private def partitionFilterChecks(): Unit = {
    val lake = tmpLake()
    build(lake)
    for (v <- groups.filter(_ != null)) {
      val q = lake.read("h").filter(col("g") === v)
      rowsOf(q) shouldBe modelRows(_._3 == v)
      rowsOf(q) shouldBe rowsOf(lake.read("h", mergeSchema = true)
        .filter(col("g") === v))
      filesScanned(q) shouldBe filesIn(lake, v)
    }
    val nulls = lake.read("h").filter(col("g").isNull)
    rowsOf(nulls) shouldBe modelRows(_._3 == null)
    filesScanned(nulls) shouldBe filesIn(lake, null)
    // a filter mixing partition and data columns: the partition prunes
    // whole dirs, stats prune the partition's files whose x cannot match
    val mixed = lake.read("h").filter(col("g") === "a" && col("x") > 160)
    rowsOf(mixed) shouldBe modelRows(r => r._3 == "a" && r._2 > 160)
    rowsOf(mixed) shouldBe rowsOf(lake.read("h", mergeSchema = true)
      .filter(col("g") === "a" && col("x") > 160))
    val matching = lake.read("h").filter(col("g") === "a")
      .groupBy(col("_metadata.file_path")).agg(max("x").as("mx"))
      .filter(col("mx") > 160).count()
    matching should be < filesIn(lake, "a").toLong
    filesScanned(mixed) shouldBe matching
    // readWhere is the same filtered read
    rowsOf(lake.readWhere("h", col("g") === "g=2")) shouldBe
      modelRows(_._3 == "g=2")
  }

  test("escaped and null partition values round-trip through the index") {
    val lake = tmpLake()
    build(lake)
    lake.read("h").select("g").distinct().collect().map(_.getString(0))
      .toSet shouldBe groups.toSet
    // the escaped dirs really are escaped on disk
    lake.read("h").inputFiles.exists(_.contains("/g=g%3D2/")) shouldBe true
    lake.read("h").inputFiles.exists(_.contains("/g=g%253/")) shouldBe true
    // the DV delete hit rows inside the escaped and null partitions
    lake.read("h").filter(col("id").isin(deleted.toSeq: _*)).count() shouldBe 0
  }

  test("a value like 01 types as discovery types it, self-contained and manifest") {
    val lake = tmpLake()
    val df = Seq((1L, "01"), (2L, "02"), (3L, "10")).toDF("id", "p")
    lake.writeAtomic(df, "t", partitionBy = Seq("p"))
    val selfContained = lake.read("t")
    val discovery = lake.read("t", mergeSchema = true)
    selfContained.schema shouldBe discovery.schema
    selfContained.collect().map(_.toString).sorted shouldBe
      discovery.collect().map(_.toString).sorted
    // a fresh instance infers from the footer, not its commit memory
    val fresh = new Lake(spark, LakeConfig(basePath = lake.basePathOf))
    fresh.read("t").schema shouldBe discovery.schema
    // a row op turns the head into a manifest: the recorded type holds
    lake.deleteWhere("t", col("id") === 3L)
    val manifest = lake.read("t")
    manifest.schema shouldBe discovery.schema
    manifest.collect().map(_.toString).sorted shouldBe
      discovery.filter(col("id") =!= 3L).collect().map(_.toString).sorted
    manifest.schema shouldBe lake.read("t", mergeSchema = true).schema
  }

  test("diff and changeFeed over a DV delete in partition dirs") {
    val lake = tmpLake()
    val (before, after) = build(lake)
    val (added, removed) = lake.diff("h", before, after)
    added.count() shouldBe 0
    rowsOf(removed) shouldBe
      rowsOf(lake.readVersion("h", before).filter(col("id").isin(deleted.toSeq: _*)))
    removed.select("id").as[Long].collect().toSet shouldBe deleted
    val feed = lake.changeFeed("h", before, after)
    feed.filter(col("_change_type") === "delete").select("id").as[Long]
      .collect().toSet shouldBe deleted
    feed.filter(col("_change_type") =!= "delete").count() shouldBe 0
  }

  test("commit metadata does not depend on directory order") {
    // the same two-file frames into two fresh lakes, through an append
    // and a MERGE: with version ids, part-file uuids and times masked, the
    // metadata files are byte-equal
    def run(): Map[String, String] = {
      val lake = tmpLake()
      val base = spark.range(0, 40).select(col("id"), (col("id") * 2).as("v"))
      lake.writeAtomic(base.repartition(2, col("id")), "m")
      lake.appendAtomic(spark.range(40, 80)
        .select(col("id"), (col("id") * 2).as("v")).repartition(2, col("id")), "m")
      lake.mergeInto("m", spark.range(0, 80, 10)
        .select(col("id"), lit(-1L).as("v")).repartition(2, col("id")),
        Seq("id"))
      val root = java.nio.file.Paths.get(lake.basePathOf, "m", "_v")
      val versions = Files.list(root).toArray.map(_.toString)
        .map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .filter(_.head.isDigit).sorted
      val rename = versions.zipWithIndex.map { case (v, i) => v -> s"V$i" }
      def mask(s: String): String =
        rename.foldLeft(s) { case (acc, (v, n)) => acc.replace(v, n) }
          .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
          .replaceAll("[0-9]{10,}", "T")
      versions.flatMap { v =>
        Files.list(root.resolve(v)).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => Files.isRegularFile(p))
          .filter(_.getFileName.toString.matches("_(MANIFEST|DELTA|STATS)\\.json"))
          .map(p => mask(s"$v/${p.getFileName}") ->
            mask(new String(Files.readAllBytes(p), "UTF-8")))
      }.toMap
    }
    val first = run()
    first.keys.exists(_.endsWith("_STATS.json")) shouldBe true
    first.keys.exists(k => k.endsWith("_MANIFEST.json") ||
      k.endsWith("_DELTA.json")) shouldBe true
    run() shouldBe first
  }
}
