package newspipe.io

import newspipe.SparkTestBase
import newspipe.ops.{ZOrder, ZOrderKernel}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => sqlfn}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files

/** File-level data skipping: the `_STATS.json` sidecar written by the
  * snapshot protocol, the conservative predicate pruner, `readWhere`'s
  * exact-result contract, and Z-order clustering making multi-column
  * predicates prune.
  */
class LakeSkippingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpLake(): Lake = {
    val dir = Files.createTempDirectory("lake_skip").toString
    new Lake(spark, LakeConfig(basePath = dir))
  }

  /** 4 files with DISJOINT id ranges (range-partitioned before the write),
    * so range predicates have known prune outcomes.
    */
  private def rangedLayer(lake: Lake): Unit = {
    val df = spark.range(0, 400).select(
      col("id"),
      (col("id") % 7).cast("double").as("score"),
      concat(lit("doc_"), format_string("%03d", col("id"))).as("name"),
      when(col("id") % 10 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), (col("id") % 3))).as("src"))
    lake.writeAtomic(df.repartitionByRange(4, col("id")), "docs")
  }

  test("writeAtomic lands a stats sidecar; pruneInfo sees every file") {
    val lake = tmpLake()
    rangedLayer(lake)
    val info = lake.pruneInfo("docs", lit(true)).get
    info.totalFiles shouldBe 4
    info.keptFiles shouldBe 4 // lit(true) prunes nothing
    info.totalRows shouldBe 400
  }

  test("range predicates prune disjoint-range files and keep results exact") {
    val lake = tmpLake()
    rangedLayer(lake)
    val preds = Seq(
      col("id") < 50,
      col("id") >= 350,
      col("id") === 123,
      col("id").between(90, 110), // straddles a file boundary
      lit(250L) <= col("id"), // reversed operand form
      col("id").isin(3, 203, 399))
    for (p <- preds) {
      val info = lake.pruneInfo("docs", p).get
      assert(info.keptFiles < info.totalFiles,
        s"expected pruning for $p, got $info")
      lake.readWhere("docs", p).orderBy("id").collect() shouldBe
        lake.read("docs").filter(p).orderBy("id").collect()
    }
  }

  test("manifest reads plan through LakeFileIndex: one scan node, filters auto-prune files") {
    val lake = tmpLake()
    rangedLayer(lake)
    // manifest head spanning TWO version dirs: 1 rewritten + 3 carried
    lake.deleteWhere("docs", col("id") === 5L)
    val df = lake.read("docs")
    df.count() shouldBe 399
    // ONE FileSourceScan, no union seam, despite the cross-dir inventory
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans.length shouldBe 1
    df.queryExecution.executedPlan.toString should not include "Union"
    // AUTOMATIC skipping: a plain .filter (NOT readWhere) reaches the
    // index as dataFilters and scans only the can-match file
    val q = lake.read("docs").filter(col("id") >= 350)
    q.collect().length shouldBe 50 // execute THIS plan — its metrics below
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    scan.metrics("numFiles").value shouldBe 1
    // and SQL over the TVF-shaped read prunes the same way
    val all = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    all.map(_.metrics("numFiles").value).sum shouldBe 1
  }

  test("self-contained snapshots read through the index too: plain filters auto-prune") {
    val lake = tmpLake()
    rangedLayer(lake) // writeAtomic only — no row ops, no manifest
    val q = lake.read("docs").filter(col("id") < 50)
    q.collect().length shouldBe 50
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    scan.metrics("numFiles").value shouldBe 1 // of 4 range-disjoint files
  }

  test("indexed manifest read equals the union-based read, incl. schema evolution") {
    val lake = tmpLake()
    rangedLayer(lake)
    lake.deleteWhere("docs", col("id") < 10L)
    // schema-evolving merge: new column 'extra' — pre-evolution files must
    // read null through the indexed path exactly as through the union path
    lake.mergeInto("docs",
      spark.range(100, 110).select(col("id"),
        (col("id") % 7).cast("double").as("score"),
        concat(lit("doc_"), format_string("%03d", col("id"))).as("name"),
        lit("s9").as("src"), lit(1L).as("extra")),
      Seq("id"), allowSchemaEvolution = true)
    val indexed = lake.read("docs")
    indexed.schema.fieldNames should contain("extra")
    // parity with the mergeSchema (union-based) read path on shared columns
    val viaUnion = lake.read("docs", mergeSchema = true)
    indexed.select("id", "score", "name", "src")
      .orderBy("id").collect() shouldBe
      viaUnion.select("id", "score", "name", "src").orderBy("id").collect()
    // evolution semantics: exactly the merged rows carry 'extra'
    indexed.filter(col("extra").isNotNull).agg(count(lit(1)))
      .as[Long].head() shouldBe 10L
    indexed.count() shouldBe 390
  }

  test("prune-to-zero folds the scan to an empty relation (zero tasks)") {
    val lake = tmpLake()
    rangedLayer(lake)
    val p = col("id") > 100000
    lake.pruneInfo("docs", p).get.keptFiles shouldBe 0
    val df = lake.readWhere("docs", p)
    df.count() shouldBe 0
    // the always-false residual lets Catalyst fold to LocalTableScan
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      df.queryExecution.executedPlan.toString)
  }

  test("string equality, prefix, and null predicates prune soundly") {
    val lake = tmpLake()
    rangedLayer(lake)
    val preds = Seq(
      col("name") === "doc_042",
      col("name").startsWith("doc_39"),
      col("name") < "doc_100",
      col("src").isNull,
      col("src").isNotNull,
      col("src") =!= "s1",
      col("name") === "doc_042" || col("id") >= 390,
      col("name") > "doc_350" && col("id") < 10) // contradiction: prunes all
    for (p <- preds) {
      lake.readWhere("docs", p).orderBy("id").collect() shouldBe
        lake.read("docs").filter(p).orderBy("id").collect()
    }
    // name is formatted with the file's id range, so equality prunes
    lake.pruneInfo("docs", col("name") === "doc_042").get.keptFiles shouldBe 1
    lake.pruneInfo("docs",
      col("name") > "doc_350" && col("id") < 10).get.keptFiles shouldBe 0
  }

  test("unsupported shapes and unknown columns keep everything (conservative)") {
    val lake = tmpLake()
    rangedLayer(lake)
    val opaque = lake.pruneInfo("docs", sqlfn.length(col("name")) === 7).get
    opaque.keptFiles shouldBe opaque.totalFiles
    lake.readWhere("docs", sqlfn.length(col("name")) === 7).count() shouldBe
      lake.read("docs").filter(sqlfn.length(col("name")) === 7).count()
  }

  test("hive partition values prune via the path, incl. the null partition") {
    val lake = tmpLake()
    val df = Seq(
      (1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"), (4L, null, "d"))
      .toDF("id", "lang", "v")
    lake.writeAtomic(df, "parts", partitionBy = Seq("lang"))
    val info = lake.pruneInfo("parts", col("lang") === "en").get
    info.keptFiles should be < info.totalFiles
    lake.readWhere("parts", col("lang") === "en").select("id")
      .as[Long].collect().sorted shouldBe Array(1L, 2L)
    lake.readWhere("parts", col("lang").isNull).select("id")
      .as[Long].collect() shouldBe Array(4L)
    // partition column survives the explicit-file-list read
    lake.readWhere("parts", col("lang") === "de").columns should contain("lang")
  }

  test("readWhere on a flat (no-sidecar) layer falls back to read+filter") {
    val lake = tmpLake()
    lake.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), "flat")
    lake.pruneInfo("flat", col("id") === 1) shouldBe None
    lake.readWhere("flat", col("id") === 1).as[(Int, String)]
      .collect() shouldBe Array((1, "a"))
  }

  test("Morton interleave and rank buckets: kernel unit pins") {
    // bit j of column c -> position j*k + c
    ZOrderKernel.interleave(Array(1, 0), 8) shouldBe 1L
    ZOrderKernel.interleave(Array(0, 1), 8) shouldBe 2L
    ZOrderKernel.interleave(Array(3, 0), 8) shouldBe 5L // bits 0 and 2
    ZOrderKernel.interleave(Array(255, 255), 8) shouldBe 65535L
    val b = Array(10.0, 20.0, 30.0)
    ZOrderKernel.bucketD(b, 5.0) shouldBe 0
    ZOrderKernel.bucketD(b, 10.0) shouldBe 1 // boundary goes to the right
    ZOrderKernel.bucketD(b, 25.0) shouldBe 2
    ZOrderKernel.bucketD(b, 99.0) shouldBe 3
    val s = Array("b", "d").map(UTF8String.fromString)
    ZOrderKernel.bucketS(s, UTF8String.fromString("a")) shouldBe 0
    ZOrderKernel.bucketS(s, UTF8String.fromString("c")) shouldBe 1
    ZOrderKernel.bucketS(s, UTF8String.fromString("z")) shouldBe 2
  }

  test("zvalue codegen agrees with the kernel (grid spot-check)") {
    val df = (0 until 16).flatMap(x => (0 until 16).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val bounds = ZOrder.boundariesFor(df, Seq("x", "y"), bits = 4,
      sampleSize = 1000)
    val got = df.withColumn("z", ZOrder.zvalue(df, Seq("x", "y"), bounds,
      bits = 4)).collect()
    got.foreach { r =>
      val bx = ZOrderKernel.bucketD(bounds(0).num, r.getLong(0).toDouble)
      val by = ZOrderKernel.bucketD(bounds(1).num, r.getLong(1).toDouble)
      r.getLong(2) shouldBe ZOrderKernel.interleave(Array(bx, by), 4)
    }
  }

  test("boundariesFor refuses a sampleSize past the topK fallback threshold") {
    // above spark.sql.execution.topKSortFallbackThreshold the orderBy+limit
    // sample silently degrades from per-task top-k to a FULL global sort of
    // the layer — the exact cost the one-pass sample exists to avoid
    val df = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("x", "y")
    val ex = intercept[IllegalArgumentException] {
      ZOrder.boundariesFor(df, Seq("x"), sampleSize = 1000000)
    }
    ex.getMessage should include("topKSortFallbackThreshold")
    // the default 8192 stays under the default 10000 threshold
    noException should be thrownBy ZOrder.boundariesFor(df, Seq("x"))
  }

  test("zorder compact: BOTH dimensions prune; a linear sort prunes only one") {
    val lake = tmpLake()
    // 100x100 grid, shuffled: no natural clustering in either column
    val grid = (0 until 100).flatMap(x => (0 until 100).map(y =>
      (x.toLong, y.toLong, s"p_${x}_$y")))
    val df = scala.util.Random.shuffle(grid).toDF("x", "y", "payload")
      .repartition(8)
    lake.writeAtomic(df, "zlayer")
    lake.compact("zlayer", targetFileBytes = 2 * 1024,
      zorderBy = Seq("x", "y"))
    val total = lake.pruneInfo("zlayer", lit(true)).get.totalFiles
    assert(total >= 20, s"need a fine-grained layout to measure pruning, got $total")
    // rows survive the rewrite
    lake.read("zlayer").count() shouldBe 10000
    val px = col("x").between(10, 19) // 10% selectivity on x
    val py = col("y").between(40, 49) // 10% on y
    val kx = lake.pruneInfo("zlayer", px).get.keptFiles
    val ky = lake.pruneInfo("zlayer", py).get.keptFiles
    // a z-interval file is a rough hyper-rectangle: a 10% slab on EITHER
    // dimension should drop a clear majority of files (a sorted layout
    // prunes one dimension only — contrast below)
    assert(kx < total * 6 / 10, s"x-range kept $kx of $total")
    assert(ky < total * 6 / 10, s"y-range kept $ky of $total")
    // conjunctions compound: the 1% cell keeps no more than either slab
    val kxy = lake.pruneInfo("zlayer", px && py).get.keptFiles
    assert(kxy <= math.min(kx, ky), s"joint kept $kxy vs ($kx, $ky)")
    // exactness under pruning
    lake.readWhere("zlayer", px && py).agg(count(lit(1)), sum("x"), sum("y"))
      .collect() shouldBe
      lake.read("zlayer").filter(px && py).agg(count(lit(1)), sum("x"), sum("y"))
        .collect()

    // contrast: linear sort on x clusters x but leaves y unprunable
    val lake2 = tmpLake()
    lake2.writeAtomic(df, "linear")
    lake2.compact("linear", targetFileBytes = 8 * 1024, zorderBy = Seq("x"))
    val total2 = lake2.pruneInfo("linear", lit(true)).get.totalFiles
    val ky2 = lake2.pruneInfo("linear", py).get.keptFiles
    assert(ky2 >= total2 - 1, // y stats span everything in a sorted-by-x layout
      s"linear layout unexpectedly pruned y: kept $ky2 of $total2")
  }

  test("zorder within hive partitions composes with partition pruning") {
    val lake = tmpLake()
    val df = (0 until 1000).map(i =>
      (i.toLong, i % 2 match { case 0 => "en"; case _ => "de" },
        (i % 97).toLong, s"t$i")).toDF("id", "lang", "score", "t")
    lake.writeAtomic(df.repartition(4), "pz")
    lake.compact("pz", targetFileBytes = 8 * 1024,
      partitionBy = Seq("lang"), zorderBy = Seq("score"))
    val p = col("lang") === "en" && col("score") < 10
    val info = lake.pruneInfo("pz", p).get
    assert(info.keptFiles < info.totalFiles, info.toString)
    lake.readWhere("pz", p).agg(sum("id")).collect() shouldBe
      lake.read("pz").filter(p).agg(sum("id")).collect()
  }

  test("sink-landed streaming batches carry commit stats; readWhere prunes them") {
    val lake = tmpLake()
    // 5 micro-batches with disjoint id ranges through the stream sink's
    // landing path: a creating commit, then one fenced append per batch
    (0 until 5).foreach { b =>
      val df = spark.range(b * 100, (b + 1) * 100).toDF("id")
        .withColumn("v", concat(lit("r"), col("id")))
      newspipe.io.source.LakeStreamSink.landBatch(lake, "stream", Nil,
        Some("app"), b.toLong, df)
    }
    val p = col("id") < 150 // batches 0 and 1 only
    val info = lake.pruneInfo("stream", p).get
    info.keptFiles should be < info.totalFiles
    info.totalRows shouldBe 500
    lake.readWhere("stream", p).agg(count(lit(1)), sum("id")).collect() shouldBe
      lake.read("stream").filter(p).agg(count(lit(1)), sum("id")).collect()
  }

  test("sidecar JSON round-trips") {
    val stats = Seq(FileStats.FileStat("a/b.parquet", 42,
      Map("x" -> FileStats.ColStats("long", Some("1"), Some("9"), Some(0)),
        "s" -> FileStats.ColStats("string", Some("aa"), None, None)),
      Map("lang" -> "en")))
    FileStats.fromJson(FileStats.toJson(stats)) shouldBe stats
  }
}
