package newspipe.io

import java.nio.file.Files

import newspipe.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a `Lake` answers from its own commits without a Spark job: the
  * min/max accessor over the stats sidecar, the read schema of snapshots
  * this instance committed, and the bounded caches behind both.
  */
class LakeMetadataSpec extends SparkTestBase {
  import spark.implicits._

  private def freshLake(collectStats: Boolean = true): (String, Lake) = {
    val dir = Files.createTempDirectory("lakemeta").toString
    (dir, new Lake(spark, LakeConfig(basePath = dir, collectStats = collectStats)))
  }

  /** Mixed types over three files: integral, date, string. */
  private def typed(from: Int, to: Int): DataFrame =
    (from to to).map { i =>
      (i, i.toLong * 7 - 1000,
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i % 40L)),
        i % 5, s"s$i")
    }.toDF("n", "big", "d", "bucket", "s").repartition(3)

  private def scanned(lake: Lake, layer: String, c: String): Option[(String, String)] = {
    val row = lake.read(layer).agg(min(c), max(c)).head()
    if (row.isNullAt(0)) None else Some((row.get(0).toString, row.get(1).toString))
  }

  private def fromStats(lake: Lake, layer: String, c: String): Option[Option[(String, String)]] =
    lake.metadataMinMax(layer, c).map(_.map { case (lo, hi) => (lo.toString, hi.toString) })

  test("metadataMinMax gives agg(min, max)'s span without a job") {
    val (_, lake) = freshLake()
    lake.writeAtomic(typed(1, 300), "t")
    Seq("n", "big", "d", "bucket").foreach { c =>
      fromStats(lake, "t", c) shouldBe Some(scanned(lake, "t", c))
    }
    lake.metadataMinMax("t", "d") shouldBe Some(Some((
      java.time.LocalDate.of(2026, 1, 1), java.time.LocalDate.of(2026, 2, 9))))
    jobsDuring(lake.metadataMinMax("t", "d")) shouldBe 0
    // an incremental (manifest) snapshot folds its chain's stats
    lake.appendAtomic(typed(301, 320), "t")
    Seq("n", "big", "d").foreach { c =>
      fromStats(lake, "t", c) shouldBe Some(scanned(lake, "t", c))
    }
    lake.metadataMinMax("t", "n") shouldBe Some(Some((1L, 320L)))
  }

  test("metadataMinMax answers None when metadata cannot say, and " +
      "nothing for an all-null column") {
    val (_, lake) = freshLake()
    lake.writeAtomic(typed(1, 300), "t")
    lake.metadataMinMax("t", "s") shouldBe None // string bounds may be truncated
    lake.metadataMinMax("t", "missing") shouldBe None
    // a deleted row may hold the bound: DVs force the scan
    lake.deleteWhereDv("t", col("n") === 300)
    lake.metadataMinMax("t", "n") shouldBe None
    scanned(lake, "t", "n") shouldBe Some(("1", "299"))
    // a snapshot without stats
    val (_, bare) = freshLake(collectStats = false)
    bare.writeAtomic(typed(1, 30), "t")
    bare.metadataMinMax("t", "n") shouldBe None
    // a partition column lives in directory names, not stats
    lake.writeAtomic(typed(1, 30), "p", partitionBy = Seq("bucket"))
    lake.metadataMinMax("p", "bucket") shouldBe None
    fromStats(lake, "p", "n") shouldBe Some(scanned(lake, "p", "n"))
    // all-null: known empty, where the aggregate returns nulls
    lake.writeAtomic(Seq[(Int, Option[Int])]((1, None), (2, None)).toDF("n", "x")
      .repartition(2), "nulls")
    lake.metadataMinMax("nulls", "x") shouldBe Some(None)
    scanned(lake, "nulls", "x") shouldBe None
  }

  /** Every shape `writeAtomic` commits, each with nested and
    * non-nullable columns.
    */
  private val shapes: Seq[(String, Lake => Unit)] = {
    def base: DataFrame = (1 to 40).map(i => (i, s"t$i", i % 3, i * 0.5))
      .toDF("n", "text", "p", "x")
      .withColumn("arr", array(col("x"), lit(1.0)))
      .withColumn("st", struct(col("n").as("a"), lit("b").as("b")))
      .withColumn("when", to_date(lit("2026-02-01")))
      .withColumn("amount", col("x").cast("decimal(12,2)"))
      .repartition(2)
    Seq(
      "flat" -> (l => l.writeAtomic(base, "flat")),
      "hive" -> (l => l.writeAtomic(base, "hive", partitionBy = Seq("p"))),
      "emptyHive" -> (l =>
        l.writeAtomic(base.limit(0), "emptyHive", partitionBy = Seq("p"))),
      "identity" -> { l =>
        l.addIdentityColumn("identity", "id")
        l.writeAtomic(base.drop("p"), "identity")
      },
      "tracking" -> { l =>
        l.writeAtomic(base, "tracking")
        l.enableRowTracking("tracking")
        l.writeAtomic(base, "tracking")
      })
  }

  test("the schema a Lake remembers for its own commits equals the " +
      "footer-inferred one, for every writeAtomic shape") {
    val (dir, lake) = freshLake()
    shapes.foreach { case (layer, write) =>
      write(lake)
      val fresh = new Lake(spark, LakeConfig(basePath = dir))
      withClue(layer) {
        lake.read(layer).schema shouldBe fresh.read(layer).schema
        lake.layerSchema(layer) shouldBe fresh.layerSchema(layer)
        lake.read(layer).collect().map(_.toString).sorted shouldBe
          fresh.read(layer).collect().map(_.toString).sorted
      }
    }
  }

  test("reading a snapshot this Lake just committed launches no job") {
    val (dir, lake) = freshLake()
    shapes.foreach { case (_, write) => write(lake) }
    shapes.foreach { case (layer, _) =>
      withClue(layer) {
        jobsDuring { lake.read(layer); lake.layerSchema(layer) } shouldBe 0
      }
    }
    // what the remembered schema saves: a fresh instance infers it
    jobsDuring(new Lake(spark, LakeConfig(basePath = dir)).read("hive")) should be > 0
  }

  test("metadata caches stay bounded over many commits and answer the same") {
    val (dir, lake) = freshLake()
    def probe(): Unit = {
      lake.read("t")
      lake.metadataRowCount("t")
      lake.pruneInfo("t", col("j") === 3)
    }
    // 72 commits: a fresh snapshot, then a DV delete on it
    (1 to 36).foreach { i =>
      lake.writeAtomic((1 to 20).map(j => (i, j)).toDF("v", "j").repartition(2), "t")
      probe()
      lake.deleteWhereDv("t", col("j") === i % 20 + 1)
      probe()
    }
    lake.caches.foreach { case (name, c) =>
      withClue(name)(c.size should be <= c.maxEntries)
    }
    // the per-snapshot caches saw more snapshots than they hold
    Seq("sidecar", "committedSchema").foreach { name =>
      withClue(name)(lake.caches(name).size shouldBe lake.caches(name).maxEntries)
    }
    val fresh = new Lake(spark, LakeConfig(basePath = dir))
    lake.metadataRowCount("t") shouldBe fresh.metadataRowCount("t")
    lake.metadataRowCount("t") shouldBe Some(19L)
    lake.readWhere("t", col("j") === 3).collect().toSeq shouldBe
      fresh.readWhere("t", col("j") === 3).collect().toSeq
    lake.read("t").collect().map(_.toString).sorted shouldBe
      fresh.read("t").collect().map(_.toString).sorted
  }
}
