package newspipe.io

import newspipe.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental commit log ([[DeltaDoc]]): commits record O(increment)
  * metadata against their parent instead of re-serializing the full
  * inventory; readers fold the chain onto the nearest checkpoint. These
  * specs pin the three protocol claims: commit metadata cost is
  * O(increment) (not O(total files)), the folded path is result-identical
  * to the full-manifest path across every row op, and checkpoint cadence /
  * vacuum chain pinning keep history resolvable.
  */
class LakeDeltaLogSpec extends SparkTestBase {
  import spark.implicits._

  private def newBase(): String =
    Files.createTempDirectory("lake_deltalog").toString

  private def lakeAt(base: String, interval: Int = 20): Lake =
    new Lake(spark, LakeConfig(basePath = base,
      checkpointInterval = interval))

  /** Total bytes of METADATA documents (manifest head+shards, delta doc,
    * stats sidecar) inside one version dir.
    */
  private def metaBytes(base: String, layer: String, version: String): Long = {
    val d = new java.io.File(s"$base/$layer/_v/$version")
    d.listFiles().filter(f => f.getName.startsWith("_MANIFEST") ||
      f.getName == DeltaDoc.FileName ||
      f.getName == FileStats.SidecarName).map(_.length()).sum
  }

  private def hasDelta(base: String, layer: String, v: String): Boolean =
    new java.io.File(s"$base/$layer/_v/$v/${DeltaDoc.FileName}").exists()

  private def hasManifest(base: String, layer: String, v: String): Boolean =
    new java.io.File(s"$base/$layer/_v/$v/_MANIFEST.json").exists()

  test("append commits write O(appended-files) metadata, not O(total)") {
    val base = newBase()
    val lake = lakeAt(base, interval = 100) // no checkpoint inside the run
    lake.writeAtomic(spark.range(400).select(col("id"),
      (col("id") % 5).as("k")).repartition(8), "docs")
    // one-file appends onto a growing inventory: commit metadata must
    // stay FLAT as the inventory grows (the O(total) asymptote this
    // protocol removes wrote the whole list every time)
    val sizes = (1 to 12).map { i =>
      lake.appendAtomic(Seq((1000L + i, i.toLong)).toDF("id", "k")
        .repartition(1), "docs")
      val v = lake.listVersions("docs").head
      assert(hasDelta(base, "docs", v) && !hasManifest(base, "docs", v),
        s"append $i should be an incremental commit")
      metaBytes(base, "docs", v)
    }
    // flat: the 12th commit (inventory 8+12 files) costs no more than
    // 1.5x the 1st (inventory 8+1) — both are one-file deltas
    assert(sizes.last <= sizes.head * 3 / 2,
      s"commit metadata grew with inventory: $sizes")
    // every file readable, counts exact
    lake.read("docs").count() shouldBe 412L
    // and the head fold equals a freshly-forced checkpoint's inventory
    lake.checkpoint("docs")
    lake.read("docs").count() shouldBe 412L
  }

  test("folded path is result-identical to the full-manifest path " +
      "across row ops, diff, restore, time travel, vacuum") {
    val baseI = newBase(); val baseF = newBase()
    val inc = lakeAt(baseI, interval = 50)
    val full = lakeAt(baseF, interval = 1) // pre-round-13 behavior
    def run(lake: Lake): Unit = {
      lake.writeAtomic((1 to 200).map(i => (i.toLong, s"v$i", i % 7))
        .toDF("id", "v", "k").repartitionByRange(6, col("id")), "t")
      lake.appendAtomic((201 to 240).map(i => (i.toLong, s"v$i", i % 7))
        .toDF("id", "v", "k").repartitionByRange(2, col("id")), "t")
      lake.deleteWhere("t", col("id") <= 20)
      lake.updateWhere("t", col("id") === 100L, Map("v" -> lit("edited")))
      lake.mergeInto("t", Seq((500L, "merged", 1), (150L, "replaced", 2))
        .toDF("id", "v", "k"), Seq("id"))
      lake.setProperties("t", Map("lake.enableDeletionVectors" -> "true"))
      lake.deleteWhereDv("t", col("id") === 223L)
      lake.appendAtomic(Seq((600L, "tail", 3)).toDF("id", "v", "k")
        .repartition(1), "t")
    }
    run(inc); run(full)
    // the incremental lake really used deltas (head is one)
    assert(hasDelta(baseI, "t", inc.listVersions("t").head))
    assert(hasManifest(baseF, "t", full.listVersions("t").head))
    def state(lake: Lake): Seq[(Long, String, Int)] =
      lake.read("t").as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    state(inc) shouldBe state(full)
    // diff across the chain agrees
    def diffCounts(lake: Lake): (Long, Long) = {
      val vs = lake.listVersions("t")
      val (ins, del) = lake.diff("t", vs.last, vs.head)
      (ins.count(), del.count())
    }
    diffCounts(inc) shouldBe diffCounts(full)
    // time travel to a mid-chain version agrees
    def midCount(lake: Lake): Long = {
      val vs = lake.listVersions("t").reverse // oldest first
      lake.readVersion("t", vs(2)).count()
    }
    midCount(inc) shouldBe midCount(full)
    // metadata row count (sidecar fold) agrees with the scan
    inc.metadataRowCount("t") shouldBe Some(state(inc).size.toLong)
    // stats pruning through the fold: selective read keeps few files
    val pi = inc.pruneInfo("t", col("id") === 230L).get
    assert(pi.keptFiles < pi.totalFiles,
      s"fold should still prune: $pi")
    inc.readWhere("t", col("id") === 230L).as[(Long, String, Int)]
      .collect().toSeq shouldBe Seq((230L, "v230", 230 % 7))
    // restore to the first version, both paths
    def restored(lake: Lake): Long = {
      val vs = lake.listVersions("t")
      lake.restore("t", vs.last)
      lake.read("t").count()
    }
    restored(inc) shouldBe restored(full)
    // vacuum reclaims without breaking the (restored) head
    inc.vacuum("t", keep = 2, orphanGraceMs = 0L)
    full.vacuum("t", keep = 2, orphanGraceMs = 0L)
    inc.read("t").count() shouldBe full.read("t").count()
  }

  test("checkpoint cadence: the chain never exceeds the interval; a big " +
      "rewrite checkpoints naturally") {
    val base = newBase()
    val lake = lakeAt(base, interval = 4)
    lake.writeAtomic(spark.range(100).toDF("id").repartition(4), "docs")
    (1 to 6).foreach { i =>
      lake.appendAtomic(Seq(1000L + i).toDF("id").repartition(1), "docs")
    }
    val versions = lake.listVersions("docs").reverse // oldest first
    // v0 self-contained; v1..v4 deltas (chain 1..4); v5 checkpoint
    // (chain would be 5 > 4); v6 delta again
    hasDelta(base, "docs", versions(1)) shouldBe true
    hasDelta(base, "docs", versions(4)) shouldBe true
    hasManifest(base, "docs", versions(5)) shouldBe true
    hasDelta(base, "docs", versions(6)) shouldBe true
    lake.read("docs").count() shouldBe 106L
    // a compact rewrites everything — the delta would rival the full
    // list, so it checkpoints naturally regardless of chain position
    lake.compact("docs")
    val head = lake.listVersions("docs").head
    assert(!hasDelta(base, "docs", head))
    lake.read("docs").count() shouldBe 106L
  }

  test("metadata-only chains: vacuum pins the fold chain; checkpoint() " +
      "releases it") {
    val base = newBase()
    val lake = lakeAt(base, interval = 20)
    lake.writeAtomic(Seq((1L, 10), (2L, 20)).toDF("id", "n")
      .repartition(1), "docs")
    val v0 = lake.listVersions("docs").head
    // three METADATA-ONLY commits: empty version dirs whose only content
    // is the delta doc — the pure O(1)-commit case
    lake.widenColumn("docs", "n", org.apache.spark.sql.types.LongType)
    lake.addColumn("docs", "s", org.apache.spark.sql.types.StringType)
    lake.addColumn("docs", "t", org.apache.spark.sql.types.DoubleType)
    val chain = lake.listVersions("docs").reverse.drop(1) // v1..v3
    chain.foreach(v => hasDelta(base, "docs", v) shouldBe true)
    // vacuum keep=1 must PIN the whole fold chain (and v0: data + the
    // self-contained terminator) — reclaiming any of it would strand the
    // head's inventory resolution
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    lake.listVersions("docs").size shouldBe 4
    lake.read("docs").count() shouldBe 2L
    lake.read("docs").schema.fieldNames.toSeq shouldBe Seq("id", "n", "s", "t")
    // checkpoint materializes the head; the chain's EMPTY metadata dirs
    // are then reclaimable (v0 stays: the head still references its data)
    lake.checkpoint("docs")
    lake.vacuum("docs", keep = 1, orphanGraceMs = 0L)
    val left = lake.listVersions("docs")
    left.size shouldBe 2
    assert(left.contains(v0), "the data-holding terminator must survive")
    lake.read("docs").count() shouldBe 2L
    lake.read("docs").schema.fieldNames.toSeq shouldBe Seq("id", "n", "s", "t")
  }

  test("lake.checkpointInterval property overrides the config default") {
    val base = newBase()
    val lake = lakeAt(base, interval = 20)
    lake.writeAtomic(spark.range(50).toDF("id").repartition(2), "docs")
    lake.setProperties("docs", Map("lake.checkpointInterval" -> "1"))
    lake.appendAtomic(Seq(99L).toDF("id").repartition(1), "docs")
    val head = lake.listVersions("docs").head
    hasManifest(base, "docs", head) shouldBe true // property forced full
    hasDelta(base, "docs", head) shouldBe false
    lake.read("docs").count() shouldBe 51L
  }

  test("every commit producer lands its pinned version-dir layout") {
    val base = newBase()
    val lake = lakeAt(base)
    def head(layer: String): String = lake.listVersions(layer).head
    def body(layer: String, v: String, name: String): Option[String] = {
      val f = new java.io.File(s"$base/$layer/_v/$v/$name")
      if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }
    // top-level non-data files of the version dir (Hadoop's hidden .crc
    // checksums and hive partition dirs aside)
    def metaNames(layer: String, v: String): Seq[String] =
      new java.io.File(s"$base/$layer/_v/$v").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("part-") &&
          !f.getName.startsWith("."))
        .map(_.getName).sorted.toSeq
    // (producer, non-data names, _OP, _COMMITTED is the prior head,
    // _METRICS with the commit instant masked)
    val seen = Seq.newBuilder[(String, Seq[String], String, Boolean, String)]
    def record(producer: String, layer: String, v: String,
        parent: String): Unit =
      seen += ((producer, metaNames(layer, v),
        body(layer, v, "_OP").getOrElse("<none>"),
        body(layer, v, "_COMMITTED").contains(parent),
        body(layer, v, "_METRICS").getOrElse("<none>")
          .replaceAll("\"commitTimeMs\":\\d+", "\"commitTimeMs\":T")))
    def commit(producer: String, layer: String)(op: => Any): Unit = {
      val parent = lake.listVersions(layer).headOption.getOrElse("")
      op
      record(producer, layer, head(layer), parent)
    }
    def rows(ids: Long*) = ids.map(i => (i, s"s$i")).toDF("id", "s").coalesce(1)

    commit("WRITE flat", "t")(lake.writeAtomic(rows(1, 2, 3, 4), "t"))
    commit("WRITE hive", "hive")(lake.writeAtomic(
      rows(1, 2).withColumn("k", lit("a")), "hive", partitionBy = Seq("k")))
    lake.setProperties("tracked", Map("lake.rowTracking" -> "true"))
    commit("WRITE row-tracking", "tracked")(
      lake.writeAtomic(rows(1, 2), "tracked"))
    commit("APPEND", "t")(lake.appendAtomic(rows(5), "t"))
    val afterAppend = head("t")
    commit("DV DELETE", "t")(lake.deleteWhereDv("t", col("id") === 1L))
    commit("UPDATE", "t")(
      lake.updateWhere("t", col("id") === 2L, Map("s" -> lit("z"))))
    commit("OPTIMIZE", "t")(lake.compactSmall("t"))
    commit("RESTORE", "t")(lake.restore("t", afterAppend))
    lake.setProperties("t", Map("lake.columnMapping.mode" -> "name"))
    commit("RENAME", "t")(lake.renameColumn("t", "s", "s2"))
    commit("ANALYZE", "t")(lake.analyzeStats("t"))
    // no new version: checkpoint() and enableRowTracking re-foot the head
    val analyzed = head("t")
    val analyzedParent = body("t", analyzed, "_COMMITTED").get
    lake.checkpoint("t")
    head("t") shouldBe analyzed
    record("checkpoint()", "t", analyzed, analyzedParent)
    lake.enableRowTracking("t")
    head("t") shouldBe analyzed
    record("enableRowTracking", "t", analyzed, analyzedParent)
    lake.write(rows(1, 2), "conv")
    commit("CONVERT", "conv")(lake.convertToLake("conv"))
    commit("CLONE", "cl")(lake.clone("t", "cl"))

    val marker = Seq("_COMMITTED", "_METRICS", "_OP")
    def m(added: Int, removed: Int, rows: Int, params: String = ""): String =
      s"""{"numAddedFiles":$added,"numRemovedFiles":$removed,""" +
        s""""commitTimeMs":T,"numAddedRows":$rows$params}"""
    val expected = Seq[(String, Seq[String], String, Boolean, String)](
      ("WRITE flat", marker ++ Seq("_STATS.json", "_SUCCESS"), "WRITE",
        true, m(1, 0, 4)),
      ("WRITE hive", marker ++ Seq("_STATS.json", "_SUCCESS"), "WRITE",
        true, m(1, 0, 2)),
      ("WRITE row-tracking", (marker ++ Seq("_MANIFEST.json", "_STATS.json",
        "_SUCCESS")).sorted, "WRITE", true, m(1, 0, 2)),
      ("APPEND", (marker ++ Seq("_MANIFEST.json", "_STATS.json",
        "_SUCCESS")).sorted, "APPEND", true, m(1, 0, 1)),
      ("DV DELETE", (marker ++ Seq("_DELTA.json", "_DV-00000.json")).sorted,
        "DELETE", true, m(0, 0, 0)),
      ("UPDATE", (marker ++ Seq("_MANIFEST.json", "_STATS.json",
        "_SUCCESS")).sorted, "UPDATE", true, m(1, 1, 3,
        ""","params":{"columns":"s","predicate":"`=`(id, 2L)"}""")),
      ("OPTIMIZE", (marker ++ Seq("_MANIFEST.json", "_STATS.json",
        "_SUCCESS")).sorted, "OPTIMIZE", true, m(1, 2, 4)),
      ("RESTORE", (marker ++ Seq("_MANIFEST.json", "_STATS.json")).sorted,
        "RESTORE", true, m(2, 1, 0)),
      ("RENAME", (marker :+ "_DELTA.json").sorted, "RENAME COLUMN", true,
        m(0, 0, 0)),
      ("ANALYZE", (marker ++ Seq("_DELTA.json", "_STATS.json")).sorted,
        "ANALYZE", true, m(0, 0, 0)),
      ("checkpoint()", (marker ++ Seq("_DELTA.json", "_MANIFEST.json",
        "_STATS.json")).sorted, "ANALYZE", true, m(0, 0, 0)),
      ("enableRowTracking", (marker ++ Seq("_MANIFEST.json",
        "_STATS.json")).sorted, "ANALYZE", true, m(0, 0, 0)),
      // CONVERT and CLONE keep their own commit shape: no _METRICS
      ("CONVERT", Seq("_COMMITTED", "_MANIFEST.json", "_OP", "_STATS.json"),
        "CONVERT", true, "<none>"),
      ("CLONE", Seq("_COMMITTED", "_MANIFEST.json", "_OP", "_STATS.json"),
        "CLONE", true, "<none>"))
    val got = seen.result()
    withClue(got.mkString("observed layouts:\n", "\n", "\n")) {
      got shouldBe expected
    }
  }
}
