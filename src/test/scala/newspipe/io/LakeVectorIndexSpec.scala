package newspipe.io

import java.nio.file.Files

import newspipe.SparkTestBase
import newspipe.ops.Similarity
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted vector index ([[Lake.createVectorIndex]] /
  * [[Lake.vectorSearch]] / [[VectorIndex]]): build-once per-file HNSW
  * shards, O(increment) maintenance on append and OPTIMIZE, exact-scan
  * fallback for uncovered or DV-bearing files, VACUUM pruning of orphan
  * artifacts, and the SQL surface (CREATE/DROP VECTOR INDEX +
  * lake_vector_search).
  */
class LakeVectorIndexSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic corpus: hash-derived 16-dim vectors, ids 0..n-1. */
  private def vectors(ids: Range): DataFrame = {
    def h(i: Long, j: Long): Double = {
      var z = i * 1000003L + j + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & 0xffffffL).toDouble / 0xffffffL.toDouble - 0.5
    }
    ids.map(i => (i.toLong, (0 until 16).map(j => h(i, j)).toArray))
      .toDF("vec_id", "vec")
  }

  private def newLake(): (String, Lake) = {
    val base = Files.createTempDirectory("lake_vidx").toString
    (base, new Lake(spark, LakeConfig(basePath = base)))
  }

  private def shardCount(base: String, layer: String, name: String): Int = {
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    VectorIndex.existingShards(f, s"$base/$layer", name).size
  }

  private def fileCount(lake: Lake, layer: String): Int =
    lake.describeDetail(layer).numFiles.toInt

  test("create + search: one artifact per data file, results match brute " +
      "force, deterministic, corpus not rescanned by search") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 400)
      .repartitionByRange(5, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    val built = lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    built shouldBe 5
    shardCount(base, "emb", "idx") shouldBe fileCount(lake, "emb")
    val queries = vectors(0 until 8)
    val exact = Similarity.bruteForceTopK(queries, lake.read("emb"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = lake.vectorSearch("emb", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = run()
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"index recall@5 = $recall")
    run() shouldBe approx // deterministic
    // idempotent maintenance: nothing new to build
    lake.maintainVectorIndexes("emb") shouldBe 0
  }

  test("append-then-search: appendAtomic maintains the index (new shard " +
      "graphs only) and the new vectors are searchable WITHOUT a rebuild") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(4, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 4
    // planted twins of queries 0..3, appended AFTER the index was built
    val queries = vectors(0 until 4)
    lake.appendAtomic(queries.select(($"vec_id" + 100000L).as("vec_id"),
      $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    // the append's post-commit hook built EXACTLY the increment's shard
    shardCount(base, "emb", "idx") shouldBe 5
    lake.maintainVectorIndexes("emb") shouldBe 0 // nothing left to do
    val top = lake.vectorSearch("emb", queries, k = 3)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach { i => top(i) shouldBe (i + 100000L) }
  }

  test("shallow clone: index metas ride the clone, shard artifacts are " +
      "BORROWED by content address — searchable with zero local bytes; " +
      "post-clone appends build local shards only") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(4, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 4
    lake.clone("emb", "fork")
    // the declaration rode; not one artifact byte copied
    lake.vectorIndexes("fork").map(_.name) shouldBe Seq("idx")
    shardCount(base, "fork", "idx") shouldBe 0
    // maintenance sees every shared file already covered by the source
    lake.maintainVectorIndexes("fork") shouldBe 0
    val (_, covered, routed, total) = lake.vectorIndexStatus("fork").head
    covered shouldBe total
    routed shouldBe total // the source's routing entries borrow too
    // the fork answers from the SOURCE's artifacts
    val queries = vectors(0 until 6)
    val exact = Similarity.bruteForceTopK(queries, lake.read("fork"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = lake.vectorSearch("fork", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((exact & approx).size.toDouble / exact.size >= 0.9)
    // post-clone append: the fork builds a LOCAL shard for its new file
    // only; the source's artifact set is untouched
    lake.appendAtomic(queries.limit(4)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")).coalesce(1), "fork")
    shardCount(base, "fork", "idx") shouldBe 1
    shardCount(base, "emb", "idx") shouldBe 4
    val top = lake.vectorSearch("fork", vectors(0 until 4), k = 3)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach { i => top(i) shouldBe (i + 100000L) }
    // the source never sees the fork's rows
    lake.vectorSearch("emb", vectors(0 until 4), k = 3)
      .filter($"neighbor_id" >= 100000L).count() shouldBe 0L
    // source drops its index: the fork's shared files degrade to exact
    // scans — cost, never correctness (its own file stays covered)
    lake.dropVectorIndex("emb", "idx")
    val degraded = lake.vectorSearch("fork", vectors(0 until 4), k = 3)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach { i => degraded(i) shouldBe (i + 100000L) }
  }

  test("borrow validation: a source that drops and RECREATES a same-named " +
      "index with different parameters is refused — the clone degrades " +
      "to exact scans instead of crashing on a kind mismatch") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(4, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 4
    lake.clone("emb", "fork")
    val queries = vectors(0 until 6)
    val expect = lake.vectorSearch("fork", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the source swaps the index kind under the SAME name: its .ann
    // bytes are now IVF cells, which the fork's hnsw meta must refuse —
    // without validation the deserializer would crash on a bad magic
    lake.dropVectorIndex("emb", "idx")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id", kind = "ivf",
      nlist = 8, nprobe = 8)
    val (_, covered, _, _) = lake.vectorIndexStatus("fork").head
    covered shouldBe 0 // nothing borrowable any more
    val degraded = lake.vectorSearch("fork", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the exact fallback can only agree at least as well with brute force
    val exact = Similarity.bruteForceTopK(queries, lake.read("fork"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    degraded shouldBe exact
    assert((expect & degraded).size.toDouble / expect.size >= 0.9)
    // fork maintenance now builds LOCAL shards (no borrowable source)
    lake.maintainVectorIndexes("fork") shouldBe 4
    lake.vectorSearch("fork", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet shouldBe expect // local rebuild = original bytes
  }

  test("cross-base clone borrows index artifacts through base: refs") {
    val (srcBase, srcLake) = newLake()
    srcLake.writeAtomic(vectors(0 until 200)
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    srcLake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 3
    val (dstBase, dstLake) = newLake()
    dstLake.cloneFrom(srcBase, "emb", "fork")
    dstLake.vectorIndexes("fork").map(_.name) shouldBe Seq("idx")
    shardCount(dstBase, "fork", "idx") shouldBe 0
    dstLake.maintainVectorIndexes("fork") shouldBe 0
    val queries = vectors(0 until 5)
    val exact = Similarity.bruteForceTopK(queries, dstLake.read("fork"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = dstLake.vectorSearch("fork", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((exact & approx).size.toDouble / exact.size >= 0.9)
  }

  test("vectorNearDups: incremental cosine-threshold pairs through the " +
      "persisted artifacts match exact ground truth — multi-partner " +
      "pairs prove it scans (not top-k), DV-deleted vectors drop, both " +
      "kinds agree") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(4, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    lake.createVectorIndex("emb", "ivx", "vec", "vec_id", kind = "ivf",
      nlist = 8, nprobe = 2)
    val v1 = lake.listVersions("emb").head
    // the landing: exact copies of 0..5 (+100000) and THREE copies of
    // doc 7 — doc 7 then has more qualifying partners than a small
    // top-k would surface from one shard
    val planted = vectors(0 until 6)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec"))
      .union(vectors(7 until 8).select(($"vec_id" + 200000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")))
      .union(vectors(7 until 8).select(($"vec_id" + 200001L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")))
      .union(vectors(7 until 8).select(($"vec_id" + 200002L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")))
    lake.appendAtomic(planted.coalesce(1), "emb")
    lake.maintainVectorIndexes("emb") shouldBe 0
    // exact ground truth, driver-side over the union (309 vectors)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val all: Array[(Long, Array[Double])] =
      lake.read("emb").select($"vec_id", $"vec")
        .as[(Long, Seq[Double])].collect()
        .map(r => (r._1, unit(r._2.toArray)))
    val newIds = all.map(_._1).filter(_ >= 100000L).toSet
    def truthAt(t: Double): Set[(Long, Long)] = {
      val out = scala.collection.mutable.Set.empty[(Long, Long)]
      for (a <- all; b <- all) {
        if (a._1 < b._1 && (newIds(a._1) || newIds(b._1))) {
          var s = 0.0
          var j = 0
          val n = math.min(a._2.length, b._2.length)
          while (j < n) { s += a._2(j) * b._2(j); j += 1 }
          if (s >= t) out += ((a._1, b._1))
        }
      }
      out.toSet
    }
    val expect = truthAt(0.95)
    // copies give cos 1.0 pairs; doc 7's clique alone is 6 pairs
    assert(expect.size >= 9)
    def got(idx: String): Set[(Long, Long)] =
      lake.vectorNearDups("emb", v1, threshold = 0.95,
          indexName = Some(idx))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got("idx") shouldBe expect
    got("ivx") shouldBe expect // exact by construction for BOTH kinds
    // pq artifacts are lossy codes: its dedup leg reads the vectors
    // exactly instead — same answers, different bytes touched
    lake.createVectorIndex("emb", "pqd", "vec", "vec_id", kind = "pq",
      pqK = 16)
    got("pqd") shouldBe expect
    // TVF route ≡ API route
    newspipe.NewspipeExtensions.register(spark)
    spark.sql(
      s"""SELECT id_a, id_b
         |FROM lake_vector_near_dups('$base', 'emb', '$v1', 0.95, 'idx')
         |""".stripMargin)
      .as[(Long, Long)].collect().toSet shouldBe expect
    // bounded-memory chunking: a tiny chunk bound slices the landing
    // into many broadcast batches — identical pairs (each query row is
    // independent of its chunk-mates)
    lake.vectorNearDups("emb", v1, threshold = 0.95,
        indexName = Some("idx"), chunkRows = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe
      expect
    // an oversized landing is refused with the compaction-rewrite hint
    val big = intercept[IllegalArgumentException] {
      lake.vectorNearDups("emb", v1, 0.95, Some("idx"),
        maxLandingRows = 3L)
    }
    big.getMessage should include("maxLandingRows")
    // DV-delete one planted copy: its pairs drop, nothing else changes
    lake.deleteWhereDv("emb", $"vec_id" === 100003L)
    got("idx") shouldBe expect.filterNot(p =>
      p._1 == 100003L || p._2 == 100003L)
    // unknown since-version refused
    intercept[IllegalArgumentException] {
      lake.vectorNearDups("emb", "nope", 0.95, Some("idx"))
    }
  }

  /** Clustered corpus for the routing tests: 8 one-hot cluster centers
    * in 16 dims, members = center + small deterministic noise, ids
    * c*1000+j — hive-partitioned by cluster so every data file is
    * cluster-pure (the layout coarse routing is designed for).
    */
  private def clusteredCorpus(perCluster: Int): DataFrame = {
    def noise(i: Long, j: Long): Double = {
      var z = i * 1000003L + j + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      ((z ^ (z >>> 27)) & 0xffffffL).toDouble / 0xffffffL.toDouble - 0.5
    }
    (0 until 8).flatMap { c =>
      (0 until perCluster).map { j =>
        val id = c * 1000L + j
        val v = (0 until 16).map(d =>
          (if (d == 2 * c) 1.0 else 0.0) + 0.1 * noise(id, d)).toArray
        (id, v, c)
      }
    }.toDF("vec_id", "vec", "cl")
  }

  test("coarse shard routing: a selective shardProbe answers from a " +
      "FRACTION of the shards with full recall on a clustered corpus; " +
      "full probe is byte-identical to the unrouted plan; deleted " +
      "routing degrades to probe-everything and maintenance backfills") {
    val (base, lake) = newLake()
    lake.writeAtomic(clusteredCorpus(40).repartition($"cl"), "emb",
      partitionBy = Seq("cl"))
    val shards = lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    shards shouldBe fileCount(lake, "emb")
    assert(shards >= 8) // at least one cluster-pure file per cluster
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // maintenance wrote one routing entry per shard
    VectorIndex.readRoutingEntries(f, s"$base/emb", "idx")
      .size shouldBe shards
    // queries: one per cluster (a fresh member of each)
    val queries = clusteredCorpus(41)
      .filter($"vec_id" % 1000 === 40).select("vec_id", "vec")
    def run(probe: Double) = lake.vectorSearch("emb",
        queries, k = 5, shardProbe = probe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = run(1.0)
    full shouldBe run(1.0) // deterministic
    // every neighbor of a cluster-c query is a cluster-c member: the
    // corpus shape routing exploits
    full.forall { case (q, n) => q / 1000L == n / 1000L } shouldBe true
    // probe 2 of >=8 shards: routing must rank each query's own-cluster
    // shard first — recall stays complete
    val routedRun = run(0.25)
    routedRun shouldBe full
    routedRun shouldBe run(0.25) // deterministic
    // routing lost (crash / pre-routing index): the same selective call
    // degrades to probing EVERYTHING — identical answers, more work
    f.delete(VectorIndex.routingDir(s"$base/emb", "idx"), true)
    run(0.25) shouldBe full
    // maintenance BACKFILLS routing from the artifact bytes (no shard
    // rebuild: returns 0) and selective probing works again
    lake.maintainVectorIndexes("emb") shouldBe 0
    VectorIndex.readRoutingEntries(f, s"$base/emb", "idx")
      .size shouldBe shards
    run(0.25) shouldBe full
    // ivf kind routes the same way (and its backfill reader works)
    lake.createVectorIndex("emb", "ivx", "vec", "vec_id", kind = "ivf",
      nlist = 4, nprobe = 4)
    val ivfFull = lake.vectorSearch("emb", queries, k = 5,
        indexName = Some("ivx"))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    lake.vectorSearch("emb", queries, k = 5, indexName = Some("ivx"),
        shardProbe = 0.25)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet shouldBe ivfFull
    // an append routes its new shard too, and VACUUM compacts the
    // accumulated segments into one without losing live entries
    val vPre = lake.listVersions("emb").head
    lake.appendAtomic(queries.limit(2)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec"),
        ($"vec_id" / 1000L).cast("int").as("cl")).coalesce(1), "emb")
    lake.vacuum("emb", keep = 1, orphanGraceMs = 0L)
    VectorIndex.routingSegmentFiles(f, s"$base/emb", "idx")
      .size shouldBe 1
    VectorIndex.readRoutingEntries(f, s"$base/emb", "idx")
      .size shouldBe fileCount(lake, "emb")
    val twins = lake.vectorSearch("emb", queries.limit(2), k = 1,
        indexName = Some("idx"), shardProbe = 0.25)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    twins.foreach { case (q, n) => n shouldBe (q + 100000L) }
    // EXACT cap-bound pruning in vectorNearDups: the landing lives in
    // clusters 0/1, so shards of the far clusters are provably out of
    // threshold range and skip — pairs IDENTICAL to the unrouted
    // scan-everything baseline (recall 1.0 preserved)
    def ndPairs() = lake.vectorNearDups("emb", vPre, threshold = 0.9,
        indexName = Some("idx"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pruned = ndPairs()
    pruned should not be empty // twins pair with their own clusters
    f.delete(VectorIndex.routingDir(s"$base/emb", "idx"), true)
    ndPairs() shouldBe pruned
    // contract: out-of-range probe refused
    intercept[IllegalArgumentException] {
      lake.vectorSearch("emb", queries, k = 1, shardProbe = 0.0)
    }
  }

  test("clusterByVector: a cluster-SCATTERED corpus becomes routable — " +
      "the rewrite regroups files by embedding neighborhood, selective " +
      "probes then reproduce the full-probe result; SQL statement route") {
    val (base, lake) = newLake()
    // INTERLEAVED ids (id = j*8 + c): a range write by id mixes all 8
    // clusters into every file — the layout routing can do nothing with
    def noise(i: Long, j: Long): Double = {
      var z = i * 1000003L + j + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      ((z ^ (z >>> 27)) & 0xffffffL).toDouble / 0xffffffL.toDouble - 0.5
    }
    def member(c: Int, j: Int, id: Long): (Long, Array[Double]) =
      (id, (0 until 16).map(d =>
        (if (d == 2 * c) 1.0 else 0.0) + 0.1 * noise(id, d)).toArray)
    val scattered = (0 until 40).flatMap(j => (0 until 8).map(c =>
      member(c, j, j * 8L + c))).toDF("vec_id", "vec")
    lake.writeAtomic(scattered.repartitionByRange(8, $"vec_id")
      .sortWithinPartitions("vec_id"), "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    // queries: a fresh member of each cluster
    val queries = (0 until 8).map(c => member(c, 40, 4000L + c))
      .toDF("vec_id", "vec")
    def run(probe: Double) = lake.vectorSearch("emb", queries, k = 5,
        shardProbe = probe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = run(1.0)
    full.forall { case (q, n) => q % 8L == n % 8L } shouldBe true
    // the vector-clustering OPTIMIZE, through the SQL statement
    val r = LakeSql.sql(spark,
      s"OPTIMIZE lake.`$base`.emb CLUSTER BY VECTOR vec CLUSTERS 8")
      .collect().head
    r.getString(0) shouldBe "OPTIMIZE CLUSTER BY VECTOR"
    // the rewrite auto-covered + auto-routed its outputs
    lake.maintainVectorIndexes("emb") shouldBe 0
    val (_, covered, routed, total) = lake.vectorIndexStatus("emb").head
    covered shouldBe total
    routed shouldBe total
    // rows unchanged: full-probe results identical to pre-rewrite
    run(1.0) shouldBe full
    // and NOW a selective probe reproduces them — files are
    // cluster-coherent, so each query's top-ranked shards hold its
    // whole neighborhood (this is exactly what failed pre-rewrite
    // layouts cannot guarantee)
    run(0.25) shouldBe full
    // cap-bound pruning parity holds on the rewritten corpus too
    val v1 = lake.listVersions("emb").head
    lake.appendAtomic(queries.limit(2)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    val pairs = lake.vectorNearDups("emb", v1, threshold = 0.9,
        indexName = Some("idx"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should not be empty
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.delete(VectorIndex.routingDir(s"$base/emb", "idx"), true)
    lake.vectorNearDups("emb", v1, threshold = 0.9,
        indexName = Some("idx"))
      .select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet shouldBe pairs
    // DECLARED layout: the rewrite recorded the clustering as a table
    // property, so a PLAIN compact() re-applies it — after landing a
    // cluster-MIXED file, routine maintenance alone restores
    // selective-probe exactness (routine OPTIMIZE preserves
    // routability instead of shuffling the neighborhoods away)
    lake.properties("emb")
      .get(Lake.ClusterByVectorProp) shouldBe Some("vec")
    lake.appendAtomic((41 to 44).flatMap(j => (0 until 8).map(c =>
        member(c, j, 8000L + j * 8 + c))).toDF("vec_id", "vec")
      .select($"vec_id", $"vec".cast("array<double>").as("vec"))
      .coalesce(1), "emb")
    lake.compact("emb")
    lake.maintainVectorIndexes("emb") shouldBe 0 // compact auto-routed
    val full3 = run(1.0)
    run(0.25) shouldBe full3
    // hive-partitioned layers refused (two layout authorities)
    lake.writeAtomic(scattered.withColumn("p", $"vec_id" % 2)
      .repartition(2, $"p"), "embp", partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      lake.clusterByVector("embp", "vec")
    }
  }

  test("uncovered files fall back to an exact scan: deleting a shard " +
      "artifact changes cost, never results") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(4, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    val queries = vectors(0 until 6)
    val before = lake.vectorSearch("emb", queries, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    // knock one artifact out (crash window / foreign writer shape)
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val shards = VectorIndex.shardsDir(s"$base/emb", "idx")
    val victim = f.listStatus(shards).map(_.getPath)
      .filter(_.getName.endsWith(".ann")).sortBy(_.getName).head
    f.delete(victim, false)
    val after = lake.vectorSearch("emb", queries, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    // the uncovered file's vectors come back through the exact scan; on
    // this corpus the exact leg can only IMPROVE agreement with brute
    // force, and the planted determinism holds — results identical here
    // because HNSW recall on the covered files is exact for these queries
    after shouldBe before
    // maintenance heals the hole
    lake.maintainVectorIndexes("emb") shouldBe 1
  }

  test("deletion vectors: a DV-bearing file leaves the index path (its " +
      "graph would resurrect deleted rows) and deleted vectors never " +
      "surface as neighbors") {
    val (_, lake) = newLake()
    lake.writeAtomic(vectors(0 until 200)
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    val queries = vectors(0 until 2)
    // plant a twin, index it, then DV-delete it: the twin's file now
    // carries a deletion vector and must be searched via the exact scan
    lake.appendAtomic(queries.filter($"vec_id" === 0L)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    lake.vectorSearch("emb", queries, k = 1)
      .filter($"query_id" === 0L && $"rank" === 1)
      .select("neighbor_id").as[Long].head() shouldBe 100000L
    lake.deleteWhereDv("emb", $"vec_id" === 100000L)
    lake.vectorSearch("emb", queries, k = 3)
      .filter($"neighbor_id" === 100000L).count() shouldBe 0L
  }

  test("OPTIMIZE rebuilds coverage for its outputs; VACUUM prunes the " +
      "rewritten-away files' orphan artifacts") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(6, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 6
    lake.compact("emb") // full OPTIMIZE: every data file replaced
    // the post-OPTIMIZE hook covered the new files; old artifacts linger
    val live = fileCount(lake, "emb")
    shardCount(base, "emb", "idx") shouldBe (6 + live)
    lake.vacuum("emb", keep = 1, orphanGraceMs = 0L)
    shardCount(base, "emb", "idx") shouldBe live // orphans pruned
    val queries = vectors(0 until 5)
    val exact = Similarity.bruteForceTopK(queries, lake.read("emb"),
      "vec_id", "vec", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = lake.vectorSearch("emb", queries, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"post-OPTIMIZE recall@3 = $recall")
  }

  test("time-travel search: an older snapshot answers from the SAME " +
      "artifacts — later-appended vectors don't exist in its inventory") {
    val (_, lake) = newLake()
    lake.writeAtomic(vectors(0 until 200)
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    val v1 = lake.listVersions("emb").head // the pre-append head
    val queries = vectors(0 until 3)
    lake.appendAtomic(queries.select(($"vec_id" + 100000L).as("vec_id"),
      $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    // current head sees the twins at rank 1…
    lake.vectorSearch("emb", queries, k = 1).filter($"rank" === 1)
      .select("neighbor_id").as[Long].collect()
      .forall(_ >= 100000L) shouldBe true
    // …the pinned older snapshot never does (its inventory predates them)
    val old = lake.vectorSearch("emb", queries, k = 3,
      version = Some(v1))
    old.filter($"neighbor_id" >= 100000L).count() shouldBe 0L
    old.filter($"rank" === 1).count() shouldBe 3L
    intercept[IllegalArgumentException] {
      lake.vectorSearch("emb", queries, k = 1, version = Some("nope"))
    }
  }

  test("hive-partitioned layers index per file, and a STREAMING-sink " +
      "micro-batch (landBatch = appendAtomic + txn ledger) maintains " +
      "coverage like any append") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 200)
      .withColumn("part", pmod($"vec_id", lit(2L)))
      .repartition(2, $"part"), "emb", partitionBy = Seq("part"))
    val built = lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    built shouldBe fileCount(lake, "emb") // every hive file got a shard
    val queries = vectors(0 until 3)
    val before = shardCount(base, "emb", "idx")
    // a lake-sink micro-batch is an appendAtomic with a _TXN ledger
    // entry — the same post-commit hook covers the batch's files
    newspipe.io.source.LakeStreamSink.landBatch(lake, "emb", Nil,
      Some("vidx_app"), 0L,
      queries.select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec"),
        pmod($"vec_id", lit(2L)).as("part")).coalesce(1))
    shardCount(base, "emb", "idx") should be > before
    lake.maintainVectorIndexes("emb") shouldBe 0
    val top = lake.vectorSearch("emb", queries, k = 1)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach { i => top(i) shouldBe (i + 100000L) }
  }

  test("kind=ivf (IVF-Flat cells): exhaustive-probe parity with brute " +
      "force, selective-probe twins via append maintenance, determinism") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 400)
      .repartitionByRange(5, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    // nprobe == nlist probes every cell → exact in-cell distances make
    // the search EQUAL to brute force (pins the cell machinery end to
    // end); a second index with selective probes serves the twin check
    lake.createVectorIndex("emb", "ivx_all", "vec", "vec_id",
      kind = "ivf", nlist = 8, nprobe = 8) shouldBe 5
    // artifacts are content-addressed PER INDEX DIR: the second create
    // builds its own 5 shards (ivx_all's are already complete)
    lake.createVectorIndex("emb", "ivx", "vec", "vec_id",
      kind = "ivf", nlist = 16, nprobe = 2) shouldBe 5
    shardCount(base, "emb", "ivx") shouldBe 5
    val queries = vectors(0 until 6)
    val exact = Similarity.bruteForceTopK(queries, lake.read("emb"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val allProbe = lake.vectorSearch("emb", queries, k = 5,
      indexName = Some("ivx_all"))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    allProbe shouldBe exact // exhaustive probes = brute force
    // twins appended AFTER the builds: maintenance covers both indexes
    lake.appendAtomic(queries.select(($"vec_id" + 100000L).as("vec_id"),
      $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    shardCount(base, "emb", "ivx") shouldBe 6
    shardCount(base, "emb", "ivx_all") shouldBe 6
    def run() = lake.vectorSearch("emb", queries, k = 3,
        indexName = Some("ivx")).filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val top = run()
    (0L until 6L).foreach { i =>
      // a twin shares its query's nearest centroid — selective probes
      // (nprobe 2 of 16) still always find it
      top(i) shouldBe (i + 100000L)
    }
    run() shouldBe top // deterministic
  }

  test("kind=pq (per-file product quantization): codes ~dim×8/m smaller " +
      "than raw vectors, ADC shortlist + exact refine matches brute " +
      "force on recall, twins via append maintenance, deterministic") {
    val (base, lake) = newLake()
    lake.writeAtomic(vectors(0 until 400)
      .repartitionByRange(5, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    // pqK sized to the shard (80 vectors/file): at toy file sizes the
    // codebooks dominate the artifact; production 128 MB files amortize
    // them over ~10⁶ vectors
    lake.createVectorIndex("emb", "pqx", "vec", "vec_id", kind = "pq",
      pqM = 8, pqK = 16) shouldBe 5
    // compression pin: the artifact set is far smaller than the raw
    // vectors it indexes (400 × 16 dims × 8 B = 51 200 B of vector data;
    // codes are 8 B/vector + codebooks)
    val f = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val shardBytes = f.listStatus(
        VectorIndex.shardsDir(s"$base/emb", "pqx"))
      .filter(_.getPath.getName.endsWith(".ann")).map(_.getLen).sum
    assert(shardBytes < 400L * 16 * 8 / 2,
      s"pq shards should compress well below raw vectors, got $shardBytes")
    val queries = vectors(0 until 8)
    val exact = Similarity.bruteForceTopK(queries, lake.read("emb"),
      "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = lake.vectorSearch("emb", queries, k = 5,
      indexName = Some("pqx"))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = run()
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"pq recall@5 = $recall")
    run() shouldBe approx // deterministic
    // append-then-search: post-commit maintenance codes the new file
    // only; the twin is byte-identical so ADC ranks it into the
    // shortlist and the exact refine pins cos 1.0 at rank 1
    lake.appendAtomic(queries.limit(4)
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    lake.maintainVectorIndexes("emb") shouldBe 0
    val top = lake.vectorSearch("emb", vectors(0 until 4), k = 3,
        indexName = Some("pqx"))
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach { i => top(i) shouldBe (i + 100000L) }
  }

  test("filtered search: only qualifying neighbors return (validated " +
      "against the predicate), near-parity with brute force over the " +
      "filtered corpus; REFRESH rebuilds coverage after a full overwrite") {
    val (base, lake) = newLake()
    newspipe.NewspipeExtensions.register(spark)
    lake.writeAtomic(vectors(0 until 300)
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    val queries = vectors(0 until 5)
    val pred = $"vec_id" % 2 === 0
    val got = lake.vectorSearch("emb", queries, k = 5,
        filter = Some(pred))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    got.forall(_._2 % 2 == 0) shouldBe true // every neighbor qualifies
    val exact = Similarity.bruteForceTopK(queries,
      lake.read("emb").filter(pred), "vec_id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got.toSet).size.toDouble / exact.size
    assert(recall >= 0.85, s"filtered recall@5 = $recall")
    // the TVF's 6th arg is the filter SQL
    queries.createOrReplaceTempView("vf_queries")
    spark.sql(s"""SELECT neighbor_id FROM lake_vector_search('$base',
        |'emb', 'vf_queries', 5, 'idx', 'vec_id % 2 = 0')""".stripMargin)
      .as[Long].collect().forall(_ % 2 == 0) shouldBe true
    // a FULL overwrite deliberately does not auto-maintain (surprise
    // O(corpus) cost inside a write) — search stays CORRECT through the
    // all-uncovered exact fallback, and REFRESH restores coverage
    lake.writeAtomic(vectors(500 until 700)
      .repartitionByRange(2, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    val q2 = vectors(500 until 503)
    lake.vectorSearch("emb", q2, k = 2)
      .filter($"rank" === 1).count() shouldBe 3L // fallback answers
    val r = LakeSql.sql(spark,
      s"REFRESH VECTOR INDEX idx ON lake.`$base`.emb").collect().head
    r.getString(0) shouldBe "REFRESH VECTOR INDEX"
    r.getString(1) shouldBe "shards=2"
    lake.maintainVectorIndexes("emb") shouldBe 0
  }

  test("column evolution vs indexes: renaming/dropping a KEYED column " +
      "is refused (artifacts key logical names); unrelated columns " +
      "evolve freely and search still answers exactly") {
    val (_, lake) = newLake()
    lake.setProperties("emb", Map("lake.columnMapping.mode" -> "name"))
    lake.writeAtomic(vectors(0 until 100).withColumn("note", lit("x"))
      .repartitionByRange(2, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id")
    intercept[IllegalArgumentException] {
      lake.renameColumn("emb", "vec", "v2")
    }
    intercept[IllegalArgumentException] {
      lake.dropColumn("emb", "vec_id")
    }
    lake.vectorIndexes("emb").map(_.name) shouldBe Seq("idx") // intact
    // an UNRELATED column renames fine; covered files keep answering
    // from their artifacts, and a post-rename append answers through
    // the conservative fallback (mapped layers skip auto-maintenance)
    lake.renameColumn("emb", "note", "note2")
    val queries = vectors(0 until 4)
    lake.appendAtomic(queries
      .select(($"vec_id" + 100000L).as("vec_id"),
        $"vec".cast("array<double>").as("vec"), lit("y").as("note2"))
      .coalesce(1), "emb")
    val top = lake.vectorSearch("emb", queries, k = 1)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach { i => top(i) shouldBe (i + 100000L) }
  }

  test("REORG APPLY (PURGE) re-covers its rewritten outputs, and " +
      "widening the keyed id column (metadata-only) leaves every " +
      "artifact valid — searches stay exact with zero re-builds") {
    val (_, lake) = newLake()
    // INT ids: the widen target
    lake.writeAtomic(vectors(0 until 200)
      .select($"vec_id".cast("int").as("vec_id"),
        $"vec".cast("array<double>").as("vec"))
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    lake.createVectorIndex("emb", "idx", "vec", "vec_id") shouldBe 3
    val queries = vectors(0 until 3)
    lake.appendAtomic(queries
      .select(($"vec_id" + 100000L).cast("int").as("vec_id"),
        $"vec".cast("array<double>").as("vec")).coalesce(1), "emb")
    // DV-delete one twin, then PURGE: the rewrite materializes the
    // delete and the post-commit hook covers the rewritten file
    lake.deleteWhereDv("emb", $"vec_id" === 100002)
    lake.purgeDeletionVectors("emb").rewrittenFiles shouldBe 1
    lake.maintainVectorIndexes("emb") shouldBe 0 // REORG re-covered
    val (_, covered, routed, total) = lake.vectorIndexStatus("emb").head
    covered shouldBe total
    routed shouldBe total // routing followed the rewrite
    lake.vectorSearch("emb", queries, k = 3)
      .filter($"neighbor_id" === 100002L).count() shouldBe 0L
    // widen int → long: metadata-only commit; artifacts already store
    // ids as longs (the signer casts), so every shard stays VALID —
    // no re-cover, searches exact
    lake.widenColumn("emb", "vec_id",
      org.apache.spark.sql.types.LongType).rewrittenFiles shouldBe 0
    lake.maintainVectorIndexes("emb") shouldBe 0
    val (_, covered2, _, total2) = lake.vectorIndexStatus("emb").head
    covered2 shouldBe total2
    val top = lake.vectorSearch("emb", queries.limit(2), k = 1)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 2L).foreach { i => top(i) shouldBe (i + 100000L) }
  }

  test("SQL surface: CREATE VECTOR INDEX / lake_vector_search TVF / " +
      "DROP VECTOR INDEX") {
    val (base, lake) = newLake()
    newspipe.NewspipeExtensions.register(spark)
    lake.writeAtomic(vectors(0 until 200)
      .repartitionByRange(3, $"vec_id").sortWithinPartitions("vec_id"),
      "emb")
    val r = LakeSql.sql(spark,
      s"CREATE VECTOR INDEX idx ON lake.`$base`.emb (vec) ID vec_id " +
        "USING HNSW M 16 EF 128").collect().head
    r.getString(0) shouldBe "CREATE VECTOR INDEX"
    r.getString(1) shouldBe "shards=3"
    lake.vectorIndexes("emb").map(_.name) shouldBe Seq("idx")
    vectors(0 until 4).createOrReplaceTempView("vidx_queries")
    val top = spark.sql(
      s"""SELECT query_id, neighbor_id
         |FROM lake_vector_search('$base', 'emb', 'vidx_queries', 3, 'idx')
         |WHERE rank = 1 ORDER BY query_id""".stripMargin)
      .as[(Long, Long)].collect()
    top.length shouldBe 4
    // parity with the API route
    top.toSet shouldBe lake.vectorSearch("emb", vectors(0 until 4), k = 3)
      .filter($"rank" === 1).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // SHOW VECTOR INDEXES: one row per index, parameters + coverage
    LakeSql.sql(spark,
      s"CREATE VECTOR INDEX ivx ON lake.`$base`.emb (vec) ID vec_id " +
        "USING IVF NLIST 8 NPROBE 3")
    val shows = LakeSql.sql(spark,
      s"SHOW VECTOR INDEXES ON lake.`$base`.emb")
      .orderBy("name").collect()
    shows.map(r => (r.getString(0), r.getString(1), r.getInt(8),
      r.getInt(9))).toSeq shouldBe Seq(
      ("idx", "hnsw", 3, 3), ("ivx", "ivf", 3, 3))
    shows.find(_.getString(0) == "ivx").get.getInt(6) shouldBe 8 // nlist
    LakeSql.sql(spark, s"DROP VECTOR INDEX ivx ON lake.`$base`.emb")

    LakeSql.sql(spark, s"DROP VECTOR INDEX idx ON lake.`$base`.emb")
      .collect().head.getString(0) shouldBe "DROP VECTOR INDEX"
    lake.vectorIndexes("emb") shouldBe empty
    intercept[IllegalArgumentException] {
      lake.vectorSearch("emb", vectors(0 until 2), k = 1)
    }
  }
}
