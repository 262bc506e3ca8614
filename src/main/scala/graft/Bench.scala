package graft
import org.apache.spark.sql.SparkSession

/** Driver benchmark: one JSON line `{"metric":"total","value":…,
  * "queries":{…}}` over `SparkEntry.queries` at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), local[SPARK_GRAFT_CPUS].
  *
  * Args: an optional comma-separated query-name list runs ONLY those
  * queries — the fresh-JVM isolation probe (`runMain graft.Bench
  * q144_stream_sink,q163_gopher_rules`) that separates real plan
  * regressions from in-run harness contamination.
  *
  * Contamination control (round 13 post-mortem: the committed artifact
  * showed q144 at 35 s median that measured 2.7 s isolated — stable
  * WITHIN the run, so it looked real):
  *  1. java.io.tmpdir + spark.local.dir → a fresh per-process root,
  *     deleted at exit (round 12; prior-run debris).
  *  2. localCheckpoint blocks unpersisted per execution (round 11;
  *     block-manager/GC growth).
  *  3. NEW (round 14): every lake/stream query creates temp roots with
  *     MANY SMALL FILES under the tmpdir and never deletes them — 170
  *     queries × 4 executions accumulate thousands of entries WITHIN
  *     one run, and the dirty-page writeback they pin stalls exactly
  *     the fsync-heavy streaming/commit-protocol queries. Now: the
  *     warm pass's debris is wiped before timing starts, and each
  *     query's own debris is wiped right after its reps — steady-state
  *     FS load is one query's footprint, not the whole run's.
  *  4. NEW (round 14): stray streaming queries are stopped and the SQL
  *     cache cleared between queries (a leaked micro-batch loop steals
  *     cores from every later measurement).
  */
object Bench {
  /** Recursively delete a directory tree; best-effort, never throws. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root)) {
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      }
    } catch { case _: Throwable => () }

  /** Direct children of `root` that are safe to reclaim between queries:
    * Spark's OWN scratch dirs (blockmgr-*, spark-*) are excluded — the
    * session holds them for its whole life, so a mid-run diff must never
    * touch them even if they were (lazily) created inside a query.
    */
  private def childrenOf(root: java.nio.file.Path): Set[java.nio.file.Path] =
    try {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("blockmgr") || n.startsWith("spark-")
      }.toSet finally s.close()
    } catch { case _: Throwable => Set.empty }

  def main(args: Array[String]): Unit = {
    // Lifecycle queries (q82+, the lake family) create their roots via
    // Files.createTempDirectory, which resolves java.io.tmpdir. Accumulated
    // /tmp state from prior runs (~8.8k entries at round-11 judging) made the
    // FS-protocol queries swing 2-6x run-to-run. Redirect the tmpdir to one
    // fresh per-process root and delete it at exit so each bench run starts
    // from a clean, small directory. NOTE: the JDK caches the tmpdir at
    // TempFileHelper class-load, so this must run before the first
    // createTempDirectory anywhere in the JVM; the probe below detects the
    // pre-loaded case (e.g. an in-process sbt runMain) and reports it.
    val benchTmp = java.nio.file.Paths
      .get("target", s"bench-tmp-${ProcessHandle.current.pid}").toAbsolutePath
    java.nio.file.Files.createDirectories(benchTmp)
    System.setProperty("java.io.tmpdir", benchTmp.toString)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(benchTmp)))
    val probe = java.nio.file.Files.createTempDirectory("tmpdir-probe")
    if (probe.getParent != benchTmp)
      System.err.println(s"[bench] tmpdir override ineffective (JVM pre-cached ${probe.getParent})")
    java.nio.file.Files.deleteIfExists(probe)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Shuffle spill / block-manager scratch joins the same fresh root so
      // the run leaves nothing behind in the shared /tmp.
      .config("spark.local.dir", benchTmp.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); see Verify.scala.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val only: Option[Set[String]] =
      args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(names) =>
        val missing = names.filterNot(SparkEntry.queries.contains)
        require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }

    // Checkpointed stage boundaries (localCheckpoint) pin RDD blocks in the
    // block manager until unpersisted; without per-query cleanup 170 queries
    // × 4 passes accumulate blocks and the growing GC pressure inflates
    // later queries' timings by up to ~2×.
    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    // Between-query hygiene: a query's leaked streaming loop or cached
    // relation must not tax the NEXT query's measurement.
    def quiesce(): Unit = {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      dropCheckpoints()
    }
    // Untimed warm pass: JIT + codegen compile + parquet footer/file-index
    // caches. Without it the first query absorbs ~4s of one-time session
    // setup and the per-query numbers measure startup, not the operator.
    val preWarm = childrenOf(benchTmp)
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      quiesce()
    }
    // wipe the warm pass's temp debris before any timing starts
    (childrenOf(benchTmp) -- preWarm).foreach(deleteTree)

    // Median-of-3 after the warm pass: single-shot timings swung 2-4x
    // run-to-run on unchanged code (GC / JIT recompile / page-cache noise),
    // which made real regressions indistinguishable from luck. The median
    // is the headline number; the min is kept as the "best achievable"
    // floor for plan-shape comparisons across rounds.
    // A rep that throws is not a sample: its time-to-throw would make a
    // broken query look fast. Such queries are named in "failed"; their
    // median and minimum cover the reps that completed, and a query with
    // no completed rep has no entry in "queries" at all.
    val reps = 3
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = queries.flatMap { case (name, fn) =>
      val before = childrenOf(benchTmp)
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        dropCheckpoints()
        if (ok) Some(dt) else { failed += name; None }
      }.sorted
      quiesce()
      (childrenOf(benchTmp) -- before).foreach(deleteTree)
      if (times.isEmpty) None
      else Some(name -> ((times(times.length / 2), times.head)))
    }
    val qs = results.map { case (k, (med, _)) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, (_, mn)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // metric/value lead the line so a tail-truncated capture still carries
    // the headline number, and the full JSON is ALSO written to
    // target/bench.json (round-5 artifact lost 16 per-query times to stdout
    // truncation under Spark's INFO noise). "queries" holds the medians
    // (driver contract); "queries_min" the per-query minima.
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"stat":"median","queries":$qs,"queries_min":$mins,"sf":"$sfDir","failed":$failedJson}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
      // second durable copy at the repo root (round 19): the round-17
      // stdout capture truncated mid-JSON and the driver lost that
      // round's per-query record — BENCH_last.json survives any stdout
      // fate. Written only on FULL runs; a subset probe must not
      // overwrite the full record.
      if (only.isEmpty)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_last.json"), json + "\n")
    } catch { case _: Throwable => () } // stdout line below is the contract
    println(json)
    spark.stop()
  }
}
