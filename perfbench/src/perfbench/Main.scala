package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1>` in a fresh JVM (see perfbench/run.py, which builds the classpath
  * and owns `--run-dir` and `--cores`). Prints one JSON line last on
  * stdout: `correct`, `attempted`, `failed` and the metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (argv.contains("--self-check")) {
      val errs = SelfCheck.run(args.getOrElse("--seed", "1").toLong)
      errs.foreach(e => System.err.println(s"self-check: $e"))
      println(s"""{"self_check": ${errs.isEmpty}, "failures": ${errs.size}}""")
      sys.exit(if (errs.isEmpty) 0 else 1)
    }
    val runDir = Paths.get(args("--run-dir"))
    val cores = args("--cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Run.log("session up")
    val run = new Run(spark, runDir, args("--seed").toLong,
      args("--seconds").toInt, args("--trace") == "1")
    val workload: Workload = args("--workload") match {
      case "news_ingest" => new NewsIngest(run)
      case "corpus_curate" => new CorpusCurate(run)
    }
    val ok = try workload.execute() catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    val json = run.resultJson(ok, workload)
    run.tracer.foreach(_.writeOut(Paths.get(".bench_trace",
      s"${args("--workload")}-${args("--seed")}.jsonl")))
    Run.log("finished")
    spark.stop()
    Run.log("session stopped")
    println(json)
  }
}

/** A workload: setup (inputs, seeding, warm-up), then whole rounds of its
  * operations until the run's seconds are spent.
  */
trait Workload {
  def run: Run
  /** Input generation, seeding and untimed warm-up. */
  def setup(): Unit
  /** One round of timed operations. */
  def round(i: Int): Unit
  /** Rounds every run completes, however short its seconds. */
  def minRounds: Int = 1
  /** Checks made once at the end; false makes the run incorrect. */
  def finish(): Boolean
  /** Bytes under the measured lake root, over bytes of input generated
    * for it, after the run's first `minRounds` rounds.
    */
  def lakeRatio: Double
  /** Input items of the timed operations (articles or documents). */
  def items: Long

  final def execute(): Boolean = {
    setup()
    run.startTiming()
    Run.log("set up")
    var i = 0
    while (i < minRounds || run.elapsed < run.seconds) { round(i); i += 1 }
    Run.log(s"$i rounds")
    finish()
  }

  /** Median wall time of the workload's unit of work. */
  def unitOp: String
}

final class Run(val spark: SparkSession, val runDir: Path, val seed: Long,
    val seconds: Int, traced: Boolean) {
  val tracer: Option[Tracer] =
    if (traced) Some(new Tracer(spark)) else None
  tracer.foreach(spark.sparkContext.addSparkListener)

  val lakeRoot: Path = Files.createDirectories(runDir.resolve("lake"))
  private var lakes = 0
  /** A fresh lake directory (warm-up lakes are throwaway). */
  def newLake(name: String): String = {
    lakes += 1
    Files.createDirectories(lakeRoot.resolve(s"$lakes-$name")).toString
  }

  private var t0 = 0L
  var setupS = 0.0
  def startTiming(): Unit = {
    t0 = System.nanoTime()
    setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  }
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  var attempted = 0
  var failed = 0
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Layer totals over the timed operations (traced runs only). */
  val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = layer(k) += v
  /** Per-operation check of the trace: in-job time + driver gap = wall. */
  var traceConsistent = true

  /** Untimed warm-up: `n` operations, their wall times logged. The count
    * is fixed, so every run times the same sequence of operations; a
    * level-off rule stopped after three pages in some runs and four in
    * others.
    */
  def warmUp(label: String, n: Int)(body: => Unit): Unit = {
    val walls = (1 to n).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    Run.log(s"warm-up $label ${walls.map(w => f"$w%.2f").mkString(" ")}")
  }

  /** Stop stray streams (except `keep`), clear the SQL cache and drop
    * checkpointed blocks, so one operation does not tax the next.
    */
  def quiesce(keep: Set[java.util.UUID] = Set.empty): Unit = {
    spark.streams.active.filterNot(q => keep(q.id)).foreach(q =>
      try q.stop() catch { case _: Throwable => () })
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A timed operation: `body` runs, then `check` on its result (outside
    * the timing). A throw or a failed check counts the operation as failed
    * and leaves its time out; the run goes on. Warm-up operations
    * (`timed = false`) skip the check and stop the run if they throw.
    */
  def op[T](kind: String, timed: Boolean = true, lakeDir: Option[String] = None,
      sample: Set[String] = Set.empty)(body: => T)(check: T => Unit): Option[T] = {
    if (timed) attempted += 1
    val before = if (timed) tracer.map(t => (t.fsCounters(), t.gcMs(), lakeDir.map(listing)))
      else None
    val start = System.nanoTime()
    val result = try {
      Right(tracer.filter(_ => timed) match {
        case Some(t) => t.span(kind) {
          if (sample.nonEmpty) t.sampling(sample)(body) else body
        }
        case None => body
      })
    } catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - start) / 1e9
    val checked = result.flatMap { r =>
      try { if (timed) check(r); Right(r) } catch { case e: Throwable => Left(e) }
    }
    checked match {
      case Left(e) =>
        if (timed) failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        if (!timed) throw e
      case Right(_) if timed =>
        Run.log(f"$kind $wall%.3f")
        walls.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wall
        for (t <- tracer; (fs0, gc0, files0) <- before) account(t, kind, fs0, gc0, files0, lakeDir)
      case _ => ()
    }
    checked.toOption
  }

  /** (path, mtime) of every file under a lake root. */
  private def listing(dir: String): Set[(String, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.getLastModifiedTime(p).toMillis)).toSet
    finally s.close()
  }

  /** Attribute the operation that just ended to the layers. */
  private def account(t: Tracer, kind: String, fs0: (Long, Long), gc0: Long,
      files0: Option[Set[(String, Long)]], lakeDir: Option[String]): Unit = {
    t.drain()
    val s = t.spans.findLast(sp => sp.name == kind && sp.parent == -1).get
    val wallMs = s.end - s.start
    val jobs = t.jobsIn(s)
    val intervals = jobs.map(j => (j.start, if (j.end.isNaN) s.end else j.end))
    val inJob = t.unionMs(intervals, s.start, s.end)
    val gap = wallMs - inJob
    if (inJob < 0 || gap < -1e-6 || math.abs(inJob + gap - wallMs) > 1e-6)
      traceConsistent = false
    add("op.wall_s", wallMs / 1000)
    add("op.driver_gap_s", gap / 1000)
    add("spark.job_s", inJob / 1000)
    add("spark.jobs", jobs.size)
    jobs.foreach { j => j.synchronized {
      add("spark.stages", j.stages); add("spark.tasks", j.tasks)
      add("spark.task_cpu_s", j.cpuNs / 1e9)
      add("spark.shuffle_write_bytes", j.shuffleW.toDouble)
      add("spark.shuffle_read_bytes", j.shuffleR.toDouble)
      add("spark.spill_bytes", j.spill.toDouble)
      add("spark.input_bytes", j.input.toDouble)
    } }
    add("spark.gc_s", (t.gcMs() - gc0) / 1000.0)
    val (fsOps, fsBytes) = t.fsCounters()
    add("io.fs_ops", (fsOps - fs0._1).toDouble)
    add("io.bytes_written", (fsBytes - fs0._2).toDouble)
    for (before <- files0; dir <- lakeDir) {
      val fresh = listing(dir) -- before
      val names = fresh.toSeq.map(f => Paths.get(f._1).getFileName.toString)
      add("io.commits", names.count(n => n == "_COMMITTED" || n == "_SUCCESS"))
      add("io.files_written", names.count(n => !n.startsWith("_") && !n.startsWith(".")))
    }
    // layer calls the benchmark made inside this operation
    val all = t.spans
    def descendants(id: Int): Seq[Span] = all.filter(_.parent == id).toSeq
      .flatMap(c => c +: descendants(c.id))
    descendants(s.id).foreach { c =>
      val ms = c.end - c.start
      add(c.name + "_s", ms / 1000)
      if (c.name == "io.write")
        add("io.driver_gap_s", (ms - t.unionMs(t.jobIntervals, c.start, c.end)) / 1000)
    }
    // driver-stack samples taken inside this operation
    val inOp = t.samples.synchronized(t.samples.filter { case (at, _) =>
      at >= s.start && at <= s.end }.toVector)
    t.samples.synchronized(t.samples.clear())
    val all0 = t.jobIntervals
    inOp.zip(inOp.drop(1).map(_._1) :+ s.end).foreach { case ((at, hit), next) =>
      val dt = (next - at) / 1000
      if (hit == "vacuum") add("io.vacuum_s", dt)
      else if (hit.nonEmpty) {
        add("io.write_s", dt)
        if (t.unionMs(all0, at, at + 1e-3) == 0) add("io.driver_gap_s", dt)
      }
    }
  }

  /** A call into a layer inside a timed operation: a span named `name`
    * in traced runs, a plain call otherwise.
    */
  def layerCall[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** An untimed layer call made in traced runs only (e.g. replaying one
    * layer on the operation's input); its time goes to `name`_s.
    */
  def replay[T](name: String)(body: => T): Option[T] = tracer.map { t =>
    val r = t.span(name)(body)
    val s = t.spans.findLast(_.name == name).get
    add(name + "_s", (s.end - s.start) / 1000)
    r
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def rssPeakMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def resultJson(ok: Boolean, w: Workload): String = {
    val units = walls.getOrElse(w.unitOp, mutable.ArrayBuffer.empty[Double])
    val allWall = walls.values.flatten.sum
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("op_s_p50", median(units.toSeq), "s"),
        ("items_per_s", w.items / allWall, "1/s"),
        ("lake_bytes_per_input_byte", w.lakeRatio, "ratio"),
        ("rss_peak_mb", rssPeakMb, "MB"))
      case Some(t) =>
        val n = math.max(1, units.size).toDouble
        val perOp = PerLayer.names.map { case (k, unit) => (k, layer(k) / n, unit) }
        perOp :+ (("trace.op_s_p50", median(units.toSeq), "s"))
    }
    val body = metrics.map { case (k, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    val correct = ok && traceConsistent && units.nonEmpty
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}

object Run {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs $msg")
}

/** Per-layer metrics of the traced run, each per unit operation. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "op.wall_s" -> "s", "op.driver_gap_s" -> "s",
    "io.write_s" -> "s", "io.driver_gap_s" -> "s", "io.commits" -> "count",
    "io.fs_ops" -> "count", "io.vacuum_s" -> "s", "io.bytes_written" -> "bytes",
    "io.files_written" -> "count", "io.feed_s" -> "s", "io.feed_files_read" -> "count",
    "io.lookup_s" -> "s", "io.live_files" -> "count", "io.lookup_files_kept" -> "count",
    "io.lookup_files_total" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.gc_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "ops.quality_s" -> "s", "ops.minhash_candidates_s" -> "s", "ops.verify_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.verified_pairs" -> "count",
    "dq.split_s" -> "s", "dq.quarantined_rows" -> "count",
    "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
    "streaming.trigger_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.batches" -> "count", "streaming.input_rows" -> "count")
}
