package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded interval: a layer call made by the benchmark, a timed
  * operation, or a Spark job. Times are epoch milliseconds (fractional).
  */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int)

/** The traced mode's recorder. Everything is measured from outside the
  * program: spans around the benchmark's own calls into each layer, job,
  * stage and task events from a `SparkListener`, Hadoop `FileSystem`
  * statistics, JVM GC beans, and (for layers reached only inside a call,
  * as in `Pipeline.run`) samples of the driver thread's stack. Spans and
  * per-job figures stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  // ---- spans ----
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, nowMs, Double.NaN, parent)
    open = id :: open
    try body finally {
      open = open.tail
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  /** Spans and Spark jobs, one JSON object a line. */
  def writeOut(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      f"""{"span": ${Gen.jsonString(s.name)}, "id": ${s.id}, "parent": ${s.parent}, "start": ${s.start}%.3f, "end": ${s.end}%.3f}""") ++
      jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        s"""{"job": ${j.id}, "start": ${j.start.toLong}, "end": ${if (j.end.isNaN) "null" else j.end.toLong.toString}, "stages": ${j.stages}, "tasks": ${j.tasks}, "cpu_ns": ${j.cpuNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }

  // ---- Spark listener ----
  final class JobStat(val id: Int, val start: Double) {
    @volatile var end: Double = Double.NaN
    var stages, tasks = 0
    var cpuNs, shuffleW, shuffleR, spill, input = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobStat(e.jobId, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  private def jobOf(stage: Int): Option[JobStat] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOf(e.stageId).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleW += m.shuffleWriteMetrics.bytesWritten
          j.shuffleR += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
      }
    }

  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def jobsIn(s: Span): Seq[JobStat] =
    jobs.values.asScala.filter(j => j.start >= s.start && j.start <= s.end).toSeq

  /** Length of the union of `intervals` clipped to [lo, hi], in ms. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var started = false
    clipped.foreach { case (a, b) =>
      if (!started) { curA = a; curB = b; started = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (started) total + (curB - curA) else total
  }
  def jobIntervals: Seq[(Double, Double)] =
    jobs.values.asScala.toSeq.map(j => (j.start, if (j.end.isNaN) nowMs else j.end))

  // ---- file-system counters, GC ----
  /** (file-system operations, bytes written). Hadoop's local FileSystem
    * counts bytes but not operations, so operations are the JVM's read and
    * write system calls from /proc/self/io.
    */
  def fsCounters(): (Long, Long) = {
    val io = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (io("syscr") + io("syscw"),
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)
  }
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.filterNot(_.getName.contains("Concurrent")).map(_.getCollectionTime.max(0L)).sum

  // ---- driver-stack sampling ----
  /** Samples of the driver thread's outermost `newspipe` Lake entry frame,
    * as (time ms, entry method or "").
    */
  val samples = mutable.ArrayBuffer.empty[(Double, String)]
  def sampling[T](entries: Set[String], periodMs: Long = 2)(body: => T): T = {
    val target = Thread.currentThread()
    @volatile var on = true
    val t = new Thread(() => {
      while (on) {
        val st = target.getStackTrace
        val hit = st.reverseIterator.collectFirst {
          case f if f.getClassName == "newspipe.io.Lake" && entries(f.getMethodName) =>
            f.getMethodName
        }.getOrElse("")
        val at = nowMs
        samples.synchronized(samples += ((at, hit)))
        Thread.sleep(periodMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    try body finally { on = false; t.join() }
  }
}
