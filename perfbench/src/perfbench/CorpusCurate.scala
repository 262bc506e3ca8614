package perfbench

import scala.collection.mutable

import newspipe.io.{Lake, LakeConfig}
import newspipe.ops.{Dedup, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM-data curation: seeded document batches land through a
  * `TextStats.qualityScore` filter and `Lake.appendDeduped` into a corpus
  * layer with a persisted dedup index. A round is one batch.
  */
final class CorpusCurate(val run: Run) extends Workload {
  import CorpusCurate._
  val unitOp = "batch"
  private val spark = run.spark

  /** One corpus: its lake, its documents, and the batches planned for it. */
  private final class Corpus(val stream: Long, seedDocs: Int) {
    val dir: String = run.newLake(s"corpus$stream")
    val lake = new Lake(spark, LakeConfig(basePath = dir))
    val seedSet: Vector[Gen.Doc] = Gen.seedCorpus(run.seed, stream, seedDocs, 1L)
    /** The seed and every original planned so far (copies draw on these). */
    val docs: mutable.ArrayBuffer[Gen.Doc] = mutable.ArrayBuffer.from(seedSet)
    val copied = mutable.HashSet.empty[Long]
    /** Ids the corpus layer must hold: the seed and every landed original. */
    val landed: mutable.Set[Long] = mutable.HashSet.from(docs.map(_.id))
    private var nextId = seedDocs + 1L
    var inputBytes: Long = docs.map(bytes).sum
    var batches = 0

    /** Plan the next batch against the documents landed so far. */
    def plan(): Gen.Batch = {
      val b = Gen.batch(run.seed, stream * 1000 + batches, BatchDocs, nextId,
        docs.toIndexedSeq, copied)
      nextId += b.docs.size
      batches += 1
      docs ++= b.docs.filter(d => b.originals.contains(d.id))
      inputBytes += b.docs.map(bytes).sum
      b
    }

    def seed(): Unit = {
      lake.writeAtomic(frame(seedSet), Layer)
      lake.createDedupIndex(Layer, "dd", "text", "doc_id")
    }
  }
  private def bytes(d: Gen.Doc): Long = d.text.getBytes("UTF-8").length + 8L

  private def frame(docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  private def land(c: Corpus, b: Gen.Batch, timed: Boolean): Unit = {
    val df = frame(b.docs).filter(TextStats.qualityScore(col("text")) >= Gen.QualityThreshold)
    run.op("batch", timed, Some(c.dir))(
      run.layerCall("io.write")(c.lake.appendDeduped(df, Layer))) { res =>
      require(res.landed == b.originals.size &&
        res.droppedInBatch == b.inBatchCopies.size &&
        res.droppedVsCorpus == b.corpusCopies.size,
        s"landed/in-batch/vs-corpus ${res.landed}/${res.droppedInBatch}/" +
          s"${res.droppedVsCorpus}, planted ${b.originals.size}/" +
          s"${b.inBatchCopies.size}/${b.corpusCopies.size}")
      c.landed ++= b.originals
      val ids = c.lake.read(Layer).select("doc_id").collect().map(_.getLong(0))
      val expected = c.landed
      require(ids.length == expected.size && ids.toSet == expected,
        s"corpus holds ${ids.length} rows, ${expected.size} landed; " +
          s"${(ids.toSet -- expected).size} unexpected ids (planted copies or low-quality)")
    }
    if (timed) { docsTimed += b.docs.size; replays(c, b) }
    run.quiesce()
  }
  private var docsTimed = 0L

  /** Traced runs: the `ops` kernels on the same batch, called directly. */
  private def replays(c: Corpus, b: Gen.Batch): Unit = if (run.tracer.isDefined) {
    val df = frame(b.docs).localCheckpoint(eager = true)
    run.replay("ops.quality") {
      df.agg(sum(TextStats.qualityScore(col("text")))).collect()
    }
    val cand = run.replay("ops.minhash_candidates") {
      Dedup.minhashCandidates(df, "doc_id", "text").localCheckpoint(eager = true)
    }.get
    val nCand = cand.count()
    val verified = run.replay("ops.verify") {
      Dedup.jaccardVerify(cand, df, "doc_id", "text").count()
    }.get
    run.add("ops.candidate_pairs", nCand.toDouble)
    run.add("ops.verified_pairs", verified.toDouble)
    if (verified != b.inBatchCopies.size) {
      System.err.println(s"perfbench: jaccardVerify found $verified pairs, " +
        s"${b.inBatchCopies.size} planted")
      replayMismatch = true
    }
    run.add("io.live_files", c.lake.pruneInfo(Layer, lit(true)).map(_.totalFiles).getOrElse(0).toDouble)
  }
  private var replayMismatch = false

  private var measured: Corpus = _
  private var ratio = Double.NaN
  private val planned = mutable.Queue.empty[Gen.Batch]

  def setup(): Unit = {
    val warm = new Corpus(1, WarmSeedDocs)
    warm.seed()
    run.warmUp("batches", WarmupBatches)(land(warm, warm.plan(), timed = false))
    measured = new Corpus(2, SeedDocs)
    planned ++= (1 to CheckedBatches).map(_ => measured.plan())
    val errs = Gen.checkCorpus(measured.seedSet, planned.toSeq)
    require(errs.isEmpty, s"generator self-check failed: ${errs.take(3).mkString("; ")}")
    measured.seed()
  }

  def round(i: Int): Unit = {
    val b = if (planned.nonEmpty) planned.dequeue() else measured.plan()
    land(measured, b, timed = true)
    // input so far: the seed corpus and every batch planned, less those
    // planned but not landed yet
    if (i == 0) ratio = Run.dirBytes(measured.dir).toDouble /
      (measured.inputBytes - planned.map(_.docs.map(bytes).sum).sum)
  }

  def finish(): Boolean = !ratio.isNaN && !replayMismatch
  def lakeRatio: Double = ratio
  def items: Long = docsTimed
}

object CorpusCurate {
  val Layer = "corpus"
  val SeedDocs = 1000
  val BatchDocs = 800
  val WarmSeedDocs = 500
  /** Untimed batches before timing, on a throwaway corpus. */
  val WarmupBatches = 3
  /** Batches planned, and self-checked, before the run starts. */
  val CheckedBatches = 2
}
