package newspipe.streaming

import newspipe.io.source.LakeStreamSink
import newspipe.pipeline.Silver
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming extension (SURVEY.md §7; the reference lists
  * streaming as future work, docs/pipeline_overview.md:163).
  *
  * The silver transform is a pure DataFrame => DataFrame, so the SAME code
  * runs on a stream: `readStream` source → [[Silver.transform]] →
  * watermarked windowed aggregation → sink. Batch/stream parity is tested
  * by running both paths over the same rows (StreamingSpec).
  */
object StreamingSilver {

  /** Streaming silver: the batch transform applied to a streaming bronze
    * frame. dropDuplicates on a stream requires a watermark to bound state;
    * we watermark on publishedAt before the transform's dedup.
    */
  def transform(bronzeStream: DataFrame, watermark: String = "1 hour"): DataFrame =
    Silver.transform(bronzeStream.withWatermark("publishedAt", watermark))

  /** Tumbling-window sentiment trend over a silver stream: the streaming
    * form of the gold sentiment-trends model (ref 03:140-146). State is
    * bounded by the watermark; late rows beyond it are dropped (documented
    * completeness/latency trade).
    */
  def sentimentTrendsWindowed(silverStream: DataFrame,
      window_ : String = "1 day", watermark: String = "1 day"): DataFrame =
    silverStream
      .withColumn("__ts", col("PUBLISHED_DATE").cast("timestamp"))
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), window_), col("SENTIMENT_LABEL"))
      .count()
      .select(col("window.start").as("window_start"),
        col("SENTIMENT_LABEL"), col("count"))

  /** Stream→lake sink, EXACTLY-ONCE: each micro-batch lands through the
    * lake stream sink's one landing path
    * ([[newspipe.io.source.LakeStreamSink]]) — a ledger-fenced
    * `STREAMING APPEND` commit keyed by `(checkpoint, batchId)`, so an
    * at-least-once foreachBatch replay, or a rerun under a reset
    * checkpoint, never lands a row twice. A layer with no commit gets an
    * empty first one partitioned by `partitionBy`; a flat layer holding
    * data is refused (convert it first). Returns the started query;
    * caller owns lifecycle.
    */
  def writeToLake(silverStream: DataFrame, lake: newspipe.io.Lake,
      layer: String, partitionBy: Seq[String] = Seq("COUNTRY"),
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    silverStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        LakeStreamSink.landBatch(lake, layer, partitionBy, Some(checkpoint),
          id, batch)
      }
      .start()

  /** Streaming CDC upsert sink: each micro-batch MERGEs into a
    * snapshot-managed layer by key ([[newspipe.io.Lake.mergeInto]]) —
    * matched rows replaced, new keys inserted, only key-overlapping files
    * rewritten. mergeInto refuses ambiguous duplicate-key sources, so the
    * batch is first collapsed to one row per key: by max `seqCol` when
    * given (the CDC "latest version wins" contract — use the source's
    * sequence/timestamp column), else an arbitrary representative
    * (`dropDuplicates` — only sound when a batch can't carry two versions
    * of one key).
    *
    * Replay safety without a batch-id ledger: foreachBatch is
    * at-least-once, and re-merging an identical batch is a fixpoint — every
    * key now matches and is replaced with the values it already has — so
    * the landed layer converges to exactly-once CONTENT even when the
    * callback fires twice. (Contrast [[writeToLake]], which needs the
    * `(appId, batchId)` txn ledger precisely because blind appends are
    * NOT idempotent.) A crash mid-merge is also safe: the
    * snapshot commit is atomic, so the layer holds either the pre-batch or
    * post-batch state, never half.
    */
  def upsertToLake(stream: DataFrame, lake: newspipe.io.Lake,
      layer: String, keys: Seq[String], checkpoint: String,
      seqCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = seqCol match {
          case Some(s) =>
            // latest-per-key via one struct-max aggregate (seq leads the
            // struct, so max orders by it); no window sort needed
            val cols = batch.columns.toSeq
            batch.groupBy(keys.map(col): _*)
              .agg(max(struct((col(s) +: cols.filterNot(keys.contains)
                .filterNot(_ == s).map(col)): _*)).as("__w"))
              .select(keys.map(col) ++
                (s +: cols.filterNot(keys.contains).filterNot(_ == s))
                  .map(c => col(s"__w.$c").as(c)): _*)
              .select(cols.map(col): _*)
          case None => batch.dropDuplicates(keys)
        }
        lake.mergeInto(layer, deduped, keys, requireUniqueKeys = false); ()
      }
      .start()

  /** Generic windowed event counts (tumbling or sliding) with watermarked
    * late-data handling — the events-table streaming workload.
    * `ts` is a timestamp column name; slide == size ⇒ tumbling.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String,
      keyCol: String, size: String = "1 hour", slide: Option[String] = None,
      watermark: String = "2 hours"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), size, s)
      case None    => window(col(tsCol), size)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win, col(keyCol))
      .count()
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("count"))
  }
}
