package newspipe.io.source

import newspipe.StageBoundary.Ops
import newspipe.io.{Lake, LakeConfig}
import org.apache.spark.sql.{DataFrame, NewspipeSqlBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink,
  Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Streaming SINK into a lake layer — the produce side the change source
  * consumes: `silver.writeStream.format("lake").option("basePath", ...)
  * .option("layer", ...)` (or `.option("path", "<lakeBase>/<layer>")`,
  * or `.toTable("lake.….docs")` — [[newspipe.io.LakeTable]] implements the
  * same v1 `Sink` contract).
  *
  * DSv1 `StreamSinkProvider` rather than a DSv2 `StreamingWrite`,
  * deliberately and for the same reason [[LakeChangeSource]] is DSv1 on
  * the read side: `Sink.addBatch` receives the WHOLE micro-batch as a
  * DataFrame, so landing it reuses Spark's own parquet write path and the
  * lake's existing commit protocol — a DSv2 `StreamingDataWriterFactory`
  * would mean hand-rolling per-task parquet materialization for zero
  * benefit at this sink's commit granularity.
  *
  * One landing mechanism: each micro-batch is one [[Lake.appendAtomic]]
  * commit carrying a stream-txn ledger entry `(appId, batchId)` — Delta's
  * txn appId/version exactly. At-least-once replays (restart from an
  * older checkpoint epoch, foreachBatch-style retries) are FENCED: a
  * batch whose id is ≤ the ledger's latest for this appId is skipped, so
  * the layer converges to exactly-once content. Constraints, schema
  * evolution, optimizeWrite and partition layout all apply — it is the
  * same commit path batch appends take.
  *
  * A layer with no commit yet first gets an empty one, the way
  * `CREATE TABLE … PARTITIONED BY` creates a table (the sink's
  * `partitionBy` becomes the declared `lake.partitionBy` when none is
  * declared); every batch, the first included, is then a fenced
  * `STREAMING APPEND`. A layer holding data files but no commit (a flat
  * `Lake.write` layer) is refused: committing over it would hide the
  * files. `CONVERT TO LAKE` adopts such a layer first.
  *
  * `appId` resolution (stable across restarts, distinct across queries):
  * explicit `txnAppId` option > `checkpointLocation` option (one
  * checkpoint = one logical query, Spark enforces single ownership) >
  * the streaming query id parsed from the execution thread name >
  * constant. Append output mode only — aggregations should land through
  * `foreachBatch` + [[newspipe.streaming.StreamingSilver.upsertToLake]].
  *
  * Scale: each trigger is one bounded commit; O(batch) work, O(1) ledger
  * read per trigger (newest-first walk stops at the sink's own last
  * commit, which is usually the head). Nothing driver-side but metadata.
  */
class LakeStreamSink extends StreamSinkProvider with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "lake"

  // ---- source half: `readStream.format("lake")`, and the resolver of
  // ---- `readStream.table`'s V1 FALLBACK (LakeTable.v1Table carries
  // ---- provider = "lake", so FindDataSourceTable builds THIS source).
  // ---- Default posture = plain table rows at ROW granularity: delete
  // ---- legs drop and an UPDATE's post-image emits as an insert —
  // ---- consumers that key their state see the newest values, but an
  // ---- APPEND-ONLY consumer would duplicate updated rows; set
  // ---- skipChangeCommits=true for Delta's COMMIT-granular contract (a
  // ---- commit containing any change contributes nothing). Option
  // ---- readChangeFeed=true surfaces the tagged CDF; trackedFeed=true
  // ---- the row-id-attributed CDF — all thin wrappers over
  // ---- LakeChangeSource, which owns offsets/versions/admission.

  /** The v1-fallback path (DataSourceUtils.generateDatasourceOptions)
    * LOWERCASES every option key before they reach a provider — re-key
    * the inner source's camelCase option names or `startingVersion` and
    * friends silently revert to defaults.
    */
  private def normalized(parameters: Map[String, String])
      : Map[String, String] = {
    val (base, layer) = LakeStreamSink.target(parameters)
    val canon = Map(
      "startingversion" -> "startingVersion",
      "startingtimestamp" -> "startingTimestamp",
      "maxversionspertrigger" -> "maxVersionsPerTrigger",
      "maxbytespertrigger" -> "maxBytesPerTrigger",
      "keycolumns" -> "keyColumns",
      "trackedfeed" -> "trackedFeed",
      "skipchangecommits" -> "skipChangeCommits")
    val rekeyed = parameters.map { case (k, v) =>
      canon.getOrElse(k.toLowerCase(java.util.Locale.ROOT), k) -> v
    }
    rekeyed ++ Map("basePath" -> base, "layer" -> layer) ++
      // plain-rows streams may skip change commits; the CDF surfaces
      // refuse the option (the inner source checks the marker)
      (if (wantsCdf(parameters)) Map.empty[String, String]
       else Map(LakeChangeSource.PlainRowsMarker -> "true"))
  }

  private def wantsCdf(parameters: Map[String, String]): Boolean =
    parameters.exists { case (k, v) =>
      // a tracked feed IS a change feed — asking for row-id attribution
      // implies the tagged surface, with or without readChangeFeed
      (k.equalsIgnoreCase("readChangeFeed") ||
        k.equalsIgnoreCase("trackedFeed")) && v.equalsIgnoreCase("true")
    }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (_, cdf) = new LakeChangeSource()
      .sourceSchema(sqlContext, schema, providerName, normalized(parameters))
    if (wantsCdf(parameters)) (shortName(), cdf)
    else (shortName(), StructType(cdf.fields
      .filterNot(_.name == LakeChangeSource.ChangeTypeCol)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val inner = new LakeChangeSource().createSource(sqlContext, metadataPath,
      schema, providerName, normalized(parameters))
    if (wantsCdf(parameters)) inner
    else new LakeStreamSink.InsertOnlySource(inner)
  }

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"lake sink supports Append output mode only (got $outputMode) — " +
        "update/complete aggregations should land via foreachBatch + " +
        "StreamingSilver.upsertToLake (keyed CDC merge)")
    val (base, layer) = LakeStreamSink.target(parameters)
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionBy").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
    // option("deduped", "true"): each micro-batch lands through
    // Lake.appendDeduped — ingest-time near-dedup against the persisted
    // dedup index, with the SAME (appId, batchId) replay fence; option
    // ("dedupIndex", name) picks the index when the layer declares
    // several, option("maxBucket", n) tunes the LSH skew cap
    def opt(name: String): Option[String] = parameters.get(name).orElse(
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v })
    val deduped = opt("deduped").exists(_.equalsIgnoreCase("true"))
    val dedupIndex = opt("dedupIndex").filter(_.nonEmpty)
    val maxBucket = opt("maxBucket").map(_.toInt).getOrElse(1000)
    new LakeStreamSink.LakeSink(base, layer, partCols, appId,
      deduped, dedupIndex, maxBucket)
  }
}

object LakeStreamSink {

  /** `basePath`+`layer` options, or `path` = `<lakeBase>/<layer>` (the
    * form `.start(path)` produces).
    */
  private[source] def target(params: Map[String, String]): (String, String) = {
    // case-insensitive lookups: keys arrive verbatim from writer options
    // but LOWERCASED through the catalog-table fallback path
    def opt(name: String): Option[String] = params.get(name).orElse(
      params.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v })
    (opt("basePath"), opt("layer").orElse(opt("table"))) match {
      case (Some(b), Some(l)) => (b.stripSuffix("/"), l)
      case _ => opt("path") match {
        case Some(p) =>
          val norm = p.stripSuffix("/")
          val i = norm.lastIndexOf('/')
          require(i > 0,
            s"lake sink option 'path' must be <lakeBase>/<layer>, got '$p'")
          (norm.substring(0, i), norm.substring(i + 1))
        case None => throw new IllegalArgumentException(
          "lake sink requires options 'basePath'+'layer' or " +
            "'path' = <lakeBase>/<layer>")
      }
    }
  }

  /** The streaming query id from the execution thread's name —
    * `addBatch` runs on StreamExecution's dedicated thread, named
    * `stream execution thread for ... [id = <uuid>, runId = <uuid>]`.
    * The id half persists in checkpoint metadata across restarts, which
    * is exactly the stability the txn ledger needs. Best-effort: None
    * when the naming convention changes (callers fall back to a
    * constant, correct for the single-writer-per-layer case).
    */
  private[source] def threadQueryId(): Option[String] = {
    val m = IdRe.findFirstMatchIn(Thread.currentThread().getName)
    m.map(_.group(1))
  }
  private val IdRe =
    "id = ([0-9a-fA-F-]{36})".r.unanchored

  /** Shared micro-batch landing core — see the class doc. Used by the
    * format("lake") sink, [[newspipe.io.LakeTable]]'s `toTable` and
    * [[newspipe.streaming.StreamingSilver.writeToLake]].
    */
  private[newspipe] def landBatch(lake: Lake, layer: String,
      partCols: Seq[String], appIdOpt: Option[String],
      batchId: Long, data: DataFrame, deduped: Boolean = false,
      dedupIndex: Option[String] = None, maxBucket: Int = 1000): Unit = {
    // rebind the incremental execution's rows as a batch frame — the
    // addBatch frame's logical plan still carries streaming leaves and
    // must not be re-planned (see NewspipeSqlBridge.batchDataFrame)
    val batch = NewspipeSqlBridge.batchDataFrame(data)
    // appendDeduped lands increments against a committed corpus with a
    // declared index, so a deduped sink never creates its layer; a
    // sink silently landing duplicates would betray the option
    if (deduped) require(lake.isSnapshotManaged(layer),
      s"lake sink option deduped=true: layer '$layer' is not " +
        "snapshot-managed — appendDeduped lands increments against a " +
        "committed corpus (writeAtomic + CREATE DEDUP INDEX first)")
    else createIfAbsent(lake, layer, batch.schema, partCols)
    val appId = appIdOpt.orElse(threadQueryId()).getOrElse {
      // Shared-constant fallback is only safe for a single writer per
      // layer: two distinct queries landing here would share one ledger
      // key and silently fence each other's micro-batches. Loud so the
      // operator sets txnAppId/checkpointLocation instead.
      Console.err.println(s"[lake] sink WARNING: layer '$layer' commit " +
        "falling back to the shared txn app id 'lake-stream' (no " +
        "txnAppId/checkpointLocation option, query id not recoverable " +
        "from the execution thread). Safe ONLY if this is the layer's " +
        "single streaming writer; set option(\"txnAppId\", ...) to fence " +
        "multiple writers correctly.")
      "lake-stream"
    }
    // the commit path may pass over the frame more than once (constraint
    // enforcement + the write) — pin the rows so the micro-batch is
    // computed exactly once
    if (deduped) {
      // appendDeduped owns BOTH fences — the (appId, batchId) txn ledger
      // skips whole replays before any dedup work, and the signature
      // passes shed near-duplicate rows; an all-duplicate batch commits
      // nothing (and so re-noops on replay)
      val pinned = batch.stageBoundary()
      try {
        val r = lake.appendDeduped(pinned, layer, dedupIndex,
          maxBucket = maxBucket, txn = Some((appId, batchId)))
        Console.err.println(s"[lake] sink deduped batch $batchId: " +
          s"landed=${r.landed} dropped_batch=${r.droppedInBatch} " +
          s"dropped_corpus=${r.droppedVsCorpus}")
      } finally { pinned.unpersist(); () }
    } else if (lake.txnVersion(layer, appId).exists(_ >= batchId)) {
      Console.err.println(s"[lake] sink skip: layer '$layer' already " +
        s"holds batch $batchId for app '$appId' (replay fenced)")
    } else {
      val pinned = batch.stageBoundary()
      try {
        if (!pinned.isEmpty)
          lake.appendAtomic(pinned, layer, txn = Some((appId, batchId)))
      } finally { pinned.unpersist(); () }
    }
  }

  /** Give a layer with no commit its first, empty one — the commit a
    * catalog `CREATE TABLE … PARTITIONED BY` makes — so the first batch
    * lands as a ledger-fenced append like every later one. A racing
    * creator that loses the parent check carries on over the winner's
    * commit. Refuses a layer whose data files no commit describes.
    */
  private def createIfAbsent(lake: Lake, layer: String,
      schema: StructType, partCols: Seq[String]): Unit =
    if (!lake.isSnapshotManaged(layer)) {
      require(!lake.hasFlatData(layer),
        s"lake sink: layer '$layer' holds data files but no committed " +
          "snapshot (a flat Lake.write layer); committing over it would " +
          "hide them — adopt it with CONVERT TO LAKE (Lake.convertToLake) " +
          "before streaming into it")
      // the sink's partitionBy, else a layout declared before the first
      // batch; the commit records it as lake.partitionBy, which carries
      // the layout of an empty commit (no k=v paths) to the first append
      val parts =
        if (partCols.nonEmpty) partCols else lake.declaredPartitionBy(layer)
      try lake.writeAtomicIfLatest(lake.emptyFrame(schema), layer,
        expectedParent = None, partitionBy = parts)
      catch { case _: java.util.ConcurrentModificationException => () }
    }

  private[io] final class LakeSink(base: String, layer: String,
      partCols: Seq[String], appId: Option[String],
      deduped: Boolean = false, dedupIndex: Option[String] = None,
      maxBucket: Int = 1000) extends Sink {
    override def addBatch(batchId: Long, data: DataFrame): Unit =
      landBatch(new Lake(data.sparkSession, LakeConfig(basePath = base)),
        layer, partCols, appId, batchId, data, deduped, dedupIndex,
        maxBucket)
    override def toString: String =
      s"LakeSink[$base/$layer${if (deduped) " deduped" else ""}]"
  }

  /** The insert-rows-only view over the tagged change stream — offsets,
    * version math and admission control all stay the inner source's;
    * each batch just filters to `insert` and drops the tag (Delta's
    * `skipChangeCommits` posture for plain-rows streaming reads).
    */
  private[io] final class InsertOnlySource(inner: Source) extends Source
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    // forward the AvailableNow latch — Spark's AvailableNowSourceWrapper
    // would otherwise latch the inner source's CAPPED offset and stop the
    // backfill after one batch instead of draining it
    override def prepareForTriggerAvailableNow(): Unit = inner match {
      case s: org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow =>
        s.prepareForTriggerAvailableNow()
      case _ => ()
    }
    // the admission-control trio forwards too — declaring the capability
    // reroutes Spark's poll from getOffset to latestOffset
    override def initialOffset()
        : org.apache.spark.sql.connector.read.streaming.Offset =
      inner.initialOffset()
    override def getDefaultReadLimit
        : org.apache.spark.sql.connector.read.streaming.ReadLimit =
      inner match {
        case s: org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl =>
          s.getDefaultReadLimit
        case _ =>
          org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
      }
    override def latestOffset(
        start: org.apache.spark.sql.connector.read.streaming.Offset,
        limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
        : org.apache.spark.sql.connector.read.streaming.Offset =
      inner match {
        case s: org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl =>
          s.latestOffset(start, limit)
        case _ => inner.getOffset.orNull
      }
    override val schema: StructType = StructType(inner.schema.fields
      .filterNot(_.name == LakeChangeSource.ChangeTypeCol))
    override def getOffset: Option[V1Offset] = inner.getOffset
    override def getBatch(start: Option[V1Offset], end: V1Offset)
        : DataFrame = {
      val tagged = inner.getBatch(start, end)
      tagged
        .filter(col(LakeChangeSource.ChangeTypeCol) === "insert")
        .select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
    }
    override def commit(end: V1Offset): Unit = inner.commit(end)
    override def stop(): Unit = inner.stop()
  }
}
