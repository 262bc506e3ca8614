package newspipe.io.source

import newspipe.io.{Lake, LakeConfig}
import org.apache.spark.sql.{DataFrame, NewspipeSqlBridge, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming CHANGE FEED over a lake layer — the consume side of the CDC
  * story ([[newspipe.streaming.StreamingSilver.upsertToLake]] produces,
  * this reads): `spark.readStream.format("newspipe.io.source.
  * LakeChangeSource").option("basePath", ...).option("layer", ...)` emits
  * each committed snapshot's row-level delta as it commits, rows tagged
  * `_change_type` = `insert` | `delete` (an update is one of each — the
  * same CDF shape Delta's `readChangeFeed` exposes).
  *
  * Offsets are committed version ids (zero-padded millis — lexicographic
  * = time order, so offset progression IS the snapshot lineage, restart-
  * safe through the checkpoint). Each micro-batch is
  * [[newspipe.io.Lake.diff]] between consecutive polled versions: only the
  * two snapshots' symmetric-difference files are read, so a batch costs
  * ~2× the touched fraction — incremental consumption stays proportional
  * to change volume, not layer size, which is the property that matters
  * when the layer is 100 TB and a delete touched 1% of it.
  *
  * Options:
  *  - `startingVersion`: `earliest` (default) replays the OLDEST retained
  *    snapshot as inserts and then every delta after it; `latest` starts
  *    from the current snapshot (deltas only, no initial load); an
  *    explicit version id starts right after that version.
  *  - `startingTimestamp`: epoch millis; resolves to the snapshot the
  *    table had at that instant (exactly [[Lake.resolveVersionAt]], the
  *    `readAsOf` rule) and starts right after it — mutually exclusive
  *    with `startingVersion`.
  *  - `maxVersionsPerTrigger`: admission control (Delta's
  *    `maxFilesPerTrigger` role at this source's natural granularity):
  *    each micro-batch advances at most N committed versions; with N=1
  *    every batch is exactly one commit's delta. Holds from the FIRST
  *    trigger: fresh starts anchor at the starting version, restarts are
  *    primed through `commit`/`getBatch` replay before the first poll.
  *  - `maxBytesPerTrigger`: byte-based admission (Delta's option of the
  *    same name): admit whole commits until their ADDED-file bytes (from
  *    each commit's version dir — carried files were admitted with their
  *    own commits) would exceed the cap; always at least one commit, so
  *    a single over-budget commit still makes progress. Both caps may be
  *    set; whichever trips first bounds the batch.
  *  - `Trigger.AvailableNow`: the source latches the layer head at query
  *    start and drains exactly to it in admission-capped batches, then
  *    stops — the 100 TB backfill pattern ("process everything, bounded
  *    batches, then stop"). Implemented natively so the caps keep
  *    applying per batch (Spark's generic v1 wrapper would latch one
  *    capped offset and stop after a single batch).
  *  - `keyColumns` (csv): four-tag CDF — per commit, a key present on
  *    both sides surfaces as `update_preimage`/`update_postimage`
  *    instead of delete+insert ([[Lake.changeFeedKeyed]] semantics,
  *    classified per commit even when one batch spans several commits).
  *  - `trackedFeed=true` (row-tracking layers): four-tag CDF attributed
  *    by STABLE ROW IDS with no key declaration —
  *    [[Lake.changeFeedTracked]] per commit; every emitted row carries
  *    `_row_id`, update pre/post images share one id, and compactions
  *    are feed-invisible. Mutually exclusive with `keyColumns`. The
  *    initial load emits `readVersionWithRowIds` rows as inserts, so a
  *    downstream materialization can key its state by `_row_id` from
  *    the first batch.
  *
  * Vacuum contract: consumers must keep up faster than retention reclaims
  * versions — a diff against a vacuumed version fails loudly (same as
  * Delta's data-retention streaming failure), never silently skips.
  *
  * DSv1 `Source` (getOffset/getBatch) rather than DSv2 MicroBatchStream,
  * deliberately: getBatch returns a DataFrame, letting the batch reuse
  * Spark's own vectorized parquet scan over the diff's file list — the
  * pattern Delta's streaming source uses — where a DSv2 PartitionReader
  * would mean hand-rolling parquet record materialization.
  */
class LakeChangeSource extends StreamSourceProvider {

  private def layerOf(parameters: Map[String, String]): (String, String) = {
    val base = parameters.getOrElse("basePath", throw new IllegalArgumentException(
      "LakeChangeSource requires option 'basePath' (the lake root)"))
    val layer = parameters.getOrElse("layer", throw new IllegalArgumentException(
      "LakeChangeSource requires option 'layer'"))
    // validated here (sourceSchema runs at load(), synchronously) so the
    // conflict surfaces at stream BUILD time, not as an async query error
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "options 'startingVersion' and 'startingTimestamp' are mutually " +
        "exclusive — they both pick the stream's starting snapshot")
    (base, layer)
  }

  private def trackedOf(parameters: Map[String, String]): Boolean = {
    val tracked = parameters.get("trackedFeed").exists(_.toBoolean)
    require(!tracked || !parameters.get("keyColumns").exists(_.nonEmpty),
      "options 'trackedFeed' and 'keyColumns' are mutually exclusive — " +
        "tracked feeds attribute updates by row id, not declared keys")
    // skipChangeCommits is the PLAIN-ROWS posture (Delta's option): this
    // source's own surface is the change feed, which exists to carry
    // changes — only the rows-only wrapper (LakeStreamSink, which sets
    // the internal plain-rows marker) may pass it through
    require(!parameters.get("skipChangeCommits").exists(_.toBoolean) ||
        parameters.get(LakeChangeSource.PlainRowsMarker).exists(_.toBoolean),
      "skipChangeCommits applies to plain-rows table streams " +
        "(readStream.format(\"lake\")/readStream.table WITHOUT " +
        "readChangeFeed) — a change feed exists to carry changes")
    tracked
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (base, layer) = layerOf(parameters)
    val lake = new Lake(sqlContext.sparkSession, LakeConfig(basePath = base))
    val tracked = trackedOf(parameters)
    // fail at load() time, not asynchronously on the stream thread
    if (tracked) require(lake.rowTrackingEnabled(layer),
      s"trackedFeed=true needs row tracking on layer '$layer' — " +
        "enableRowTracking first (or use keyColumns)")
    (providerName, LakeChangeSource.cdfSchema(lake.layerSchema(layer),
      tracked = tracked))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (base, layer) = layerOf(parameters)
    new LakeChangeStream(sqlContext.sparkSession, base, layer, metadataPath,
      parameters.getOrElse("startingVersion", "earliest"),
      parameters.get("startingTimestamp").map(_.toLong),
      parameters.get("maxVersionsPerTrigger").map { v =>
        val n = v.toInt
        require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
        n
      },
      parameters.get("maxBytesPerTrigger").map { v =>
        val n = v.toLong
        require(n >= 1, s"maxBytesPerTrigger must be >= 1, got $n")
        n
      },
      parameters.get("keyColumns").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      tracked = trackedOf(parameters),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean))
  }
}

object LakeChangeSource {
  val ChangeTypeCol = "_change_type"

  /** Internal option the plain-rows wrapper ([[LakeStreamSink]]) sets so
    * `skipChangeCommits` is accepted — never user-facing.
    */
  val PlainRowsMarker = "__plainRows"

  def cdfSchema(layerSchema: StructType,
      tracked: Boolean = false): StructType = {
    val dataFields =
      if (!tracked) layerSchema.fields
      else layerSchema.fields :+ StructField(Lake.RowIdCol,
        org.apache.spark.sql.types.LongType, nullable = true)
    StructType(dataFields :+ StructField(ChangeTypeCol, StringType,
      nullable = false))
  }
}

/** One [[LakeChangeSource]] stream instance. Offset json = version id.
  *
  * Implements [[SupportsTriggerAvailableNow]] natively (rather than
  * letting Spark's `AvailableNowSourceWrapper` latch around it): the
  * wrapper would latch the CAPPED offset [[getOffset]] returns and stop
  * after one batch, whereas the standard backfill contract — "process the
  * whole backlog in rate-limited batches, then stop" — needs the latch at
  * the drain TARGET with admission still applied per batch. A 100 TB CDF
  * catch-up run is exactly this: `maxBytesPerTrigger` bounds each batch's
  * scan volume, `Trigger.AvailableNow` bounds the run.
  */
private[source] class LakeChangeStream(spark: SparkSession, basePath: String,
    layer: String, metadataPath: String,
    startingVersion: String, startingTimestamp: Option[Long],
    maxVersionsPerTrigger: Option[Int], maxBytesPerTrigger: Option[Long],
    keyColumns: Seq[String], tracked: Boolean = false,
    skipChangeCommits: Boolean = false)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(!skipChangeCommits || (keyColumns.isEmpty && !tracked),
    "skipChangeCommits applies to PLAIN-ROWS streams (the change-feed " +
      "surfaces exist to carry changes, not skip them)")

  private val lake = new Lake(spark, LakeConfig(basePath = basePath))
  private val layerSchema = lake.layerSchema(layer)
  override val schema: StructType =
    LakeChangeSource.cdfSchema(layerSchema, tracked)
  /** Data columns each emitted row carries (the schema minus the tag):
    * a tracked feed surfaces `_row_id` as a first-class column.
    */
  private val dataCols: Seq[String] =
    schema.fieldNames.toSeq.filterNot(_ == LakeChangeSource.ChangeTypeCol)
  if (tracked) require(lake.rowTrackingEnabled(layer),
    s"trackedFeed=true needs row tracking on layer '$layer' — " +
      "enableRowTracking first (or use keyColumns)")

  private case class VersionOffset(version: String) extends V1Offset {
    override def json: String = version
  }
  private def versionOf(o: V1Offset): String = o.json

  /** Version the FIRST batch diffs from; None = replay the oldest retained
    * snapshot in full. Resolved once per CHECKPOINT and kept under the
    * source's metadata path, as KafkaSource keeps its initial offsets:
    * "latest" must pin what "current" meant at the first start. A restart
    * re-initialises the last committed batch with `getBatch(None, end)`,
    * and a base re-resolved then (newer than `end`) would reverse that
    * batch's range.
    */
  private val baseVersion: Option[String] = {
    val file = new org.apache.hadoop.fs.Path(metadataPath, "startingVersion")
    val f = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(file)) {
      val in = f.open(file)
      try Some(new String(in.readAllBytes(), "UTF-8")).filter(_.nonEmpty)
      finally in.close()
    }
    else {
      val resolved = startingTimestamp match {
        case Some(ts) => Some(lake.resolveVersionAt(layer, ts))
        case None => startingVersion match {
          case "earliest" => None
          case "latest" => lake.listVersions(layer).headOption
          case v =>
            require(lake.listVersions(layer).contains(v),
              s"startingVersion '$v' is not a committed snapshot of " +
                s"'$layer' (known: ${lake.listVersions(layer).mkString(", ")})")
            Some(v)
        }
      }
      // temp + rename: a crash mid-write never leaves a torn start
      val tmp = new org.apache.hadoop.fs.Path(metadataPath,
        s".startingVersion-${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(resolved.getOrElse("").getBytes("UTF-8"))
      finally out.close()
      if (!f.rename(tmp, file)) throw new java.io.IOException(
        s"lake change feed: could not record the stream's start at $file")
      resolved
    }
  }

  /** End version of the last batch served in-process — [[getOffset]]'s
    * fallback anchor if anything still drives this source through the
    * plain v1 poll (the admission-control path below receives the start
    * offset from Spark directly and needs no memory).
    */
  @volatile private var lastEnd: Option[String] = None

  /** Drain target latched by `Trigger.AvailableNow` at query start: the
    * run processes up to exactly this version (in admission-capped
    * batches) and stops; commits landing after the latch wait for the
    * next run. Outer None = not an AvailableNow run; `Some(None)` = the
    * latch fired on an EMPTY layer — the backlog at query start is
    * nothing, so the drain admits nothing (falling through to "no latch"
    * here would process commits that land mid-run, violating the
    * process-exactly-the-backlog contract).
    */
  @volatile private var availableNowTarget: Option[Option[String]] = None

  /** Idle-trigger counter driving the periodic authoritative-listing
    * confirmation of the O(1) fast path (see [[cappedEnd]]). */
  private val idleFastPathHits = new java.util.concurrent.atomic.AtomicLong(0L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(lake.listVersions(layer).headOption)

  /** Bytes a commit ADDED: the data files physically inside its version
    * dir (carried files live in older dirs and were admitted with their
    * own commits). One listing per version, driver-side, cached — the
    * byte cap's accounting cost is O(new files), not O(layer).
    */
  private val incrementBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def incrementBytes(version: String): Long =
    incrementBytesCache.computeIfAbsent(version, { v =>
      val dir = new org.apache.hadoop.fs.Path(s"$basePath/$layer/_v/$v")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var sum = 0L
      if (f.exists(dir)) {
        newspipe.io.FsListing.filesRecursive(f, dir).foreach { st =>
          if (st.isFile && !st.getPath.getName.startsWith("_"))
            sum += st.getLen
        }
      }
      java.lang.Long.valueOf(sum)
    }).longValue()

  /** The admission decision shared by both poll surfaces: from `anchor`
    * (None = pre-initial-load), admit committed versions ascending until
    * either cap trips — always at least one (Delta's soft-cap posture: a
    * single over-budget commit must still make progress) — never past the
    * AvailableNow latch. None = no versions at all.
    */
  private def cappedEnd(anchor: Option[String]): Option[String] = {
    // O(1) IDLE fast path: when the (fail-closed, pointer-first) head
    // resolution says nothing committed past the anchor, the trigger is
    // empty — skip the full-history listing. A steady-state idle stream's
    // per-trigger cost becomes one pointer read + one cached marker
    // probe, not an O(versions-dir) LIST. The pointer order guarantees
    // THIS build's writers never leave a stale-but-committed pointer
    // (pointer lands before the marker, and a failed pointer write either
    // deletes `_LAST` or aborts the commit — see Lake.writeHeadPointer),
    // so for same-build writers the shortcut can never skip a commit.
    // Two residual defenses against FOREIGN/old-build writers whose crash
    // window could leave a stale pointer that still verifies:
    //  - an AvailableNow run whose latched drain target (resolved by the
    //    authoritative LISTING at query start) is still ahead of the
    //    anchor never takes the shortcut — the run must reach its target
    //    even if the pointer lags, or it would terminate mid-backlog;
    //  - a continuous stream lets every 64th idle trigger fall through to
    //    the authoritative listing, bounding any foreign-writer staleness
    //    to 63 triggers while keeping the amortized cost O(listing/64).
    anchor.foreach { a =>
      val drainSatisfied = availableNowTarget match {
        case Some(Some(target)) => target == a
        case Some(None) => true
        case None => true
      }
      if (drainSatisfied && idleFastPathHits.incrementAndGet() % 64L != 0L &&
          lake.headVersion(layer).contains(a)) return Some(a)
    }
    val newestFirst = lake.listVersions(layer)
    if (newestFirst.isEmpty) return None
    val asc = newestFirst.reverse
    // AvailableNow: never poll past the latched drain target. A latched
    // target that was VACUUMED mid-run clamps to the newest version still
    // ≤ it (version ids are zero-padded time — lexicographic is commit
    // order), never to the live head: falling forward would process
    // commits that landed after query start, silently breaking the
    // process-exactly-the-backlog contract. If every version ≤ the target
    // is gone the drain's entire remaining range was reclaimed — fail
    // loudly like getBatch's reversed-range check (the vacuum contract).
    val headIdx = availableNowTarget match {
      case Some(None) => return anchor // latched on empty layer: admit nothing
      case Some(Some(target)) =>
        val exact = asc.indexOf(target)
        if (exact >= 0) exact
        else {
          val clamped = asc.lastIndexWhere(_ <= target)
          require(clamped >= 0,
            s"lake change feed: AvailableNow drain target $target and " +
              "every earlier version were vacuumed mid-run — the " +
              "checkpointed backlog no longer exists; restart the query")
          clamped
        }
      case None => asc.size - 1
    }
    val anchorIdx = anchor.map(asc.indexOf).getOrElse(-1)
    val end =
      if (anchor.isDefined && anchorIdx < 0) {
        // anchor already vacuumed: advancing blind could reverse the
        // range; serve the drain head and let getBatch's diff fail loudly
        // if the start was reclaimed too (the vacuum contract)
        asc(headIdx)
      } else if (maxVersionsPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) {
        asc(math.max(headIdx, math.max(anchorIdx, 0)))
      } else {
        var i = anchorIdx
        var bytes = 0L
        var done = false
        while (!done && i < headIdx) {
          val next = i + 1 // pin BEFORE mutating i — nextBytes is lazy
          val admitted = i - anchorIdx
          val countOk = maxVersionsPerTrigger.forall(n => admitted < n)
          lazy val nextBytes = incrementBytes(asc(next))
          val bytesOk = admitted == 0 ||
            maxBytesPerTrigger.forall(b => bytes + nextBytes <= b)
          if (countOk && bytesOk) {
            bytes += (if (maxBytesPerTrigger.isDefined) nextBytes else 0L)
            i = next
          } else done = true
        }
        asc(math.max(i, 0))
      }
    Some(end)
  }

  /** Sentinel for "before the initial load" (earliest-start streams have
    * no base version to anchor at) — sorts before every real version id,
    * and never escapes into the offset log (only [[latestOffset]]'s
    * return values are persisted, and it never returns the sentinel).
    */
  private val PreInitial = ""

  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(baseVersion.getOrElse(PreInitial))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The admission-control poll (Spark drives THIS, not [[getOffset]],
    * because the class declares SupportsAdmissionControl): `start` is the
    * exact restored/previous offset, so the caps hold from the first
    * trigger of a fresh start AND of a restart — no best-effort caveat.
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    // Spark's v1-source admission path passes the PREVIOUS offset or null
    // on a fresh start — it never consults initialOffset() here, so the
    // fresh-start anchor must fall back to the stream's base version or a
    // capped `startingVersion=latest/…` stream would admit from the
    // OLDEST retained version and serve a reversed (delete-tagged) diff.
    val anchor = Option(start).map(_.json).filter(_ != PreInitial)
      .orElse(baseVersion)
    cappedEnd(anchor).map(VersionOffset(_)).orNull
  }

  override def getOffset: Option[V1Offset] =
    cappedEnd(lastEnd.orElse(baseVersion)).map(VersionOffset(_))

  /** Conform a delta leg to the DECLARED stream schema: a streaming
    * source's schema is fixed at query start, but the layer's can evolve
    * mid-stream (schema-evolving merge/append). Columns the leg predates
    * pad with null; columns an evolution ADDED after stream start are
    * projected away until the consumer restarts — the restart re-resolves
    * the schema and sees them (Delta's contract, minus the hard failure).
    */
  private def conform(df: DataFrame,
      changeType: String): DataFrame =
    conformTagged(df.withColumn(LakeChangeSource.ChangeTypeCol,
      lit(changeType)))

  /** [[conform]] for frames that already CARRY a per-row `_change_type`
    * (the keyed four-tag feed).
    */
  private def conformTagged(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit => flit}
    val padded = schema.fields
      .filterNot(_.name == LakeChangeSource.ChangeTypeCol)
      .foldLeft(df)((d, f) =>
        if (!d.columns.contains(f.name))
          d.withColumn(f.name, flit(null).cast(f.dataType))
        // a mid-stream REPLACE/widening can change a KEPT column's type:
        // the declared stream schema is fixed at query start, so the leg
        // casts back to it (unconvertible values fail loudly under ANSI —
        // better than handing the sink a mistyped frame)
        else if (d.schema(d.schema.fieldIndex(f.name)).dataType
            != f.dataType)
          d.withColumn(f.name, col(s"`${f.name}`").cast(f.dataType))
        else d)
    padded.select((dataCols.map(col) :+
      col(LakeChangeSource.ChangeTypeCol)): _*)
  }

  /** The delta between two committed versions, tagged: row-id-attributed
    * four tags when `trackedFeed` is set, the keyed four-tag
    * classification when `keyColumns` is set (per commit, even across a
    * multi-commit batch), the plain insert/delete pair otherwise.
    */
  private def delta(fromV: String, endV: String): DataFrame =
    if (tracked)
      conformTagged(lake.changeFeedTracked(layer, fromV, endV))
    else if (keyColumns.nonEmpty)
      conformTagged(lake.changeFeedKeyed(layer, fromV, endV, keyColumns))
    else if (skipChangeCommits) {
      // Delta's skipChangeCommits: COMMIT granularity — a commit whose
      // diff contains ANY delete (update/delete/merge rewrite) is
      // skipped WHOLE, so an update's post-image can never leak into an
      // append-only consumer as a duplicate insert. One diff per commit
      // (the batch's commit count is admission-bounded); the emptiness
      // probe reads only the commit's symmetric-difference files.
      val asc = lake.listVersions(layer).reverse
        .filter(v => v > fromV && v <= endV)
      val steps = (fromV +: asc).zip(asc)
      val legs = steps.map { case (a, b) =>
        // declared-maintenance commits (OPTIMIZE/REORG) contribute
        // nothing by contract — skip them WITHOUT the emptiness-probe
        // diff, which for a compaction reads two full snapshots just to
        // cancel (round 19; same gate as Lake.feedSteps)
        if (lake.maintenanceCommit(layer, b))
          conform(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            layerSchema), "insert")
        else {
          val (ins, del) = lake.diff(layer, a, b)
          if (del.isEmpty) conform(ins, "insert")
          else conform(ins.limit(0), "insert") // change commit: skip whole
        }
      }
      legs.reduceOption(_.unionByName(_)).getOrElse(
        conform(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          layerSchema), "insert"))
    } else {
      val (inserted, deleted) = lake.diff(layer, fromV, endV)
      conform(inserted, "insert").unionByName(conform(deleted, "delete"))
    }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endV = versionOf(end)
    // version ids are zero-padded time — lexicographic IS commit order. A
    // reversed range can only mean offset state diverged from the layer
    // (e.g. a checkpoint from a different layer): fail loudly, a reversed
    // diff would silently invert inserts and deletes.
    start.map(versionOf).foreach(s => require(s <= endV,
      s"lake change feed: batch range reversed ($s → $endV) — the " +
        "checkpoint's offsets do not match this layer's history"))
    lastEnd = Some(endV)
    val batch: DataFrame = start.map(versionOf).orElse(baseVersion) match {
      case Some(fromV) if fromV == endV =>
        conform(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], layerSchema),
          "insert")
      case Some(fromV) =>
        delta(fromV, endV)
      case None =>
        // initial load: the OLDEST retained snapshot as inserts, plus the
        // delta up to this batch's end version when more snapshots
        // committed before the first poll — the batch must cover
        // everything at or before `end`, not just the oldest state
        val oldest = lake.listVersions(layer).last
        val initialRows =
          if (tracked) lake.readVersionWithRowIds(layer, oldest)
          else lake.readVersion(layer, oldest)
        val initial = conform(initialRows, "insert")
        if (oldest == endV) initial
        else initial.unionByName(delta(oldest, endV))
    }
    NewspipeSqlBridge.streamingDataFrame(batch)
  }

  override def stop(): Unit = ()
}
