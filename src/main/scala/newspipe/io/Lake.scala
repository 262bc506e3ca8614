package newspipe.io

import newspipe.StageBoundary.Ops
import newspipe.model.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Lake reader/writer — the reference's `write_to_datalake` /
  * `write_to_datalake_and_hive` (_lib_dq_helpers.py:21-54,198-233) and its
  * `spark.read.format("delta").load` call sites, behind a format abstraction.
  *
  * The reference's storage format is Delta, but the Delta semantics it
  * exercises are batch read, append/overwrite write, and partitionBy — all
  * covered by Parquet + directory layout (SURVEY.md §2.1 S3). This build has
  * no Delta jars (zero-egress image), so `format` defaults to parquet. The
  * one Delta property a plain `mode("overwrite")` genuinely lacks — readers
  * never observing a half-written replacement — is provided by
  * [[Lake.writeAtomic]]'s snapshot protocol (below); time travel beyond
  * current-snapshot reads is not claimed.
  *
  * === Atomic overwrite protocol ===
  *
  * {{{
  * layer/_v/<version>/        — one complete snapshot per overwrite
  * layer/_v/<version>/_COMMITTED  — marker created AFTER the data; its
  *                                  content is the parent version id
  * layer/_v/_LAST             — best-effort head pointer (newest committed
  *                              version name), written inside the commit
  *                              lock immediately BEFORE the marker
  *                              (fail-closed: a crash between the two
  *                              leaves a pointer that fails the marker
  *                              probe, never a stale verified head);
  *                              readers verify-then-trust, so head
  *                              resolution is O(1) in commit count
  *                              (Delta's `_last_checkpoint` role)
  * }}}
  *
  * A snapshot write lands entirely under a fresh version directory and only
  * then creates the `_COMMITTED` marker — a single file creation, atomic in
  * visibility on local/HDFS semantics (and a single PUT on object stores),
  * deliberately NOT a rename-over-existing (HDFS refuses those, and
  * delete-then-rename opens a no-pointer window). Readers list `_v`, keep
  * committed versions only, and load the lexicographic max — so a reader
  * racing an overwrite sees the previous complete snapshot or the new one,
  * never a mix, never partial files. A crashed writer leaves an
  * uncommitted orphan directory that no reader ever resolves;
  * [[Lake.vacuum]] reclaims orphans and superseded snapshots (retention
  * contract: don't vacuum below what in-flight readers may still hold).
  *
  * Version ids are zero-padded millis + a random suffix: lexicographic
  * order = time order; two writers in the same millisecond resolve
  * arbitrarily (last committed wins on the next read), the same
  * last-writer-wins contract as Delta's blind overwrite.
  */
/** `collectStats`: land a [[FileStats]] `_STATS.json` sidecar (per-file
  * min/max/nullCount from the parquet footers) inside every committed
  * snapshot, enabling [[Lake.readWhere]] file pruning. Parquet-format
  * layers only; soft-fails to no-sidecar (pruning then degrades to a full
  * scan — never to a wrong answer).
  */
/** `manifestShardSize`: paths per manifest shard document (see
  * [[SnapshotManifest]]); the default keeps any single driver-side JSON
  * parse ≲ 3 MB however many files a row-op snapshot references.
  */
/** `checkpointInterval`: max consecutive INCREMENTAL (`_DELTA.json`)
  * commits before a full-manifest checkpoint is forced (see [[DeltaDoc]]);
  * bounds fold depth to a handful of small JSON reads. `1` disables
  * incremental commits entirely (every commit writes the full manifest —
  * pre-round-13 behavior). Overridable per layer via the
  * `lake.checkpointInterval` property.
  */
final case class LakeConfig(
    basePath: String,
    format: String = "parquet",
    database: String = "news_articles",
    collectStats: Boolean = true,
    manifestShardSize: Int = SnapshotManifest.DefaultShardSize,
    optimizeWrite: Boolean = false,
    checkpointInterval: Int = 20,
    /** File count above which [[Lake.enableRowTracking]]'s one-time
      * backfill counts footers with a SPARK JOB instead of a driver
      * thread pool — the 10⁶-file inventory path.
      */
    backfillJobThreshold: Int = 512,
    /** Minimum covered-artifact count for the dedup index's bucket-Bloom
      * pruning to run at all (round 19): computing a landing's probe-key
      * set is a Spark job (distinct + collect over the landing's
      * signatures) — a FIXED cost that pruning must pay back in skipped
      * artifact bodies. Below this many corpus artifacts the maximum
      * possible saving (every body skipped) is smaller than the probe
      * job itself, so the reader takes the unpruned path: read them all,
      * no probe job, no header misses. At the 10⁶-file scale the index
      * exists for, the threshold is invisible (always pruning); it only
      * disarms the machinery on corpora small enough that it could never
      * help. Pruning is an IO strategy — results are identical either
      * way.
      */
    dedupPruneMinArtifacts: Int = 64,
    /** Commit-coordination primitive for the [parent-check →
      * marker-create] critical section ([[CommitStore]]): the default
      * [[FsCommitStore]] is correct on local FS / HDFS (atomic exclusive
      * create); S3-class stores need a real coordinator plugged here —
      * the same storage caveat as Delta's LogStore.
      */
    commitStore: CommitStore = FsCommitStore,
    /** Change feeds skip commits whose `_OP` declares a data-invisible
      * maintenance rewrite (`OPTIMIZE` family / `REORG`) instead of
      * diffing them (round 19, guide §2/§6 — Delta parity: CDF skips
      * `dataChange=false` commits). A compaction rewrites EVERY live
      * file, so the per-commit feed walk would read two full snapshots
      * only to have the multiset difference cancel to zero rows — the
      * costliest possible no-op in a feed range, and pure waste at the
      * 100 TB maintenance cadence. The skip trusts the commit contract
      * the engine enforces elsewhere (compaction/REORG data-invisibility
      * is spec-pinned and in-query asserted); disable to force the
      * structural cancellation proof instead (results are identical —
      * LakeCdfSpec pins the parity).
      */
    cdfSkipMaintenance: Boolean = true)

final class Lake(spark: SparkSession, config: LakeConfig) {

  /** This lake's base path — cross-instance ops ([[cloneFrom]], the
    * vacuum pin walk) need a peer instance's root.
    */
  private[io] def basePathOf: String = config.basePath

  import org.apache.hadoop.fs.Path

  private def layerPath(layer: String): String =
    s"${config.basePath.stripSuffix("/")}/$layer"

  /** Resolve a manifest-relative path against its layer root. Plain rels
    * join directly; a `../<layer>/…` rel — the cross-layer reference a
    * shallow [[clone]] records — collapses TEXTUALLY (never a literal
    * `..` path segment on the filesystem), so every resolved path is
    * canonical and qualified-path comparisons (DV keys, stats keys, scan
    * identities) agree between a clone and its source layer. A
    * `base:<src layer root>//<rel>` ref — the CROSS-BASE form
    * [[cloneFrom]] records (Delta's absolute-path shallow clone) — keeps
    * the source layer root and the within-layer rel separated by `//`, so
    * resolution (and partition-discovery rooting, payload keying) never
    * has to guess where an absolute layer root ends.
    */
  private[io] def resolveRel(base: String, rel: String): String = {
    if (rel.startsWith(Lake.BaseRefPrefix)) {
      val (root, r) = Lake.splitBaseRef(rel)
      return s"$root/$r"
    }
    var b = base.stripSuffix("/")
    var r = rel
    while (r.startsWith("../")) {
      val cut = b.lastIndexOf('/')
      require(cut > 0, s"cross-layer ref '$rel' escapes above the lake base")
      b = b.substring(0, cut)
      r = r.substring(3)
    }
    s"$b/$r"
  }

  /** The within-source-layer rel of a cross-base `base:` ref (the part
    * after the `//` split) — what the SOURCE layer's own metadata (DV
    * payload documents) keys it by.
    */
  private def baseRefRel(rel: String): String = Lake.splitBaseRef(rel)._2

  /** The key a DV payload DOCUMENT records for a manifest rel: a foreign
    * (clone-carried) reference shares the `../<layer>/` or
    * `base:<root>//` prefix on BOTH sides of the dv map, but the payload
    * was written in the SOURCE layer and keys positions by
    * source-relative rels — strip the prefix for the lookup. (DV commits
    * can't LAND on layers carrying foreign refs — [[dvDelete]] refuses —
    * so payload keys are always source-layer-relative.)
    */
  private def payloadKeyOf(rel: String): String =
    if (rel.startsWith(Lake.BaseRefPrefix)) baseRefRel(rel)
    else if (rel.startsWith("../")) rel.split('/').drop(2).mkString("/")
    else rel

  /** The version-dir group key of a manifest rel path — `_v/<v>` for
    * same-layer refs, `../<layer>/_v/<v>` for cross-layer (clone) refs,
    * `""` for flat-layout paths. Reads and listings group by this key so
    * each referenced version dir costs ONE recursive listing (the
    * object-store-friendly shape) no matter how many files it holds.
    */
  private def versionDirOf(rel: String): String = {
    // cross-base refs group by the WITHIN-layer dir of their own source
    // root — the `//` split makes the root explicit, so a flat ref still
    // roots partition discovery at the source layer, not a leaf dir
    if (rel.startsWith(Lake.BaseRefPrefix)) {
      val (root, r) = Lake.splitBaseRef(rel)
      return s"${Lake.BaseRefPrefix}$root//${versionDirOf(r)}"
    }
    val segs = rel.split('/')
    val i = segs.indexOf("_v")
    if (i >= 0 && segs.length >= i + 2) segs.take(i + 2).mkString("/")
    // a FLAT cross-layer ref (clone of a convertToLake-adopted layer)
    // must group under the SOURCE layer's root, not this layer's — an
    // empty key would make readers list the clone's own base and report
    // the referenced files missing
    else if (rel.startsWith("../") && segs.length >= 2)
      segs.take(2).mkString("/")
    else ""
  }

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ref _lib:21-54: writer-builder with optional partitioning. Flat layout;
    * `overwrite` here is the plain non-atomic replace (a concurrent reader
    * can glimpse a partial layer) — use [[writeAtomic]] where that matters.
    *
    * Refuses to write a layer that is snapshot-managed: a flat append there
    * would be INVISIBLE to readers (they resolve the snapshot pointer and
    * Spark's listing hides `_`-prefixed dirs from flat reads), and a flat
    * overwrite would silently destroy the version history — both are data
    * loss wearing a success exit code.
    */
  def write(df: DataFrame, layer: String,
      partitionBy: Seq[String] = Nil, mode: String = "append"): String = {
    val path = layerPath(layer)
    requireFlatLayer(layer)
    var writer = df.write.format(config.format).mode(mode)
    if (partitionBy.nonEmpty) writer = writer.partitionBy(partitionBy: _*)
    writer.save(path)
    path
  }

  /** ATOMIC full replacement of a layer (see the protocol in the class doc):
    * write a complete new snapshot, then commit it with one marker-file
    * creation. Last-writer-wins between concurrent overwriters (Delta's
    * blind-overwrite contract); use [[writeAtomicIfLatest]] when a racing
    * writer must fail instead of silently winning. The marker records the
    * parent version (the newest committed snapshot when this write began) so
    * the snapshot lineage is auditable after the fact.
    * Returns the committed snapshot path.
    */
  def writeAtomic(df: DataFrame, layer: String,
      partitionBy: Seq[String] = Nil): String =
    writeSnapshot(df, layer, partitionBy, requireParent = None, op = "WRITE")

  /** The REPLACE TABLE commit: a [[writeAtomic]] overwrite labeled
    * `REPLACE TABLE` in history, with identity numbering RESTARTED from
    * the declared START (Delta's identity-reset-on-replace; row-tracking
    * watermarks do NOT restart — stable row ids stay history-unique).
    */
  def replaceAtomic(df: DataFrame, layer: String,
      partitionBy: Seq[String] = Nil): String =
    writeSnapshot(df, layer, partitionBy, requireParent = None,
      op = "REPLACE TABLE")

  /** Optimistic-concurrency overwrite: commits only if the layer's newest
    * committed snapshot is still `expectedParent` (`None` = the layer must
    * have no committed snapshot yet) at commit time. A writer that lost the
    * race gets a `ConcurrentModificationException` and its uncommitted
    * snapshot dir is removed — read-modify-write cycles (compaction, upsert
    * rewrites) can retry from the new state instead of silently clobbering a
    * concurrent commit.
    *
    * The check runs AFTER the data lands, immediately before the marker
    * creation, so the vulnerable window is one listing + one file create —
    * not the whole (possibly minutes-long) save. Two writers inside that
    * window can still both commit (no compare-and-swap primitive on a plain
    * filesystem; Delta needs a commit service for the same guarantee on S3)
    * — the recorded parent in each marker makes even that race detectable
    * after the fact: two siblings sharing a parent.
    */
  /** Optimistic-concurrency retry combinator: run a read-modify-write
    * `body` against this lake, re-running it FROM SCRATCH (so it re-reads
    * the new head) each time a concurrent writer wins the parent race.
    * This is the loop every caller of [[writeAtomicIfLatest]] / the row
    * ops writes by hand; bounded attempts keep a livelocked writer loud
    * instead of spinning. Exponential backoff with per-writer jitter (keyed
    * on the thread identity as well as the attempt, so two writers retrying
    * in lockstep compute DIFFERENT backoffs and de-synchronize).
    */
  def retryOnConflict[T](maxAttempts: Int = 5,
      baseBackoffMs: Long = 50L)(body: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val writerKey = Thread.currentThread().getId * 2654435761L
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw new java.util.ConcurrentModificationException(
            s"still conflicting after $maxAttempts attempts: ${e.getMessage}")
          Thread.sleep(baseBackoffMs * (1L << (attempt - 1)) +
            java.lang.Long.remainderUnsigned(
              writerKey + attempt * 7919L, baseBackoffMs))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def writeAtomicIfLatest(df: DataFrame, layer: String,
      expectedParent: Option[String], partitionBy: Seq[String] = Nil): String =
    writeSnapshot(df, layer, partitionBy, requireParent = Some(expectedParent),
      op = "WRITE")

  /** Fresh version id (zero-padded millis + random suffix) with the
    * ORDERING FLOOR: version names are the
    * lineage order (history, "newest", restore targets, the rebase re-id
    * all sort by name), so a writer whose clock runs BEHIND the writer
    * that committed the current head must not mint a name that sorts
    * below it — the new commit would silently not be "newest". Floor =
    * head's millis + 1: one O(1) head resolution per mint. The
    * [[commitMarker]] ordering guard backstops the race window between
    * this mint and the marker.
    */
  private def newVersionIdAfterHead(layer: String): String = {
    val headMs = latestSnapshot(layer)
      .flatMap(p => scala.util.Try(p.getName.take(16).toLong).toOption)
      .getOrElse(0L)
    f"${math.max(System.currentTimeMillis(), headMs + 1)}%016d-" +
      java.util.UUID.randomUUID().toString.take(8)
  }

  /** Delta's `optimizeWrite` for hive-partitioned commits. Without it,
    * every write TASK emits one file per partition value it holds —
    * tasks × values files per commit, the small-files problem that makes
    * a 1000-executor partitioned append produce 10⁵ slivers. With it, the
    * frame takes one AQE REBALANCE shuffle on the partition columns
    * first: Spark coalesces to ~advisory-size output partitions and
    * SPLITS skewed partition values across tasks (the declarative form of
    * [[compact]]'s full-row salt — no hand-sizing, the runtime statistics
    * decide). Enabled by the `lake.optimizeWrite=true` layer property
    * (Delta's `autoOptimize.optimizeWrite` shape, settable through
    * `ALTER TABLE … SET TBLPROPERTIES` / catalog CREATE TABLE props) or
    * the [[LakeConfig.optimizeWrite]] default; the property wins.
    * Unpartitioned frames pass through — their file count is the frame's
    * own partitioning, which callers already control.
    */
  private def maybeRebalance(df: DataFrame, layer: String,
      partCols: Seq[String]): DataFrame =
    if (partCols.isEmpty || !optimizeWriteEnabled(layer)) df
    else df.hint("rebalance", partCols: _*)

  private def optimizeWriteEnabled(layer: String): Boolean =
    properties(layer).get("lake.optimizeWrite")
      .map(_.trim.equalsIgnoreCase("true"))
      .getOrElse(config.optimizeWrite)

  private def writeSnapshot(df0: DataFrame, layer: String,
      partitionBy: Seq[String], requireParent: Option[Option[String]],
      op: String, prearranged: Boolean = false): String = {
    // identity allocation first (prearranged = internal rewrite: carried
    // values are data, not explicit inserts), then generated columns'
    // fill-or-validate (both projections are order-preserving on
    // prearranged frames — their values are already correct)
    val replace = op == "REPLACE TABLE"
    val dfId = applyIdentity(layer, applyDefaults(layer, df0),
      s"writeAtomic('$layer')",
      internalRewrite = prearranged, freshStart = replace)
    val dfGen = applyGenerated(layer, dfId, s"writeAtomic('$layer')")
    enforceConstraints(layer, dfGen, s"writeAtomic('$layer')")
    val tracking = rowTrackingEnabled(layer)
    val idCols = identityColumns(layer)
    require(!tracking || prearranged ||
      !df0.columns.exists(_.equalsIgnoreCase(Lake.RowIdCol)),
      s"writeAtomic('$layer'): '${Lake.RowIdCol}' is reserved on a " +
        "row-tracking layer (only internal rewrites carry it)")
    // compaction/Z-order callers pass deliberately-arranged frames — a
    // rebalance shuffle would destroy their clustering
    val df = if (prearranged) dfGen
      else maybeRebalance(dfGen, layer, partitionBy)
    // the logical schema NEVER records the hidden materialized row-id
    // column a compaction carries — it is physical-file state, like a
    // mapped physical name
    val recordedSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(_.name.equalsIgnoreCase(Lake.RowIdCol)))
    val snap = new Path(s"${layerPath(layer)}/_v/${newVersionIdAfterHead(layer)}")
    var writer = df.write.format(config.format).mode("errorifexists")
    if (partitionBy.nonEmpty) writer = writer.partitionBy(partitionBy: _*)
    writer.save(snap.toString)
    // An EMPTY partitioned save lands no parquet footer at all (Spark only
    // writes _SUCCESS when there are zero rows to place in partition
    // dirs) — record the declared schema in a bare manifest so the
    // committed snapshot reads as a schema-carrying empty frame (the
    // `files.isEmpty` manifest case) instead of failing schema inference.
    // This is how `CREATE TABLE … PARTITIONED BY` through [[LakeCatalog]]
    // commits its empty first version.
    if (partitionBy.nonEmpty && snapshotDirFilesRel(snap).isEmpty) {
      val out = fs(snap).create(new Path(snap, SnapshotManifest.FileName),
        false)
      try out.write(SnapshotManifest.toJson(
        SnapshotManifest(Nil, recordedSchema.toDDL)).getBytes("UTF-8"))
      finally out.close()
    }
    // ROW TRACKING / IDENTITY: an overwrite snapshot still carries a
    // manifest (the counters have to live somewhere) — fresh files
    // allocate from the PRIOR head's watermark so row ids stay
    // history-unique, and identity highs advance from the new files'
    // column stats; materialized row ids a prearranged compaction
    // carried win over the fresh ranges at read (coalesce order in
    // [[withRowIdsFrame]])
    if ((tracking || idCols.nonEmpty) && snapshotDirFilesRel(snap).nonEmpty) {
      val rels = snapshotDirFilesRel(snap).map(s"_v/${snap.getName}/" + _)
      val priorM = latestSnapshot(layer).flatMap(manifestOf)
      val newStats = FileStats.collectResolved(
        spark.sparkContext.hadoopConfiguration,
        rels.map(r => r -> new Path(resolveRel(layerPath(layer), r))))
      var wm = priorM.map(_.rowWatermark).getOrElse(0L)
      val bases: Map[String, Long] = if (!tracking) Map.empty else {
        val counts = newStats.map(st => st.path -> st.rows).toMap
        rels.sorted.map { rel =>
          val b = wm; wm += math.max(counts(rel), 1L); rel -> b
        }.toMap
      }
      val highs = idCols.map { case (name, spec) =>
        // REPLACE restarts identity numbering (row-id watermarks do NOT
        // restart: stable row ids must stay history-unique for the
        // tracked CDF across the replace boundary)
        val prior =
          (if (replace) None else priorM.flatMap(_.idHighs.get(name)))
            .getOrElse(spec.start)
        val beyond = newStats.flatMap(_.cols.get(name))
          .flatMap(cs => if (spec.step > 0) cs.max else cs.min)
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .reduceOption((a, b) =>
            if (spec.step > 0) math.max(a, b) else math.min(a, b))
          .map(v => Lake.alignBeyond(v, spec.start, spec.step))
        name -> beyond.map(b =>
          if (spec.step > 0) math.max(prior, b)
          else math.min(prior, b)).getOrElse(prior)
      }
      val (head, shards) = SnapshotManifest.toJsonSharded(
        SnapshotManifest(rels, recordedSchema.toDDL,
          rowBases = bases, rowWatermark = wm, idHighs = highs),
        config.manifestShardSize)
      val f = fs(snap)
      shards.zipWithIndex.foreach { case (body, i) =>
        val out = f.create(new Path(snap, SnapshotManifest.shardName(i)),
          false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      val out = f.create(new Path(snap, SnapshotManifest.FileName), false)
      try out.write(head.getBytes("UTF-8")) finally out.close()
    }
    // stats sidecar BEFORE the commit marker: a committed snapshot either
    // carries complete stats or none — readers can trust what they find.
    // Runs before the optimistic-concurrency check so the (listing +
    // marker-create) race window stays small.
    var addedRowsOpt: Option[Long] = None
    if (config.collectStats && config.format == "parquet") {
      try {
        val stats0 = FileStats.collect(
          spark.sparkContext.hadoopConfiguration, snap.toString)
        addedRowsOpt = Some(stats0.iterator.map(_.rows).sum)
        // a manifest-carrying snapshot (row tracking OR identity columns
        // — the SAME condition that wrote the manifest above) keys its
        // stats by MANIFEST rel — sidecarStats would otherwise reject the
        // sidecar as incomplete and silently disable pruning
        val manifested = tracking || idCols.nonEmpty
        val stats = if (!manifested) stats0
          else stats0.map(st =>
            st.copy(path = s"_v/${snap.getName}/${st.path}"))
        writeSidecar(snap, stats)
        // self-contained snapshot: every file is new, names are logical
        if (partitionBy.isEmpty)
          maybeBloomSidecar(layer, snap,
            base = if (manifested) layerPath(layer) else snap.toString,
            rels = stats.map(_.path),
            rowsByRel = stats.map(st => st.path -> st.rows).toMap,
            mapping = Map.empty, schema = recordedSchema,
            carried = Map.empty)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(s"[lake] stats sidecar for $snap skipped: $e")
      }
    }
    // operation metrics (Delta's operationMetrics): a full overwrite adds
    // every file of the new snapshot and removes the prior head's whole
    // inventory — both already known, O(increment) to record
    locally {
      val removedCount =
        latestSnapshot(layer).map(p => snapshotInventory(layer, p).size)
          .getOrElse(0)
      val out = fs(snap).create(new Path(snap, "_METRICS"), true)
      try out.write(Lake.metricsJson(snapshotDirFilesRel(snap).size,
        removedCount, addedRowsOpt).getBytes("UTF-8"))
      finally out.close()
    }
    commitMarker(layer, snap, requireParent, op)
    if (config.format == "parquet")
      committedSchemas.put(snap.toString,
        org.apache.spark.sql.NewspipeSqlBridge.nullableSchema(
          org.apache.spark.sql.types.StructType(df.schema.fields.filterNot(f =>
            partitionBy.exists(_.equalsIgnoreCase(f.name))))))
    // Keep the DECLARED layout property in sync with what this full
    // overwrite actually committed: a `writeAtomic(partitionBy = …)` is a
    // layout declaration too (the catalog's `partitioning()` — and so the
    // static `INSERT OVERWRITE … PARTITION (k=v)` resolution — read it),
    // and a FLAT overwrite of a previously-partitioned layer must not
    // leave the property claiming a hive layout the data no longer has.
    // After the marker (property file is layer-root metadata, not part of
    // the snapshot commit); prearranged maintenance rewrites keep the
    // declaration they inherited.
    if (!prearranged) {
      val declared = properties(layer).get("lake.partitionBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      if (declared != partitionBy)
        setProperties(layer,
          Map("lake.partitionBy" -> partitionBy.mkString(",")))
    }
    snap.toString
  }

  private def writeSidecar(snap: Path, stats: Seq[FileStats.FileStat]): Unit = {
    val out = fs(snap).create(new Path(snap, FileStats.SidecarName), false)
    try out.write(FileStats.toJson(stats).getBytes("UTF-8"))
    finally out.close()
  }

  /** The shared commit tail of every snapshot-producing operation: the
    * optimistic-concurrency parent check (when asked for) immediately
    * followed by the single `_COMMITTED` file creation. Marker content =
    * parent version id ("" for first snapshot): lineage audit + post-hoc
    * detection of the residual commit race. Marker visibility is the
    * single-file-creation atomicity the protocol relies on (content
    * arrives with the create on local/HDFS and as one PUT on object
    * stores).
    */
  /** Serialize the [parent-check → marker-create] critical section
    * through the configured [[CommitStore]] — by default
    * [[FsCommitStore]]'s atomic-exclusive lock file (see its doc for the
    * full lock-file/stale-break mechanics and the object-store caveat);
    * deployments on stores without atomic exclusive create plug a real
    * coordinator through `LakeConfig.commitStore` and the rest of the
    * protocol is unchanged.
    */
  private def withCommitLock[T](layer: String)(body: (() => Boolean) => T): T = {
    val root = new Path(layerPath(layer))
    config.commitStore.withExclusive(root, fs(root))(body)
  }

  /** WRITER feature gate (the minWriter half of the protocol-versioning
    * story; the reader half is [[ProtocolFeatures]] in the commit
    * documents): a layer may declare `lake.requiredWriterFeatures` — a
    * comma list of features every COMMITTER must understand (a future
    * build setting it protects property-borne semantics like defaults or
    * generation rules from an older writer that would commit increments
    * without applying them). This build refuses to commit on any feature
    * outside its known set; reads are unaffected.
    */
  private def requireWriterFeatures(layer: String): Unit = {
    val declared = properties(layer).get(Lake.WriterFeaturesProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    if (declared.isEmpty) return
    val unknown = declared.filterNot(Lake.SupportedWriterFeatures)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"layer '$layer' requires writer feature(s) " +
        s"${unknown.mkString(", ")} this build does not support " +
        s"(supported: ${Lake.SupportedWriterFeatures.toSeq.sorted
          .mkString(", ")}) — upgrade the engine to write to this table " +
        "(reads are unaffected)")
  }

  private def commitMarker(layer: String, snap: Path,
      requireParent: Option[Option[String]],
      op: String,
      deleteOnConflict: Boolean = true): Unit = withCommitLock(layer) { stillOwned =>
    requireWriterFeatures(layer)
    val f = fs(snap)
    // AUTHORITATIVE head, never the `_LAST` pointer: a pointer left stale
    // by a crashed commit must not fork lineage or falsely pass the CAS
    val parentAtCommit = latestSnapshotByScan(layer).map(_.getName)
    requireParent.foreach { expected =>
      if (parentAtCommit != expected) {
        // repair a stale pointer before bouncing the caller: the retry
        // loop re-reads the head through latestSnapshot (pointer-first),
        // so without this a crash-window-stale pointer would livelock
        // every optimistic retry against the same wrong parent.
        // bestEffort: we are about to throw CME — an IO error here must
        // not mask it (a failed repair just leaves retries on the scan)
        parentAtCommit.foreach(writeHeadPointer(layer, _, bestEffort = true))
        // deleteOnConflict=false: the caller intends to REBASE the staged
        // snapshot onto the new head ([[commitManifest]]'s disjoint-file
        // resolution) — its data files must survive the lost race
        if (deleteOnConflict) f.delete(snap, true) // no orphan for vacuum
        throw new java.util.ConcurrentModificationException(
          s"layer '$layer': expected parent snapshot " +
            s"${expected.getOrElse("<none>")} but newest committed is " +
            s"${parentAtCommit.getOrElse("<none>")} — a concurrent writer " +
            "committed first; re-read the layer and retry")
      }
    }
    // ORDERING GUARD (backstop for [[newVersionIdAfterHead]]'s mint
    // floor): a committing name must sort STRICTLY ABOVE the current
    // head, or "newest" becomes ambiguous — history, restore targets and
    // the rebase re-id all order by name, so a below-head commit would
    // silently not be the head it just won. Only reachable when a
    // concurrent writer with a faster clock committed between OUR mint
    // and this marker (the floor covers the mint-time head) — thrown as
    // the conflict it is, so [[retryOnConflict]] re-runs and re-mints
    // above the new head.
    parentAtCommit.foreach { pn =>
      if (snap.getName <= pn) {
        if (deleteOnConflict) f.delete(snap, true)
        throw new java.util.ConcurrentModificationException(
          s"layer '$layer': staged version name '${snap.getName}' does " +
            s"not sort above the committed head '$pn' (writer clock " +
            "skew or a concurrent commit with a faster clock) — " +
            "re-read the layer and retry (the retry re-mints above the " +
            "head)")
      }
    }
    // operation label BEFORE the marker (same completeness contract as the
    // stats sidecar: a committed snapshot either has its `_OP` or predates
    // the feature → DESCRIBE HISTORY shows UNKNOWN, never a torn label)
    val opOut = f.create(new Path(snap, "_OP"), false)
    try opOut.write(op.getBytes("UTF-8")) finally opOut.close()
    // Last-instant ownership probe before the point of no return: if our
    // fresh lock was mis-broken (tomb restore raced a third writer), abort
    // rather than let two writers both reach the marker create.
    if (!stillOwned()) {
      if (deleteOnConflict) f.delete(snap, true)
      else f.delete(new Path(snap, "_OP"), false) // rebase retry re-labels
      throw new java.util.ConcurrentModificationException(
        s"layer '$layer': commit lock ownership lost before marker write " +
          "(stale-lock break race); re-read the layer and retry")
    }
    // head pointer BEFORE the marker (fail-closed, not fail-stale): a
    // crash in the window between the two writes leaves a pointer naming
    // an UNCOMMITTED dir — readers' verify fails and they fall back to
    // the correct listing scan (slow until the next commit repairs, never
    // wrong). The reverse order would leave a stale-but-COMMITTED pointer
    // that verifies, silently serving the previous head to every reader
    // until some writer happens to commit again.
    writeHeadPointer(layer, snap.getName)
    val out = f.create(new Path(snap, "_COMMITTED"), false)
    try out.write(parentAtCommit.getOrElse("").getBytes("UTF-8"))
    finally out.close()
  }

  /** Delta's `DESCRIBE HISTORY`: one row per committed snapshot, OLDEST
    * first — (ordinal, version, operation, parent, numAddedFiles,
    * numRemovedFiles, numAddedRows). Operation labels and metrics are
    * recorded at commit time (`_OP` / `_METRICS` — O(increment), the
    * funnel already knows the delta); snapshots predating either feature
    * (or from foreign writers) read `UNKNOWN` / null. Driver-side
    * listing, bounded by version count — the same metadata walk
    * [[listVersions]] does.
    *
    * `limit`: Delta's `DESCRIBE HISTORY … LIMIT n` — only the n NEWEST
    * commits materialize (the listing walks newest-first and stops, so a
    * 100k-commit table answers `LIMIT 20` with 20 commit-doc reads, not
    * 100k); ordinals keep their ABSOLUTE positions (the newest commit's
    * ordinal is the total version count with or without a limit), and
    * the returned rows stay oldest-first like the unlimited form.
    */
  def historyRows(layer: String,
      limit: Option[Int] = None): Seq[org.apache.spark.sql.Row] = {
    limit.foreach(n => require(n > 0, s"DESCRIBE HISTORY LIMIT $n: the " +
      "limit must be a positive commit count"))
    val newestFirst = committedVersions(layer) // newest-first by contract
    val total = newestFirst.size
    val versions = limit.fold(newestFirst)(newestFirst.take).reverse
    val ordinalBase = total - versions.size
    versions.zipWithIndex.map { case (snap, i0) =>
      val i = ordinalBase + i0
      val f = fs(snap)
      def readOpt(name: String): Option[String] = {
        val p = new Path(snap, name)
        if (f.exists(p)) Some(readFully(p)) else None
      }
      val (af, rf, ar, ts, params) = readOpt("_METRICS")
        .map(Lake.parseMetrics)
        .getOrElse((None, None, None, None, None))
      def box(o: Option[Long]): java.lang.Long =
        o.map(java.lang.Long.valueOf).orNull
      // commit instant: the recorded wall clock when present, else the
      // version id's millis (zero-padded epoch millis by construction —
      // may run AHEAD of the wall clock under the ordering floor)
      val tsMs = ts.orElse(
        scala.util.Try(snap.getName.take(16).toLong).toOption)
      org.apache.spark.sql.Row(i + 1, snap.getName,
        readOpt("_OP").getOrElse("UNKNOWN"),
        readOpt("_COMMITTED").getOrElse(""),
        box(af), box(rf), box(ar),
        tsMs.map(m => new java.sql.Timestamp(m)).orNull,
        params.orNull)
    }
  }

  /** The layer's current row count answered from METADATA ONLY — the
    * stats sidecar's per-file row counts over the live inventory, minus
    * deletion-vector positions — or None when the snapshot lacks complete
    * stats (stats-off config, soft-failed sidecar, foreign files), in
    * which case callers fall back to a scan. The Delta
    * `OptimizeMetadataOnlyQuery` role: a 100 TB `SELECT count(*)` becomes
    * one cached JSON read instead of a full scan.
    */
  def metadataRowCount(layer: String): Option[Long] =
    latestSnapshot(layer).flatMap { snap =>
      liveFileStats(layer, snap).map { live =>
        val dvDeleted = dvMapOf(snap).iterator.map {
          case (fileRel, payloadRel) =>
            // clone-carried refs: the payload keys source-relative rels
            dvPayload(layerPath(layer), payloadRel)
              .getOrElse(payloadKeyOf(fileRel), Nil).size.toLong
        }.sum
        live.iterator.map(_.rows).sum - dvDeleted
      }
    }

  /** Min and max of a top-level column over the layer's current rows,
    * answered from METADATA ONLY (the stats sidecar's per-file bounds) —
    * the [[metadataRowCount]] role for `agg(min(c), max(c))`.
    *
    * `Some(Some((min, max)))` carries `Long` for integral columns and
    * `java.time.LocalDate` for dates. `Some(None)` means no live row holds a non-null value (an
    * all-null column or an empty snapshot), where the aggregate returns
    * nulls. None means metadata cannot answer exactly and callers scan:
    * a live file without stats for the column, deletion vectors (a
    * deleted row may hold the bound), a partition column, or any other
    * type (string bounds may be truncated, floating point loses its
    * bounds on NaN, decimals and timestamps are not decoded).
    */
  def metadataMinMax(layer: String,
      column: String): Option[Option[(Any, Any)]] =
    latestSnapshot(layer).filter(dvMapOf(_).isEmpty).flatMap { snap =>
      import org.apache.spark.sql.types._
      val decode: Option[(String, Long => Any)] =
        layerSchema(layer).find(_.name == column).map(_.dataType).collect {
          case ByteType | ShortType | IntegerType | LongType =>
            ("long", (v: Long) => v)
          case DateType => ("date", (v: Long) => java.time.LocalDate.ofEpochDay(v))
        }
      val physical = mappingOf(snap).getOrElse(column, column)
      for {
        (tag, out) <- decode
        live <- liveFileStats(layer, snap)
        // per file: Some(bounds), Some(None) when it holds no non-null
        // value, None when its stats cannot say
        perFile = live.map { st =>
          st.cols.get(physical).filter(_.tag == tag) match {
            case _ if st.rows == 0 => Some(None)
            case Some(FileStats.ColStats(_, Some(lo), Some(hi), _)) =>
              Some(Some((lo.toLong, hi.toLong)))
            case Some(FileStats.ColStats(_, None, None, Some(n)))
                if n == st.rows => Some(None)
            case _ => None
          }
        }
        if perFile.forall(_.isDefined)
      } yield {
        val bounds = perFile.flatten.flatten
        if (bounds.isEmpty) None
        else Some((out(bounds.map(_._1).min), out(bounds.map(_._2).max)))
      }
    }

  /** The stats sidecar entry of EVERY live file of `snap` (the layer's
    * head), in inventory order, or None when any live file lacks one.
    */
  private def liveFileStats(layer: String,
      snap: Path): Option[Seq[FileStats.FileStat]] =
    sidecarStats(layer).flatMap { case (statsBase, stats) =>
      val inv = snapshotInventory(layer, snap)
      val rebase =
        if (statsBase == layerPath(layer)) (p: String) => p
        else (p: String) => s"_v/${snap.getName}/$p"
      val byRel = stats.map(st => rebase(st.path) -> st).toMap
      if (inv.forall(byRel.contains)) Some(inv.map(byRel)) else None
    }

  /** Hive partition columns of the layer (the current snapshot's
    * inventory `k=v` dirs, else the declared `lake.partitionBy`
    * property); Nil when unpartitioned. Metadata-only.
    */
  def partitionColumns(layer: String): Seq[String] =
    latestSnapshot(layer) match {
      case Some(snap) =>
        layerPartitionCols(layer, snapshotInventory(layer, snap))
      case None =>
        val p = new Path(layerPath(layer))
        if (!fs(p).exists(p)) Nil
        else layerPartitionCols(layer, snapshotDirFilesRel(p))
    }

  /** Distinct hive partition-value tuples of the CURRENT snapshot — one
    * entry per live combination, values in [[partitionColumns]] order;
    * hive's default-partition marker reads as None (null). Metadata-only
    * path parsing of the inventory, never a data scan.
    */
  def partitionValues(layer: String): Seq[Seq[Option[String]]] = {
    val cols = partitionColumns(layer)
    if (cols.isEmpty) return Nil
    val inv = latestSnapshot(layer) match {
      case Some(snap) => snapshotInventory(layer, snap)
      case None => snapshotDirFilesRel(new Path(layerPath(layer)))
    }
    inv.flatMap { rp =>
      val kv = rp.split('/').dropRight(1).toSeq.filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i) -> seg.substring(i + 1)
        }.toMap
      if (cols.forall(kv.contains))
        Some(cols.map(c => kv(c) match {
          case "__HIVE_DEFAULT_PARTITION__" => None
          case v => Some(org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(v))
        }))
      else None
    }.distinct
  }

  /** Delta's `DESCRIBE DETAIL`: one row of physical metadata about the
    * layer's CURRENT snapshot — file count and total bytes of the live
    * inventory, partition columns, committed-version count, deletion-
    * vector count, created/last-modified times, and the layer properties.
    * Metadata-only: manifests and file statuses, never a data scan — the
    * O(files) status loop is the same driver-side walk a stats-sidecar
    * write does, bounded by inventory size not data size.
    */
  def describeDetail(layer: String): Lake.LayerDetail = {
    val base = layerPath(layer)
    latestSnapshot(layer) match {
      case Some(snap) =>
        val inv = snapshotInventory(layer, snap)
        val f = fs(snap)
        // one recursive listing per referenced version dir (the object-
        // store-friendly shape readIndexed uses), not a getFileStatus
        // round-trip per inventory file — a 10⁵-file layer stays a handful
        // of LIST calls
        val sizeByRel = inv.map(versionDirOf).distinct
          .flatMap { vdir =>
            val dir = if (vdir.isEmpty) new Path(base)
              else new Path(resolveRel(base, vdir))
            val dirPrefix = f.makeQualified(dir).toString
              .stripSuffix("/") + "/"
            val relPrefix = if (vdir.isEmpty) "" else vdir + "/"
            val b = Seq.newBuilder[(String, Long)]
            FsListing.filesRecursive(f, dir).foreach { st =>
              if (st.isFile)
                b += relPrefix + st.getPath.toString
                  .stripPrefix(dirPrefix) -> st.getLen
            }
            b.result()
          }.toMap
        val bytes = inv.map(rp => sizeByRel.getOrElse(rp,
          f.getFileStatus(new Path(resolveRel(base, rp))).getLen)).sum
        def ms(v: String): Long = v.takeWhile(_ != '-').toLong
        val versions = listVersions(layer) // newest first
        Lake.LayerDetail(config.format, base, inv.size, bytes,
          layerPartitionCols(layer, inv), versions.size, dvMapOf(snap).size,
          ms(versions.last), ms(versions.head), properties(layer))
      case None =>
        val p = new Path(base)
        require(fs(p).exists(p), s"layer '$layer' does not exist")
        val rels = snapshotDirFilesRel(p)
        val f = fs(p)
        val stats = rels.map(rp => f.getFileStatus(new Path(s"$base/$rp")))
        val parts = rels
          .flatMap(_.split('/').dropRight(1).toSeq.filter(_.contains('='))
            .map(seg => seg.substring(0, seg.indexOf('='))))
          .distinct
        Lake.LayerDetail(config.format, base, rels.size,
          stats.map(_.getLen).sum, parts, 0, 0,
          if (stats.isEmpty) 0L else stats.map(_.getModificationTime).min,
          if (stats.isEmpty) 0L else stats.map(_.getModificationTime).max,
          properties(layer))
    }
  }

  /** [[historyRows]] as a DataFrame (the TVF/statement surface). */
  def history(layer: String, limit: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(
          historyRows(layer, limit)).asJava),
      StructType(Seq(
        StructField("ordinal", IntegerType, nullable = false),
        StructField("version", StringType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("parent", StringType, nullable = false),
        StructField("num_added_files", LongType, nullable = true),
        StructField("num_removed_files", LongType, nullable = true),
        StructField("num_added_rows", LongType, nullable = true),
        StructField("commit_ts", TimestampType, nullable = true),
        StructField("operation_parameters", StringType, nullable = true))))
  }

  /** Timestamp-resolution time travel: read the newest committed snapshot
    * whose version timestamp is <= `timestampMs`. Version ids are
    * zero-padded epoch millis (class doc), so resolution is a pure name
    * comparison — no extra filesystem metadata round-trips. Fails loudly if
    * the layer has no committed snapshot that old (vacuumed away, or the
    * layer is younger than the asked-for instant).
    */
  def readAsOf(layer: String, timestampMs: Long,
      mergeSchema: Boolean = false): DataFrame =
    readVersion(layer, resolveVersionAt(layer, timestampMs), mergeSchema)

  /** The version id a timestamp resolves to: newest committed snapshot
    * whose version timestamp is <= `timestampMs`. This is the one
    * resolution [[readAsOf]] and [[diffSince]] share, so "read as of T"
    * and "changes since T" agree on what the table looked like at T.
    * Pure name comparison (version ids are zero-padded epoch millis) — no
    * filesystem metadata round-trips beyond the committed-version listing.
    */
  def resolveVersionAt(layer: String, timestampMs: Long): String = {
    val cutoff = f"$timestampMs%016d~" // '~' > '-' so same-milli versions match
    val versions = committedVersions(layer).map(_.getName)
    versions.find(_ <= cutoff).getOrElse {
      throw new NoSuchElementException(
        s"layer '$layer' has no committed snapshot at or before " +
          s"$timestampMs (oldest kept: ${versions.lastOption.getOrElse("<none>")}" +
          ") — it may have been vacuumed below the asked-for instant")
    }
  }

  /** Timestamp-form change feed: row-level (inserted, deleted) between the
    * snapshot the table had at `sinceTimestampMs` and the current head (or
    * `untilTimestampMs` when given) — the "what changed since last night's
    * run?" question a CDC consumer actually asks, without it having to
    * track version ids. Resolution is exactly [[resolveVersionAt]], so a
    * consumer that recorded `readAsOf(T)` output sees a diff consistent
    * with that read. Cost contract is [[diff]]'s: only
    * symmetric-difference files are scanned.
    */
  def diffSince(layer: String, sinceTimestampMs: Long,
      untilTimestampMs: Option[Long] = None): (DataFrame, DataFrame) = {
    val from = resolveVersionAt(layer, sinceTimestampMs)
    val to = untilTimestampMs match {
      case Some(t) => resolveVersionAt(layer, t)
      case None => latestSnapshot(layer).map(_.getName).getOrElse {
        throw new NoSuchElementException(
          s"layer '$layer' has no committed snapshot — nothing to diff")
      }
    }
    diff(layer, from, to)
  }

  /** Committed snapshot dirs of a layer, NEWEST FIRST — the full-history
    * listing (listVersions / vacuum / history / change feeds). One
    * listStatus, then a marker probe ONLY for versions not already in the
    * global committed cache ([[Lake.committedCache]] — committedness, once
    * true, is immutable, so positives cache forever): a streaming trigger
    * or vacuum on a long-lived table pays V HEAD requests exactly once per
    * JVM, O(new commits) after. Head-only resolution should use
    * [[latestSnapshot]] (O(1) via the `_LAST` pointer), not this.
    */
  private def committedVersions(layer: String): Seq[Path] = {
    val vdir = new Path(s"${layerPath(layer)}/_v")
    val f = fs(vdir)
    if (!f.exists(vdir)) Nil
    else f.listStatus(vdir)
      .filter(s => s.isDirectory && isCommittedDir(f, s.getPath))
      .map(_.getPath)
      .sortBy(_.getName)(Ordering[String].reverse).toSeq
  }

  /** Marker probe with the global positive cache. A MISS is never cached:
    * the not-yet-committed window must stay re-checkable. Vacuumed
    * (deleted) version dirs can linger as cached positives — harmless,
    * because every consumer starts from a fresh listing or the verified
    * head pointer, so a deleted dir's name is never offered for lookup.
    */
  private def isCommittedDir(f: org.apache.hadoop.fs.FileSystem,
      snap: Path): Boolean = {
    val key = snap.toString
    if (Lake.committedCacheContains(key)) true
    else if (f.exists(new Path(snap, "_COMMITTED"))) {
      Lake.committedCacheAdd(key); true
    } else false
  }

  /** `_v/_LAST` — best-effort O(1) head pointer, the Delta
    * `_last_checkpoint` role for snapshot-head resolution. Content = the
    * committing version's name; written inside the commit lock
    * immediately BEFORE the `_COMMITTED` marker, so the only crash-window
    * artifact is a pointer naming an uncommitted dir — readers'
    * VERIFY-then-trust ([[latestSnapshot]]) fails the marker probe and
    * falls back to the correct listing scan (fail-CLOSED: slow until the
    * next commit repairs the pointer, never a stale answer). The reverse
    * order would leave a stale-but-committed pointer that VERIFIES,
    * silently serving the previous head to every reader. Writers never
    * race each other on the file (commit lock), and commits resolve
    * their parent by authoritative scan, never the pointer, so
    * lineage/CAS are unaffected — see [[commitMarker]].
    */
  private def headPointerPath(layer: String): Path =
    new Path(s"${layerPath(layer)}/_v/_LAST")

  private def readHeadPointer(layer: String): Option[String] =
    try {
      val p = headPointerPath(layer)
      val in = fs(p).open(p)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim)
          .filter(_.nonEmpty)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Single small create-overwrite — callers hold the commit lock, so the
    * only race is a concurrent READER catching the truncate window, which
    * the reader's marker verification absorbs.
    *
    * An IO FAILURE here must stay fail-closed too: the commit path calls
    * this immediately before creating the `_COMMITTED` marker, and if the
    * write fails without touching the file, `_LAST` still names the
    * PREVIOUS committed version — which would VERIFY after the marker
    * lands, silently hiding the new commit from every pointer-trusting
    * reader (the idle change-stream fast path most of all). So on
    * failure the pointer is DELETED (missing pointer → readers take the
    * authoritative listing fallback), and only if even the delete cannot
    * restore the invariant does the commit itself abort — loudly, before
    * the marker exists, so nothing half-committed becomes visible.
    * `bestEffort = true` (the stale-pointer REPAIR inside the conflict
    * path) keeps the old swallow-and-continue contract: the caller is
    * about to throw `ConcurrentModificationException`, and replacing that
    * with an IO error would break every optimistic retry loop.
    */
  private def writeHeadPointer(layer: String, version: String,
      bestEffort: Boolean = false): Unit =
    try {
      val p = headPointerPath(layer)
      val out = fs(p).create(p, true)
      try out.write(version.getBytes("UTF-8")) finally out.close()
    } catch {
      case e: java.io.IOException if bestEffort => ()
      case e: java.io.IOException =>
        val p = headPointerPath(layer)
        val gone =
          try !fs(p).exists(p) || fs(p).delete(p, false)
          catch { case _: java.io.IOException => false }
        if (!gone) throw new IllegalStateException(
          s"layer '$layer': head pointer write failed AND the stale " +
            "pointer could not be removed — committing now would leave " +
            "a verified-but-stale _LAST hiding this commit from " +
            "pointer-trusting readers; aborting before the marker " +
            s"(nothing became visible): ${e.getMessage}", e)
    }

  /** Latest committed snapshot dir of a layer, if the layer uses the
    * snapshot protocol. O(1) on the happy path: one `_LAST` read + one
    * marker probe (usually a cache hit). Fallback (no pointer / pointer
    * unverifiable — pre-pointer layers, foreign writers, torn write): one
    * listing + a DESCENDING probe scan that stops at the first committed
    * dir, so even the fallback pays O(uncommitted debris), not O(V).
    */
  private def latestSnapshot(layer: String): Option[Path] = {
    readHeadPointer(layer) match {
      case Some(name) =>
        val snap = new Path(s"${layerPath(layer)}/_v/$name")
        if (isCommittedDir(fs(snap), snap)) Some(snap)
        else latestSnapshotByScan(layer)
      case None => latestSnapshotByScan(layer)
    }
  }

  /** Authoritative head resolution — a fresh listing, newest-first, first
    * committed dir wins. The commit path uses THIS (never the pointer):
    * a stale pointer must not corrupt parent lineage or falsely pass the
    * optimistic-concurrency check.
    */
  private def latestSnapshotByScan(layer: String): Option[Path] = {
    val vdir = new Path(s"${layerPath(layer)}/_v")
    val f = fs(vdir)
    if (!f.exists(vdir)) None
    else f.listStatus(vdir)
      .filter(_.isDirectory)
      .map(_.getPath)
      .sortBy(_.getName)(Ordering[String].reverse)
      .iterator.find(isCommittedDir(f, _))
  }

  /** Parsed `_MANIFEST.json` of a snapshot, if it is a manifest (row-op)
    * snapshot: data file paths relative to the LAYER root (they may live
    * in older version directories) + the read schema (DDL) for the
    * zero-files case. None = self-contained snapshot (its directory IS
    * its inventory).
    */
  /** A committed snapshot's manifest is IMMUTABLE, so positive parses are
    * cached (bounded: one row op consults the head manifest several times —
    * inventory, dvs, mapping, dropped — and at 10⁶ files each parse is a
    * ~100 MB JSON walk; the cache turns that into one). A MISS is never
    * cached: the not-yet-committed window must stay re-checkable.
    */
  private val manifestCache = // holds a full delta chain: head folds stay O(1)
    new LruCache[String, SnapshotManifest](32)

  /** Parsed `_DELTA.json` of an INCREMENTAL commit (see [[DeltaDoc]]), if
    * the snapshot is one. Cached like manifests — committed docs are
    * immutable, misses stay re-checkable.
    */
  private val deltaCache = new LruCache[String, DeltaDoc](32)

  private def deltaDocOf(snap: Path): Option[DeltaDoc] = {
    val key = snap.toString
    deltaCache.get(key).orElse {
      val p = new Path(snap, DeltaDoc.FileName)
      if (!fs(p).exists(p)) None
      else {
        val d = DeltaDoc.fromJson(readFully(p))
        deltaCache.put(key, d)
        Some(d)
      }
    }
  }

  private def hasFullManifest(snap: Path): Boolean =
    fs(snap).exists(new Path(snap, SnapshotManifest.FileName))

  /** An incremental commit whose fold genuinely depends on its parent
    * chain (no materialized checkpoint beside it).
    */
  private def isDeltaOnly(snap: Path): Boolean =
    !hasFullManifest(snap) && deltaDocOf(snap).isDefined

  private def checkpointIntervalOf(layer: String): Int =
    properties(layer).get("lake.checkpointInterval")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(config.checkpointInterval)

  private def manifestOf(snap: Path): Option[SnapshotManifest] = {
    def cached(p: Path): Option[SnapshotManifest] = manifestCache.get(p.toString)
    def store(p: Path, m: SnapshotManifest): SnapshotManifest = {
      manifestCache.put(p.toString, m)
      m
    }
    def fullOf(p: Path): Option[SnapshotManifest] = {
      val mp = new Path(p, SnapshotManifest.FileName)
      if (!fs(mp).exists(mp)) None
      else Some(SnapshotManifest.read(readFully(mp),
        i => readFully(new Path(p, SnapshotManifest.shardName(i)))))
    }
    cached(snap).foreach(m => return Some(m))
    fullOf(snap).foreach(m => return Some(store(snap, m)))
    // INCREMENTAL snapshot: walk parent pointers down to the nearest
    // checkpoint (full manifest) or self-contained terminator — depth
    // bounded by the checkpoint interval — then fold upward, caching
    // every intermediate so subsequent head reads are one cache hit
    deltaDocOf(snap) match {
      case None => None
      case Some(headDoc) =>
        var chain = List((snap, headDoc)) // oldest-first after the pushes
        var terminalFiles: Seq[String] = null
        var terminalDvs: Map[String, String] = Map.empty
        var terminalBases: Map[String, Long] = Map.empty
        var terminalWm = 0L
        var terminalHighs: Map[String, Long] = Map.empty
        var cur = new Path(snap.getParent, headDoc.parent)
        while (terminalFiles == null) {
          cached(cur).orElse(fullOf(cur).map(store(cur, _))) match {
            case Some(m) =>
              terminalFiles = m.files
              terminalDvs = m.dvs
              terminalBases = m.rowBases
              terminalWm = m.rowWatermark
              terminalHighs = m.idHighs
            case None => deltaDocOf(cur) match {
              case Some(d) =>
                chain ::= ((cur, d))
                cur = new Path(cur.getParent, d.parent)
              case None =>
                // self-contained terminator: its directory IS its inventory
                terminalFiles = snapshotDirFilesRel(cur)
                  .map(s"_v/${cur.getName}/" + _)
            }
          }
        }
        var files = terminalFiles
        var dvs = terminalDvs
        var bases = terminalBases
        var wm = terminalWm
        var highs = terminalHighs
        var result: SnapshotManifest = null
        chain.foreach { case (p, d) =>
          val removed = d.remove.toSet
          files = files.filterNot(removed) ++ d.add
          require(files.size == d.count,
            s"delta fold for ${p.getName} produced ${files.size} files " +
              s"but the commit recorded ${d.count} — the chain is " +
              "corrupted (vacuumed past a pinned version, or external " +
              "deletion); refusing to serve a silently-narrowed inventory")
          dvs = (dvs -- d.dvUnset) ++ d.dvSet
          bases = bases.filter { case (r, _) => !removed(r) } ++ d.addBases
          wm = math.max(wm, d.rowWatermark)
          if (d.idHighs.nonEmpty) highs = d.idHighs // recorded in full
          result = SnapshotManifest(files, d.schemaDdl, dvs, d.mapping,
            d.dropped, bases, wm, highs)
          store(p, result)
        }
        Some(result)
    }
  }

  // ---- column mapping (logical ↔ physical names) ---------------------------

  private def mappingOf(snap: Path): Map[String, String] =
    manifestOf(snap).map(_.mapping).getOrElse(Map.empty)

  private def droppedOf(snap: Path): Seq[String] =
    manifestOf(snap).map(_.dropped).getOrElse(Nil)

  /** The recorded (logical) schema with field names translated to what the
    * data files physically carry — the schema every file READ under a
    * mapping must request.
    */
  private def physicalSchema(logical: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (mapping.isEmpty) logical
    else org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Rename a logical frame to physical names for a data-file WRITE into a
    * mapped layer — the invariant that keeps one schema hint readable
    * across every file of a snapshot: all data files carry PHYSICAL names.
    */
  private def toPhysical(df: DataFrame,
      mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c => org.apache.spark.sql.functions
      .col(s"`$c`").as(mapping.getOrElse(c, c))).toSeq: _*)

  /** Rename a physically-named frame back to logical names after a READ
    * (keeps any non-data columns — the DV `__dv_file`/`__dv_pos` pair —
    * untouched).
    */
  private def toLogical(df: DataFrame,
      mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else {
      // One select with the REVERSE mapping — a sequential rename fold is
      // wrong when a logical name equals another column's physical name
      // (swap renames: {a->b, c->a} would collide mid-fold).
      val reverse = mapping.collect { case (lg, ph) if lg != ph => ph -> lg }
      if (reverse.isEmpty) df
      else df.select(df.columns.map(c => org.apache.spark.sql.functions
        .col(s"`$c`").as(reverse.getOrElse(c, c))).toSeq: _*)
    }

  /** Rewrite a (logical-named) predicate's top-level attribute references
    * to physical names — what makes STATS PRUNING correct on mapped
    * layers: each file's sidecar stats describe its own PHYSICAL columns,
    * which is exactly the column a mapped scan reads for the logical name,
    * so a physically-translated predicate evaluated against physical-keyed
    * stats attributes every min/max to the right data even after a rename
    * reuses a previous physical name.
    */
  private def predicateToPhysical(p: org.apache.spark.sql.Column,
      mapping: Map[String, String]): org.apache.spark.sql.Column =
    if (mapping.isEmpty) p
    else org.apache.spark.sql.NewspipeSqlBridge.column(
      org.apache.spark.sql.NewspipeSqlBridge.convertedExpression(p).transform {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.nameParts.length == 1 && mapping.contains(ua.name) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(mapping(ua.name)))
      })

  /** A snapshot's data files, paths relative to the layer root — the
    * manifest when present, else a walk of the snapshot directory.
    */
  private def snapshotInventory(layer: String, snap: Path): Seq[String] =
    manifestOf(snap) match {
      case Some(m) => m.files
      case None =>
        val layerPrefix = s"_v/${snap.getName}/"
        snapshotDirFilesRel(snap).map(layerPrefix + _)
    }

  /** Read one snapshot, manifest-aware. Manifest snapshots load their
    * explicit file list through [[readRelFiles]] (per-version-dir groups,
    * so hive `k=v` segments surface as partition columns); an empty
    * manifest (every row deleted) resolves to an empty frame with the
    * recorded schema.
    */
  private def loadSnapshot(layer: String, snap: Path,
      mergeSchema: Boolean): DataFrame =
    manifestOf(snap) match {
      case None =>
        // self-contained snapshot: the indexed read applies too (one
        // listing, automatic stats skipping) when non-partitioned parquet;
        // schema comes from what this instance committed, else one sample
        // footer (cached) — the same single file mergeSchema=false
        // discovery would have consulted. Hive-partitioned snapshots hand
        // the committed data schema to discovery (partition columns still
        // come from the directory names), which skips its inference job.
        lazy val rels = snapshotDirFilesRel(snap)
        val committed =
          if (mergeSchema) None else committedSchemas.get(snap.toString)
        if (!mergeSchema && config.format == "parquet" && rels.nonEmpty &&
            !rels.exists(_.contains("="))) {
          readIndexed(snap.toString, snap, rels, committed.getOrElse(
            footerSchema(s"${snap.toString}/${rels.head}")))
        } else {
          val reader = spark.read.format(config.format)
          (if (mergeSchema) reader.option("mergeSchema", "true")
           else committed.fold(reader)(reader.schema))
            .load(snap.toString)
        }
      case Some(m) if m.files.isEmpty =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      case Some(m) =>
        // the RECORDED schema is authoritative (Delta's log-schema role):
        // files predating a schema-evolving merge/append read null for the
        // added columns. Under COLUMN MAPPING the files carry PHYSICAL
        // names — scan with the physical schema, rename back to logical
        // after. Non-partitioned parquet inventories read through
        // a [[LakeFileIndex]] (one scan node, automatic stats skipping on
        // any filter); hive-partitioned layers and mergeSchema reads keep
        // the discovery-based union (partition-column resolution / footer
        // union live there)
        val phys = physicalSchema(m.schema, m.mapping)
        val raw =
          if (!mergeSchema && config.format == "parquet" &&
              !m.files.exists(_.contains("=")))
            readIndexed(layerPath(layer), snap, m.files, phys,
              statsIn = Some(statsOfSnapshot(layer, snap).values.toSeq),
              bloomIn = Some(bloomOfSnapshot(layer, snap)))
          else if (m.dvs.isEmpty)
            readRelFiles(layer, m.files, mergeSchema, schemaHint = Some(phys))
          else
            dvFilter(readRelFiles(layer, m.files, mergeSchema,
              schemaHint = Some(phys), withMeta = true),
              dvPairs(layerPath(layer), snap))
        toLogical(raw, m.mapping)
    }

  /** Snapshot read through [[LakeFileIndex]]: statuses resolved with ONE
    * recursive listing per referenced version dir (not per file — the
    * object-store-friendly shape), stats keyed by qualified path so
    * `listFiles` can prune against the exact identities Spark will scan.
    * `base` is the root the inventory (and the snapshot's sidecar paths)
    * are relative to: the layer root for manifest snapshots, the snapshot
    * dir itself for self-contained ones.
    */
  private def readIndexed(base: String, snap: Path,
      rels: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      statsIn: Option[Seq[FileStats.FileStat]] = None,
      bloomIn: Option[Map[String, Map[String, Array[Byte]]]] = None)
      : DataFrame = {
    val basePath = new Path(base)
    val f = fs(basePath)
    val qualBase = f.makeQualified(basePath).toString.stripSuffix("/")
    // cross-layer (clone) rels resolve outside qualBase — qualify through
    // the textual resolver so keys always match listed canonical paths
    def qual(rel: String): String =
      if (Lake.isForeignRel(rel))
        f.makeQualified(new Path(resolveRel(base, rel))).toString
      else s"$qualBase/$rel"
    val byDir = rels.groupBy(versionDirOf)
    val statusByRel = scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FileStatus]
    byDir.keysIterator.foreach { vdir =>
      val dir = if (vdir.isEmpty) basePath
        else new Path(resolveRel(base, vdir))
      // reconstruct each listed file's manifest-rel key from the GROUP's
      // key + the path below the listed dir, so cross-layer groups key
      // exactly as their manifest records them
      val dirPrefix = f.makeQualified(dir).toString.stripSuffix("/") + "/"
      val relPrefix = if (vdir.isEmpty) "" else vdir + "/"
      FsListing.filesRecursive(f, dir).foreach { s =>
        if (s.isFile)
          statusByRel(relPrefix +
            s.getPath.toString.stripPrefix(dirPrefix)) = s
      }
    }
    val statuses = rels.map(rel => statusByRel.getOrElse(rel,
      throw new IllegalStateException(
        s"snapshot ${snap.getName} references missing data file '$rel' " +
          s"(under $base) — vacuumed past a pinned version, or external " +
          "deletion")))
    // manifest callers pass FOLDED stats/bloom (incremental snapshots
    // spread both across their chain); self-contained reads use their own
    val statsByPath = statsIn.getOrElse(snapshotSidecar(snap))
      .map(st => qual(st.path) -> st).toMap
    val bloomFiles = bloomIn.orElse(bloomSidecarRaw(snap).map(_._2))
    val bloomByPath = bloomFiles match {
      case None =>
        Map.empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
      case Some(files) => files.map { case (rel, m) =>
        qual(rel) ->
          m.map { case (c, b) => c -> BloomIndex.deserialize(b) } }
    }
    // asNullable: file sources force every read column nullable (the
    // DataFrameReader normalization this hand-built relation bypasses) —
    // without it the vectorized reader REFUSES a file missing a
    // non-nullable evolved column instead of null-padding it
    // exact plan-time cardinality from the sidecar (None when any file
    // lacks stats — the optimizer then falls back to size-only, never a
    // wrong count). DV'd rows are NOT subtracted here: the dv filter
    // plans ABOVE this relation, so the relation's count is the pre-
    // filter truth.
    val metaRowCount: Option[Long] = {
      val counts = rels.map(rel => statsByPath.get(qual(rel)).map(_.rows))
      if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
    }
    val raw = org.apache.spark.sql.NewspipeSqlBridge.fileIndexedDataFrame(spark,
      new LakeFileIndex(statuses, statsByPath, basePath, bloomByPath),
      org.apache.spark.sql.NewspipeSqlBridge.nullableSchema(schema),
      rowCount = metaRowCount,
      statsName = snap.getName)
    val dv = dvMapOf(snap)
    if (dv.isEmpty) raw
    else {
      import org.apache.spark.sql.functions.col
      val metaed = raw.select((raw.columns.map(col) :+
        col("_metadata.file_path").as("__dv_file") :+
        col("_metadata.row_index").as("__dv_pos")).toSeq: _*)
      dvFilter(metaed, dvPairs(base, snap, Some(rels.toSet)))
    }
  }

  // ---- deletion vectors ---------------------------------------------------

  /** The head snapshot's deletion-vector map (data-file rel → payload
    * rel) — observability for specs and tooling, the [[pruneInfo]] role.
    */
  def deletionVectors(layer: String): Map[String, String] =
    latestSnapshot(layer).map(dvMapOf).getOrElse(Map.empty)

  // ---- layer properties ---------------------------------------------------

  /** Layer properties (`_PROPERTIES.json` at the layer root — CONFIG, not
    * data, so not versioned with snapshots; Delta's TBLPROPERTIES role).
    * Recognized keys: `lake.enableDeletionVectors` = true routes
    * [[deleteWhere]] (and the SQL DELETE statement) through
    * [[deleteWhereDv]], falling back to the rewrite path past
    * `maxDvRows` — exactly Delta's enableDeletionVectors contract.
    */
  /** Hive partition columns of a layer: derived from the inventory's
    * `k=v` path segments; when the inventory carries none (an EMPTY layer
    * — e.g. a catalog `CREATE TABLE … PARTITIONED BY` whose first commit
    * has no rows), the declared `lake.partitionBy` property decides, so
    * the first real append still lands inside the hive layout.
    */
  private def layerPartitionCols(layer: String,
      inventory: Seq[String]): Seq[String] = {
    val derived = inventory
      .flatMap(_.split('/').dropRight(1).toSeq
        .filter(_.contains('='))
        .map(seg => seg.substring(0, seg.indexOf('='))))
      .distinct
    if (derived.nonEmpty) derived
    else properties(layer).get("lake.partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
  }

  def properties(layer: String): Map[String, String] = {
    val p = new Path(layerPath(layer), "_PROPERTIES.json")
    val f = fs(p)
    if (!f.exists(p)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(readFully(p)) match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v
        }.toMap
        case _ => Map.empty
      }
    }
  }

  /** Merge `updates` into the layer's properties (last-writer-wins — a
    * property flip is an admin action, not a data commit). A null/empty
    * value removes the key.
    */
  def setProperties(layer: String,
      updates: Map[String, String]): Map[String, String] = {
    import org.json4s._
    val merged = (properties(layer) ++ updates)
      .filter { case (_, v) => v != null && v.nonEmpty }
    val p = new Path(layerPath(layer), "_PROPERTIES.json")
    val f = fs(p)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(
        merged.toList.sortBy(_._1).map { case (k, v) =>
          k -> (JString(v): JValue) }))).getBytes("UTF-8"))
    finally out.close()
    merged
  }

  private def dvEnabled(layer: String): Boolean =
    properties(layer).get("lake.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true"))

  // ---- row tracking (stable row ids) ---------------------------------------

  /** Row tracking on/off (`lake.rowTracking=true` — Delta's
    * `delta.enableRowTracking` role). See [[enableRowTracking]].
    */
  def rowTrackingEnabled(layer: String): Boolean =
    properties(layer).get("lake.rowTracking")
      .exists(_.equalsIgnoreCase("true"))

  /** Turn on ROW TRACKING: from this point every row of the layer has a
    * STABLE identity (`_row_id`) that survives carry, deletion vectors,
    * compaction, and row-level rewrites — the identity
    * [[changeFeedTracked]] uses to attribute an UPDATE to pre/postimage
    * without the caller declaring key columns (Delta's row-tracking
    * feature).
    *
    * Mechanics: each data file owns a base id recorded in the manifest
    * (`rowBases`); a fresh file's rows are `base + ordinal` — free, no
    * physical column. A REWRITE (update/merge/compact) would reorder
    * rows, so rewrite paths materialize the ids they carry into a hidden
    * physical `_row_id` column of the new files; readers take
    * `coalesce(materialized, base + ordinal)`. The `rowWatermark` high
    * bound makes every allocation unique across the layer's history.
    *
    * Enablement BACKFILLS bases for the current inventory (one footer
    * read per file — the declared O(files) admin action, like Delta's
    * backfill job) by re-footing the HEAD manifest in place
    * ([[checkpoint]]'s data-invisible move); subsequent commits pay
    * O(increment). Parquet-only (the ordinal comes from the parquet
    * row index).
    */
  def enableRowTracking(layer: String): Unit = {
    require(config.format == "parquet",
      s"row tracking needs parquet row indexes; layer format is " +
        s"'${config.format}'")
    setProperties(layer, Map("lake.rowTracking" -> "true"))
    latestSnapshot(layer).foreach { snap =>
      refootHeadManifest(layer, snap, { m =>
        val missing = m.files.filterNot(m.rowBases.contains)
        if (missing.isEmpty) m
        else {
          val counts = parquetRowCounts(layer, missing)
          var wm = m.rowWatermark
          val assigned = missing.sorted.map { rel =>
            val b = wm; wm += math.max(counts(rel), 1L); rel -> b
          }
          m.copy(rowBases = m.rowBases ++ assigned, rowWatermark = wm)
        }
      })
    }
  }

  /** Exact row count per file from parquet footers — must NOT soft-fail
    * (unlike the stats sidecar): a wrong base would alias two rows'
    * identities. O(requested files): a driver thread pool below
    * `backfillJobThreshold` files (latency-optimal for the common small
    * backfill), a distributed Spark job over the file list above it
    * (a 10⁶-file inventory would bottleneck 16 driver threads).
    */
  private def parquetRowCounts(layer: String,
      rels: Seq[String]): Map[String, Long] = {
    val base = layerPath(layer)
    if (rels.size <= config.backfillJobThreshold)
      FileStats.collectResolved(spark.sparkContext.hadoopConfiguration,
        rels.map(r => r -> new Path(resolveRel(base, r))))
        .map(st => st.path -> st.rows).toMap
    else FileStats.rowCountsDistributed(spark,
      rels.map(r => r -> resolveRel(base, r)))
  }

  /** Re-foot the HEAD manifest in place (checkpoint-style — idempotent,
    * data-invisible, no new commit): used by declarations that must seed
    * manifest-carried counters ([[enableRowTracking]] bases,
    * [[addIdentityColumn]] watermarks). Self-contained heads synthesize
    * their manifest first (the directory IS the inventory).
    */
  private def refootHeadManifest(layer: String, snap: Path,
      update: SnapshotManifest => SnapshotManifest): Unit = {
    // A delta-only head folds its inventory AND its stats/bloom sidecars
    // off the parent chain. Refooting writes a full manifest and deletes
    // _DELTA.json below, which stops the chain fold — so the folded
    // sidecars must be MATERIALIZED first (checkpoint does exactly that),
    // or the head's own-increment-only sidecar reads as partial and
    // pruning silently turns off until the next natural checkpoint.
    if (isDeltaOnly(snap)) checkpoint(layer)
    val m = manifestOf(snap).getOrElse {
      val rels = snapshotDirFilesRel(snap).map(s"_v/${snap.getName}/" + _)
      SnapshotManifest(rels, snapshotSchema(layer, snap).toDDL,
        dvMapOf(snap))
    }
    val updated = update(m)
    if (updated == m) return
    val f = fs(snap)
    val (head, shards) = SnapshotManifest.toJsonSharded(updated,
      config.manifestShardSize)
    def put(name: String, body: String): Unit = {
      val out = f.create(new Path(snap, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    shards.zipWithIndex.foreach { case (body, i) =>
      put(SnapshotManifest.shardName(i), body)
    }
    put(SnapshotManifest.FileName, head) // head LAST (checkpoint rule)
    f.delete(new Path(snap, DeltaDoc.FileName), false)
    manifestCache.put(snap.toString, updated)
  }

  // ---- identity columns ----------------------------------------------------

  private val IdentityPrefix = "lake.identity."

  /** Declared identity columns: name → (start, step, allowExplicitInsert).
    * Delta's `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY`.
    */
  def identityColumns(layer: String): Map[String, Lake.Identity] =
    properties(layer).collect {
      case (k, v) if k.startsWith(IdentityPrefix) =>
        val p = v.split(",")
        k.stripPrefix(IdentityPrefix) ->
          Lake.Identity(p(0).toLong, p(1).toLong, p(2).toBoolean)
    }

  /** Declare `name` an IDENTITY column. From then on commits ALLOCATE the
    * column for rows that omit it (or carry NULL): dense `next + step*i`
    * ranges — one zipWithIndex pass over exactly the rows being filled,
    * O(increment). `ALWAYS` mode (allowExplicitInsert=false) refuses
    * explicit values on append/overwrite increments; `BY DEFAULT` keeps
    * them. The high watermark lives in the MANIFEST (`idHighs`, advanced
    * at commit time from the added files' column stats), so it is
    * transactional with the commit it covers, survives restarts, and —
    * unlike Delta, which only re-syncs on `SYNC IDENTITY` — explicit
    * BY-DEFAULT inserts bump it immediately and can never collide with a
    * later allocation.
    *
    * Declaring over a layer WITH commits is the `SYNC IDENTITY` move: the
    * column must already exist (integral type); one scan seeds the
    * watermark just past the aligned max (min, for negative step).
    */
  def addIdentityColumn(layer: String, name: String, start: Long = 1L,
      step: Long = 1L, allowExplicitInsert: Boolean = false): Unit = {
    require(step != 0L, "identity step must be non-zero")
    require(!identityColumns(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"layer '$layer' already declares identity column '$name'")
    require(!generatedColumns(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"'$name' is already GENERATED ALWAYS AS (expr) — a column cannot " +
        "be both")
    latestSnapshot(layer).foreach { snap =>
      val schema = snapshotSchema(layer, snap)
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0,
        s"layer '$layer' has commits but no column '$name' — identity " +
          "over existing layers seeds from existing values (declare at " +
          "creation, or add + backfill the column first)")
      import org.apache.spark.sql.types._
      require(Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(schema(idx).dataType),
        s"identity column '$name' must be integral; found " +
          s"${schema(idx).dataType.simpleString}")
      import org.apache.spark.sql.functions.{col, max, min}
      val agg = read(layer).agg(
        (if (step > 0) max(col(name)) else min(col(name)))
          .cast("long")).head()
      val next =
        if (agg.isNullAt(0)) start
        else Lake.alignBeyond(agg.getLong(0), start, step)
      setProperties(layer, Map(
        IdentityPrefix + name -> s"$start,$step,$allowExplicitInsert"))
      refootHeadManifest(layer, snap,
        m => m.copy(idHighs = m.idHighs + (name -> next)))
      return
    }
    setProperties(layer, Map(
      IdentityPrefix + name -> s"$start,$step,$allowExplicitInsert"))
  }

  /** The allocate-or-validate gate commit increments pass BEFORE the
    * generated-columns gate: missing identity columns are allocated for
    * every row, present ones allocate only the NULL rows (one limit-1
    * probe skips the all-explicit case — rewrites carrying existing
    * values pay nothing). `internalRewrite` marks row-op frames, whose
    * non-null values are CARRIED data, not explicit inserts — the ALWAYS
    * refusal applies only to user-facing append/overwrite increments.
    */
  private def applyIdentity(layer: String, df: DataFrame, context: String,
      internalRewrite: Boolean = false,
      freshStart: Boolean = false): DataFrame = {
    val ids = identityColumns(layer)
    if (ids.isEmpty) return df
    import org.apache.spark.sql.functions.col
    // freshStart (REPLACE TABLE): the new incarnation numbers from the
    // declared START again — Delta's identity-reset-on-replace semantics
    val headM =
      if (freshStart) None else latestSnapshot(layer).flatMap(manifestOf)
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      latestSnapshot(layer)
        .map(s => snapshotSchema(layer, s).fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap)
        .getOrElse(Map.empty)
    ids.toSeq.sortBy(_._1).foldLeft(df) { case (acc, (name, spec)) =>
      val next = headM.flatMap(_.idHighs.get(name)).getOrElse(spec.start)
      val dt = declared.getOrElse(name.toLowerCase,
        org.apache.spark.sql.types.LongType)
      if (!acc.columns.exists(_.equalsIgnoreCase(name)))
        denseIdentityFill(acc, name, next, spec.step, dt,
          columnExisted = false)
      else {
        if (!internalRewrite && !spec.allowExplicitInsert) {
          acc.filter(col(name).isNotNull).limit(1).collect()
            .headOption.foreach { r =>
              throw new IllegalArgumentException(
                s"$context: column '$name' is GENERATED ALWAYS AS " +
                  "IDENTITY — explicit values are refused (declare BY " +
                  s"DEFAULT to allow them); example row: $r")
            }
        }
        val anyNull =
          acc.filter(col(name).isNull).limit(1).collect().nonEmpty
        if (!anyNull) acc
        else denseIdentityFill(acc.filter(col(name).isNull), name, next,
          spec.step, dt, columnExisted = true)
          .unionByName(acc.filter(col(name).isNotNull))
      }
    }
  }

  /** Dense `next + step*i` allocation over exactly the rows that need a
    * value: one zipWithIndex pass (an internal count job + the zip) —
    * O(rows being filled), distributed, no single-partition shuffle. The
    * RDD hop is confined to the increment being written; Delta's
    * allocator pays the same shape (and, unlike its per-task ranges, the
    * allocated SET here is exactly {next, next+step, …} — deterministic
    * for oracles even though row assignment is not).
    */
  private def denseIdentityFill(df: DataFrame, name: String, next: Long,
      step: Long, dt: org.apache.spark.sql.types.DataType,
      columnExisted: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val order =
      if (columnExisted) df.columns.toSeq
      else df.columns.toSeq :+ name
    val dropped = if (columnExisted) df.drop(name) else df
    // identity-space exhaustion must fail LOUDLY: the cast below is
    // non-ANSI, so a watermark past the declared type's range would
    // otherwise silently wrap into duplicate/negative ids. Bounds check
    // per allocated value (free in the same pass — no extra count job),
    // exact arithmetic so even LongType overflow throws.
    val (lo, hi) = dt match {
      case org.apache.spark.sql.types.ByteType =>
        (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case org.apache.spark.sql.types.ShortType =>
        (Short.MinValue.toLong, Short.MaxValue.toLong)
      case org.apache.spark.sql.types.IntegerType =>
        (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    val rdd = dropped.rdd.zipWithIndex().map { case (r, i) =>
      val v = Math.addExact(next, Math.multiplyExact(step, i))
      if (v < lo || v > hi)
        throw new ArithmeticException(
          s"identity column '$name' exhausted: allocated value $v is " +
            s"outside the declared type's range [$lo, $hi]")
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v)
    }
    val filled = spark.createDataFrame(rdd, dropped.schema
      .add(name, org.apache.spark.sql.types.LongType, nullable = true))
    filled.select(order.map(c =>
      if (c.equalsIgnoreCase(name)) col(s"`$c`").cast(dt).as(c)
      else col(s"`$c`")): _*)
  }

  /** The layer head with the stable `_row_id` column attached — data
    * columns plus one LongType id per row. See [[enableRowTracking]] for
    * the identity contract. The rel→base map joins in as a BROADCAST
    * (O(files) driver memory — the same class as the manifest itself),
    * so the scan stays one pass with no shuffle.
    */
  def readWithRowIds(layer: String): DataFrame = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot"))
    withRowIdsFrame(layer, snap, snapshotInventory(layer, snap))
  }

  def readVersionWithRowIds(layer: String, version: String): DataFrame = {
    val snap = new Path(s"${layerPath(layer)}/_v/$version")
    require(fs(snap).exists(new Path(snap, "_COMMITTED")),
      s"layer '$layer' has no committed snapshot '$version'")
    withRowIdsFrame(layer, snap, snapshotInventory(layer, snap))
  }

  /** Core id-attaching read: `coalesce(materialized _row_id,
    * base + parquet row index)`, DV-filtered with the snapshot's own
    * vectors, logical column names, schema columns + `_row_id`.
    */
  private def withRowIdsFrame(layer: String, snap: Path,
      rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    require(rowTrackingEnabled(layer),
      s"layer '$layer' does not track row ids — enableRowTracking first")
    val schema = snapshotSchema(layer, snap)
    if (rels.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(Lake.RowIdCol,
            org.apache.spark.sql.types.LongType)))
    val m = manifestOf(snap).getOrElse(throw new IllegalStateException(
      s"layer '$layer' snapshot ${snap.getName} has no manifest — row " +
        "tracking requires manifest commits (enableRowTracking backfills)"))
    val missing = rels.filterNot(m.rowBases.contains)
    require(missing.isEmpty,
      s"layer '$layer' snapshot ${snap.getName}: ${missing.size} file(s) " +
        s"have no row-id base (e.g. ${missing.take(3).mkString(", ")}) — " +
        "committed before enableRowTracking? Re-run enableRowTracking")
    val mapping = mappingOf(snap)
    val base = layerPath(layer)
    val hint = org.apache.spark.sql.types.StructType(
      physicalSchema(schema, mapping).fields :+
        org.apache.spark.sql.types.StructField(Lake.RowIdCol,
          org.apache.spark.sql.types.LongType))
    val raw = readRelFiles(layer, rels, schemaHint = Some(hint),
      withMeta = true)
    val f = fs(new Path(base))
    val qualBase = f.makeQualified(new Path(base)).toString.stripSuffix("/")
    def qual(rel: String): String =
      if (Lake.isForeignRel(rel))
        f.makeQualified(new Path(resolveRel(base, rel))).toString
      else s"$qualBase/$rel"
    import spark.implicits._
    val basesDf = broadcast(rels.map(r => (qual(r), m.rowBases(r)))
      .toDF("__rb_file", "__rb_base"))
    val withId = raw.join(basesDf, col("__dv_file") === col("__rb_file"),
      "left")
      .withColumn(Lake.RowIdCol, coalesce(col(Lake.RowIdCol),
        col("__rb_base") + col("__dv_pos")))
      .drop("__rb_file", "__rb_base")
    val alive = dvFilter(withId, dvPairs(base, snap, Some(rels.toSet)))
    toLogical(alive, mapping).select((schema.fieldNames.map(col) :+
      col(Lake.RowIdCol)).toSeq: _*)
  }

  // ---- CHECK constraints --------------------------------------------------

  private val ConstraintPrefix = "lake.constraint."

  /** The layer's CHECK constraints (name → condition SQL), stored as
    * properties (Delta's `delta.constraints.<name>` idea).
    */
  def constraints(layer: String): Map[String, String] =
    properties(layer).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Add a CHECK constraint: the EXISTING data must satisfy it (one
    * validation scan, same as Delta's ALTER TABLE ADD CONSTRAINT), then
    * every subsequent commit validates only its INCREMENT — enforcement
    * cost scales with what is written, never with the 100 TB that
    * already passed. SQL semantics: NULL conditions pass (standard CHECK).
    */
  def addConstraint(layer: String, name: String,
      conditionSql: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'), s"constraint name '$name' must be " +
      "alphanumeric/underscore (it becomes a property key)")
    require(!constraints(layer).contains(name),
      s"layer '$layer' already has a constraint '$name' — drop it first")
    validateConstraints(layer, read(layer),
      Seq(name -> conditionSql), s"addConstraint('$layer', '$name')")
    setProperties(layer, Map(ConstraintPrefix + name -> conditionSql))
  }

  def dropConstraint(layer: String, name: String,
      ifExists: Boolean = false): Unit = {
    if (!constraints(layer).contains(name)) {
      if (ifExists) return
      throw new NoSuchElementException(
        s"layer '$layer' has no constraint '$name' " +
          s"(defined: ${constraints(layer).keys.toSeq.sorted.mkString(", ")})")
    }
    setProperties(layer, Map(ConstraintPrefix + name -> ""))
  }

  /** Fail loudly if `df` violates any given constraint — the commit-time
    * gate. One limit-1 job over the increment; zero cost when the layer
    * has no constraints.
    */
  private def validateConstraints(layer: String, df: DataFrame,
      checks: Seq[(String, String)], context: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val anyViolated = checks.map { case (_, c) =>
      not(coalesce(expr(c), lit(true)))
    }.reduce(_ || _)
    df.filter(anyViolated).limit(1).collect().headOption.foreach { r =>
      throw new IllegalArgumentException(
        s"$context violates CHECK constraint(s) " +
          checks.map { case (n, c) => s"$n CHECK ($c)" }.mkString("; ") +
          s" — example row: $r")
    }
  }

  /** The increments-only enforcement hook every write path calls. */
  private def enforceConstraints(layer: String, increment: DataFrame,
      context: String): Unit =
    validateConstraints(layer, increment, constraints(layer).toSeq, context)

  // ---- generated columns --------------------------------------------------

  private val GeneratedPrefix = "lake.generated."

  /** The layer's GENERATED ALWAYS AS columns (name → generation SQL),
    * stored as properties — Delta's `delta.generationExpression` column
    * metadata, relocated to the property surface every other layer-level
    * declaration (constraints, clustering, partition layout) already uses.
    */
  def generatedColumns(layer: String): Map[String, String] =
    properties(layer).collect {
      case (k, v) if k.startsWith(GeneratedPrefix) =>
        k.stripPrefix(GeneratedPrefix) -> v
    }

  /** Declare `name` GENERATED ALWAYS AS (`exprSql`). From then on every
    * commit increment either OMITS the column (the engine computes it) or
    * carries values that MATCH the expression (a mismatch refuses the
    * commit; NULL values mean "fill for me" — the shape a SQL INSERT with
    * a column list produces). Row-level ops recompute, so an UPDATE to a
    * source column keeps the invariant without the caller's help.
    *
    * Like Delta, generation expressions may not reference the generated
    * column itself or another generated column, and a layer that already
    * has commits can only declare over a column whose existing values
    * ALREADY satisfy the expression (one limit-1 validation scan — the
    * addConstraint posture; backfilling a column that does not exist yet
    * would silently change what old snapshots' rows read).
    */
  def addGeneratedColumn(layer: String, name: String,
      exprSql: String): Unit = {
    require(name.nonEmpty, "generated column name must be non-empty")
    require(!generatedColumns(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"layer '$layer' already declares generated column '$name'")
    val refs = generationRefs(exprSql)
    require(!refs.exists(_.equalsIgnoreCase(name)),
      s"generated column '$name' cannot reference itself " +
        s"(GENERATED ALWAYS AS ($exprSql))")
    val otherGen = generatedColumns(layer).keys
      .filter(g => refs.exists(_.equalsIgnoreCase(g)))
    require(otherGen.isEmpty,
      s"generated column '$name' cannot reference other generated " +
        s"column(s) ${otherGen.mkString(", ")}")
    latestSnapshot(layer).foreach { snap =>
      val schema = snapshotSchema(layer, snap)
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"layer '$layer' has commits but no column '$name' — generated " +
          "columns over existing layers must validate existing values " +
          "(declare at creation, or add + backfill the column first)")
      import org.apache.spark.sql.functions.{col, expr, not}
      val target = schema(schema.fieldIndex(name)).dataType
      val bad = read(layer).filter(col(name).isNotNull &&
        not(col(name) <=> expr(exprSql).cast(target))).limit(1)
      bad.collect().headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"addGeneratedColumn('$layer', '$name'): existing data does " +
            s"not satisfy GENERATED ALWAYS AS ($exprSql) — example row: $r")
      }
    }
    setProperties(layer, Map(GeneratedPrefix + name -> exprSql))
  }

  def dropGeneratedColumn(layer: String, name: String): Unit = {
    require(generatedColumns(layer).contains(name),
      s"layer '$layer' has no generated column '$name' " +
        s"(declared: ${generatedColumns(layer).keys.toSeq.sorted
          .mkString(", ")})")
    setProperties(layer, Map(GeneratedPrefix + name -> ""))
  }

  // ---- DEFAULT column values ---------------------------------------------

  private val DefaultValPrefix = "lake.defaultValue."

  /** Declared DEFAULT values: column → default expression SQL (the
    * `DEFAULT expr` column clause of Spark 4 / Delta, on the same
    * property surface as constraints/generated/identity declarations).
    */
  def columnDefaults(layer: String): Map[String, String] =
    properties(layer).collect {
      case (k, v) if k.startsWith(DefaultValPrefix) && v.nonEmpty =>
        k.stripPrefix(DefaultValPrefix) -> v
    }

  /** `ALTER TABLE … ALTER COLUMN name SET DEFAULT exprSql`. From then on
    * a commit increment that OMITS the column fills it with the
    * expression (cast to the declared type); a PRESENT column's values —
    * including explicit NULLs — are kept verbatim (explicit wins, the
    * ANSI DEFAULT contract). [[mergeApply]]'s `INSERT (cols)` clauses
    * fill unlisted default columns the same way. Dropping the default
    * stops the filling; existing data never rewrites (a default is a
    * write-time rule, not a read-time one — Delta's semantics exactly).
    *
    * The expression must be CONSTANT (no column references — ANSI
    * requires it; `current_date()`-style deterministic-per-statement
    * functions are fine), and the column must exist on a layer that
    * already has commits.
    */
  def setColumnDefault(layer: String, name: String, exprSql: String): Unit = {
    require(name.nonEmpty && exprSql.trim.nonEmpty,
      "setColumnDefault needs a column name and an expression")
    require(!generatedColumns(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"'$name' is GENERATED ALWAYS AS (expr) — a column cannot also " +
        "carry a DEFAULT")
    require(!identityColumns(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"'$name' is an IDENTITY column — a column cannot also carry a " +
        "DEFAULT")
    val refs = generationRefs(exprSql)
    require(refs.isEmpty,
      s"DEFAULT must be a constant expression; '$exprSql' references " +
        s"column(s) ${refs.mkString(", ")}")
    latestSnapshot(layer).foreach { snap =>
      require(snapshotSchema(layer, snap).fieldNames
          .exists(_.equalsIgnoreCase(name)),
        s"layer '$layer' has commits but no column '$name' — add the " +
          "column first (ALTER TABLE ADD COLUMN), then set its default")
    }
    // fail at declaration, not at first write, if the expression is bad
    spark.range(1).select(
      org.apache.spark.sql.functions.expr(exprSql)).collect()
    setProperties(layer, Map(DefaultValPrefix + name -> exprSql))
  }

  /** `ALTER TABLE … ALTER COLUMN name DROP DEFAULT` — stops the
    * fill-at-commit; already-written values are untouched.
    */
  def dropColumnDefault(layer: String, name: String): Unit = {
    require(columnDefaults(layer).keys.exists(_.equalsIgnoreCase(name)),
      s"layer '$layer' has no DEFAULT on column '$name' (declared: " +
        s"${columnDefaults(layer).keys.toSeq.sorted.mkString(", ")})")
    setProperties(layer, Map(DefaultValPrefix + name -> ""))
  }

  /** Fill-at-commit for DEFAULT columns: increments that omit a declared
    * column get it computed (cast to the layer's declared type so the
    * schema never drifts); present columns pass through verbatim. One
    * literal projection per missing column — zero cost when nothing is
    * declared.
    */
  private def applyDefaults(layer: String, df: DataFrame): DataFrame = {
    val defs = columnDefaults(layer)
    if (defs.isEmpty) return df
    import org.apache.spark.sql.functions.expr
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      latestSnapshot(layer)
        .map(snap => snapshotSchema(layer, snap).fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap)
        .getOrElse(Map.empty)
    defs.toSeq.sortBy(_._1).foldLeft(df) { case (acc, (n, sql)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(n))) acc
      // a default whose column is no longer in the layer schema must not
      // resurrect it (rename/drop re-key these properties, but a manifest
      // written before that fix — or a hand-set property — could still
      // carry a stale name; the declared schema is the authority)
      else if (declared.nonEmpty && !declared.contains(n.toLowerCase)) acc
      else {
        val raw = expr(sql)
        acc.withColumn(n,
          declared.get(n.toLowerCase).map(raw.cast).getOrElse(raw))
      }
    }
  }

  /** RENAME/DROP COLUMN refusal for columns other declarations READ:
    * a CHECK constraint or another column's generation expression that
    * references the column would break at the NEXT commit (analysis
    * error at fill/validate time) — refuse NOW with the fix named, the
    * Delta posture.
    */
  private def refuseReferencedColumn(layer: String, col: String,
      op: String): Unit = {
    val badChecks = constraints(layer).filter { case (_, sql) =>
      generationRefs(sql).exists(_.equalsIgnoreCase(col))
    }.keys.toSeq.sorted
    require(badChecks.isEmpty,
      s"$op('$layer', '$col'): CHECK constraint(s) " +
        s"${badChecks.mkString(", ")} reference the column — drop them " +
        "first (ALTER TABLE DROP CONSTRAINT)")
    val badGen = generatedColumns(layer).filter { case (g, sql) =>
      !g.equalsIgnoreCase(col) &&
        generationRefs(sql).exists(_.equalsIgnoreCase(col))
    }.keys.toSeq.sorted
    require(badGen.isEmpty,
      s"$op('$layer', '$col'): generated column(s) " +
        s"${badGen.mkString(", ")} reference it in their expression — " +
        "drop the generated declaration first")
    // persisted indexes key LOGICAL column names into immutable shard
    // artifacts — renaming or dropping a keyed column would strand every
    // artifact and declaration (the bloom-sidecar rule applied to the
    // index families); unrelated columns stay free to evolve
    val badIdx =
      vectorIndexes(layer).collect {
        case m if m.idCol.equalsIgnoreCase(col) ||
            m.vecCol.equalsIgnoreCase(col) => s"vector index '${m.name}'"
      } ++ dedupIndexes(layer).collect {
        case m if m.idCol.equalsIgnoreCase(col) ||
            m.textCol.equalsIgnoreCase(col) => s"dedup index '${m.name}'"
      }
    require(badIdx.isEmpty,
      s"$op('$layer', '$col'): ${badIdx.mkString(" and ")} key(s) the " +
        "column — drop the index first (shard artifacts key logical " +
        "column names)")
  }

  /** Per-column layer properties (DEFAULT / GENERATED / IDENTITY) follow
    * a RENAME and vanish on a DROP — otherwise [[applyDefaults]] or the
    * generation/identity fill would silently resurrect the old name on
    * the next commit increment. Bloom-index columns are handled inline by
    * the callers (their property is one list, not per-column keys).
    */
  private def rekeyColumnProperties(layer: String, from: String,
      to: Option[String]): Unit = {
    val updates = Seq(DefaultValPrefix, GeneratedPrefix, IdentityPrefix)
      .flatMap { prefix =>
        properties(layer).collect {
          case (k, v) if k.startsWith(prefix) && v.nonEmpty &&
              k.stripPrefix(prefix).equalsIgnoreCase(from) =>
            to match {
              case Some(t) => Seq(k -> "", prefix + t -> v)
              case None    => Seq(k -> "")
            }
        }.flatten
      }
    if (updates.nonEmpty) setProperties(layer, updates.toMap)
  }

  /** Top-level column names a generation expression references. */
  private def generationRefs(exprSql: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: UnresolvedAttribute => a.nameParts.head
    }.distinct
  }

  /** The fill-or-validate gate every commit increment passes: missing
    * generated columns are COMPUTED (cast to the layer's declared type so
    * the schema never drifts), present ones are validated against the
    * expression in one limit-1 probe (NULLs fill instead — the
    * DEFAULT-mediated INSERT shape), and row-level rewrites RECOMPUTE so
    * updates to source columns propagate (Delta's update semantics).
    * Cost ∝ the increment, zero when the layer declares nothing.
    */
  private def applyGenerated(layer: String, df: DataFrame, context: String,
      recompute: Boolean = false): DataFrame = {
    val gens = generatedColumns(layer)
    if (gens.isEmpty) return df
    import org.apache.spark.sql.functions.{coalesce, col, expr, not}
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      latestSnapshot(layer)
        .map(snap => snapshotSchema(layer, snap).fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap)
        .getOrElse(Map.empty)
    def genExpr(name: String, sql: String): org.apache.spark.sql.Column = {
      val raw = expr(sql)
      declared.get(name.toLowerCase).map(raw.cast).getOrElse(raw)
    }
    val ordered = gens.toSeq.sortBy(_._1)
    val present = ordered.filter { case (n, _) =>
      df.columns.exists(_.equalsIgnoreCase(n)) }
    if (present.nonEmpty && !recompute) {
      val anyMismatch = present.map { case (n, sql) =>
        col(n).isNotNull && not(col(n) <=> genExpr(n, sql))
      }.reduce(_ || _)
      df.filter(anyMismatch).limit(1).collect().headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"$context violates GENERATED ALWAYS AS: " +
            present.map { case (n, sql) => s"$n AS ($sql)" }
              .mkString("; ") + s" — example row: $r")
      }
    }
    ordered.foldLeft(df) { case (acc, (n, sql)) =>
      if (!acc.columns.exists(_.equalsIgnoreCase(n)))
        acc.withColumn(n, genExpr(n, sql))
      else if (recompute) acc.withColumn(n, genExpr(n, sql))
      else acc.withColumn(n, coalesce(col(n), genExpr(n, sql)))
    }
  }

  /** Derive partition-prunable conjuncts from a predicate over a
    * generated column's SOURCE column — the Delta headline: a layer
    * partitioned by `d GENERATED ALWAYS AS (CAST(ts AS DATE))` must
    * answer `ts BETWEEN …` by scanning only the matching `d=` partitions,
    * without the caller ever mentioning `d`.
    *
    * Sound because the supported generation shapes — cast-to-date,
    * `to_date`, `date_trunc`, `year` — are all NON-DECREASING in their
    * argument: `ts ⋈ lit` implies `f(ts) ⋈' f(lit)` (strict comparisons
    * weaken to their inclusive forms). The derived conjuncts are
    * implied, so they are added to BOTH the pruning predicate and the
    * residual filter — semantics never change, files (and whole hive
    * partition directories) stop being read.
    */
  private def augmentGenerated(layer: String,
      predicate: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val gens = generatedColumns(layer)
    if (gens.isEmpty) return predicate
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.functions.col
    val bridge = org.apache.spark.sql.NewspipeSqlBridge
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // (source column, literal-side transform) for the monotonic shapes
    def monotonic(sql: String)
        : Option[(String, org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column)] =
      try spark.sessionState.sqlParser.parseExpression(sql) match {
        case Cast(a, org.apache.spark.sql.types.DateType, _, _) =>
          attrName(a).map(_ -> ((c: org.apache.spark.sql.Column) =>
            c.cast("date")))
        case f: UnresolvedFunction if f.arguments.length == 1 &&
            Seq("to_date", "year").contains(
              f.nameParts.last.toLowerCase) =>
          val fn = f.nameParts.last.toLowerCase
          attrName(f.arguments.head).map(_ ->
            ((c: org.apache.spark.sql.Column) =>
              if (fn == "to_date") org.apache.spark.sql.functions.to_date(c)
              else org.apache.spark.sql.functions.year(c)))
        case f: UnresolvedFunction if f.arguments.length == 2 &&
            f.nameParts.last.equalsIgnoreCase("date_trunc") =>
          (f.arguments.head, attrName(f.arguments(1))) match {
            case (Literal(u, org.apache.spark.sql.types.StringType), Some(a)) =>
              Some(a -> ((c: org.apache.spark.sql.Column) =>
                org.apache.spark.sql.functions.date_trunc(u.toString, c)))
            case _ => None
          }
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    // the Column DSL converts to UnresolvedFunction nodes (">=", "and",
    // …) rather than resolved BinaryComparisons — recognize both forms
    def fname(f: UnresolvedFunction): String = f.nameParts.last.toLowerCase
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction if f.arguments.length == 2 &&
          fname(f) == "and" =>
        conjuncts(f.arguments.head) ++ conjuncts(f.arguments(1))
      case other => Seq(other)
    }
    // (op symbol, left, right) of a comparison in either form
    def cmpOf(e: Expression): Option[(String, Expression, Expression)] =
      e match {
        case c: EqualTo => Some(("=", c.left, c.right))
        case c: GreaterThan => Some((">", c.left, c.right))
        case c: GreaterThanOrEqual => Some((">=", c.left, c.right))
        case c: LessThan => Some(("<", c.left, c.right))
        case c: LessThanOrEqual => Some(("<=", c.left, c.right))
        case f: UnresolvedFunction if f.arguments.length == 2 &&
            Set("=", "==", ">", ">=", "<", "<=").contains(fname(f)) =>
          Some((fname(f).replace("==", "="),
            f.arguments.head, f.arguments(1)))
        case _ => None
      }
    val preds = conjuncts(bridge.convertedExpression(predicate))
    val derived = for {
      (g, sql) <- gens.toSeq.sortBy(_._1)
      (src, f) <- monotonic(sql).toSeq
      p <- preds
      (sym, left, right) <- cmpOf(p).toSeq
      d <- {
        val fwd = (attrName(left), right) match {
          case (Some(a), l: Literal) if a.equalsIgnoreCase(src) =>
            Some(l -> true)
          case _ => None
        }
        val rev = (left, attrName(right)) match {
          case (l: Literal, Some(a)) if a.equalsIgnoreCase(src) =>
            Some(l -> false)
          case _ => None
        }
        (fwd orElse rev).flatMap { case (l, attrLeft) =>
          val fl = f(bridge.column(l))
          sym match {
            case "=" => Some(col(g) === fl)
            case ">" | ">=" =>
              Some(if (attrLeft) col(g) >= fl else col(g) <= fl)
            case "<" | "<=" =>
              Some(if (attrLeft) col(g) <= fl else col(g) >= fl)
            case _ => None
          }
        }.toSeq
      }
    } yield d
    derived.foldLeft(predicate)(_ && _)
  }

  /** dv map of a snapshot (data-file rel → payload rel); empty when the
    * snapshot has none (incl. every self-contained snapshot).
    */
  private def dvMapOf(snap: Path): Map[String, String] =
    manifestOf(snap).map(_.dvs).getOrElse(Map.empty)

  private val dvPayloadCache = new LruCache[String, Map[String, Seq[Long]]](128)

  /** Parsed DV payload document (cached — payloads are immutable). */
  private def dvPayload(base: String,
      payloadRel: String): Map[String, Seq[Long]] = {
    val p = resolveRel(base, payloadRel)
    dvPayloadCache.getOrElseUpdate(p)(
      DeletionVectors.fromJson(readFully(new Path(p))))
  }

  /** (qualified absolute file path, deleted position) pairs of a
    * snapshot's DVs, optionally restricted to a file scope — the
    * broadcast side of the read-path anti-join. Bounded by the
    * `maxDvRows` discipline [[deleteWhereDv]] enforces at write time.
    */
  private def dvPairs(base: String, snap: Path,
      scope: Option[Set[String]] = None): Seq[(String, Long)] = {
    val dv = dvMapOf(snap)
    val wanted = scope match {
      case Some(s) => dv.filter { case (rel, _) => s.contains(rel) }
      case None => dv
    }
    if (wanted.isEmpty) return Nil
    val f = fs(new Path(base))
    val qualBase = f.makeQualified(new Path(base)).toString.stripSuffix("/")
    def qual(rel: String): String =
      if (Lake.isForeignRel(rel))
        f.makeQualified(new Path(resolveRel(base, rel))).toString
      else s"$qualBase/$rel"
    val payloadKey = payloadKeyOf _
    wanted.groupBy(_._2).toSeq.flatMap { case (payloadRel, entries) =>
      val all = dvPayload(base, payloadRel)
      entries.keysIterator.flatMap(rel =>
        all.getOrElse(payloadKey(rel), Nil).map(pos => (qual(rel), pos)))
        .toSeq
    }
  }

  /** Anti-join out deleted positions; `df` must carry
    * `__dv_file`/`__dv_pos` (the per-relation `_metadata` projection —
    * selected BEFORE any union, because metadata columns resolve only on
    * the file relation itself).
    */
  private def dvFilter(df: DataFrame, pairs: Seq[(String, Long)],
      keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val out =
      if (pairs.isEmpty) df
      else {
        import spark.implicits._
        val del = broadcast(pairs.toDF("__del_file", "__del_pos"))
        df.join(del, col("__dv_file") === col("__del_file") &&
          col("__dv_pos") === col("__del_pos"), "left_anti")
      }
    if (keepMeta) out else out.drop("__dv_file", "__dv_pos")
  }

  /** Row-level DELETE as a DELETION VECTOR commit (Delta's DV idea): mark
    * the matched rows' positions dead in a sidecar payload and carry EVERY
    * data file by reference — zero file rewrites, cost ∝ matched rows.
    * The economics for small scattered deletes (GDPR erasure, spot
    * corrections) on a layer where even one touched 128 MB file dwarfs the
    * handful of rows being removed; [[deleteWhere]] remains the right tool
    * for bulk predicates, and `maxDvRows` refuses past the point where the
    * position list itself stops being driver-small. A file's positions are
    * CUMULATIVE across DV commits (each commit writes the union into its
    * own payload and repoints the manifest), so readers resolve one
    * payload per file, never a chain. [[compact]] materializes DVs
    * (reads are DV-filtered, so the rewrite drops dead rows and empties
    * the map) — the escape hatch bounding read-side anti-join size.
    */
  def deleteWhereDv(layer: String, predicate: org.apache.spark.sql.Column,
      maxDvRows: Long = 10000000L): Lake.RowOpResult =
    dvDelete(layer, predicate, maxDvRows) match {
      case Right(r) => r
      case Left(-1L) => throw new IllegalArgumentException(
        s"deleteWhereDv('$layer'): the predicate touches shallow-clone " +
          "cross-layer references — use deleteWhere (rewrite), or " +
          "compact() to materialize the clone first")
      case Left(n) => throw new IllegalArgumentException(
        s"deleteWhereDv matched $n rows — past maxDvRows ($maxDvRows); " +
          "use deleteWhere (file rewrite) for bulk deletes")
    }

  /** [[deleteWhereDv]] as the property-routed attempt: None = the match
    * was bulk, let the caller take the rewrite path instead of failing.
    */
  private def deleteWhereDvOrNot(layer: String,
      predicate: org.apache.spark.sql.Column,
      maxDvRows: Long = 10000000L): Option[Lake.RowOpResult] =
    dvDelete(layer, predicate, maxDvRows).toOption

  /** Left(matchedCount) when the match exceeds `maxDvRows` (counted with
    * an aggregate BEFORE any driver materialization — a bulk match never
    * lands on the driver just to be refused).
    */
  private def dvDelete(layer: String,
      predicate: org.apache.spark.sql.Column,
      maxDvRows: Long): Either[Long, Lake.RowOpResult] = {
    import org.apache.spark.sql.functions.col
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — row ops need the " +
        "snapshot protocol; land the layer with writeAtomic/compact first"))
    val base = layerPath(layer)
    val inventory = snapshotInventory(layer, snap)
    val mapping = mappingOf(snap)
    val oldStats = rebasedStats(layer, snap)
    val cond =
      if (oldStats.isEmpty) None
      else resolveCondition(layer, base, oldStats.values.toSeq, predicate,
        mapping)
    def mayMatch(rel: String): Boolean = oldStats.get(rel) match {
      case Some(st) => cond.forall(FileStats.matches(st, _))
      case None => true
    }
    val affected = inventory.filter(mayMatch)
    // DV commits on cross-layer (clone) references can't land: the new
    // payload would key positions by the CLONE's `../<src>/` rels while
    // carried source payloads key source-relative — two spellings of one
    // file in one map is how deletes get silently lost. Signal the caller
    // (Left(-1)): the property-routed path falls back to the rewrite, the
    // explicit deleteWhereDv call refuses loudly.
    if (affected.exists(Lake.isForeignRel)) return Left(-1L)
    val carriedDv = dvMapOf(snap)
    if (affected.isEmpty)
      return Right(Lake.RowOpResult(snap.toString, 0, inventory.size,
        noop = true))
    val schema = snapshotSchema(layer, snap)
    val raw = toLogical(readRelFiles(layer, affected,
      schemaHint = Some(physicalSchema(schema, mapping)),
      withMeta = true), mapping)
    // already-dead rows must not re-match (their positions are already in
    // the carried payloads — re-adding would be harmless but skews counts)
    val alive = dvFilter(raw, dvPairs(base, snap, Some(affected.toSet)),
      keepMeta = true)
    val matchedDf = alive.filter(predicate)
      .select(col("__dv_file"), col("__dv_pos")).persist()
    val matched = try {
      val n = matchedDf.count()
      if (n == 0)
        return Right(Lake.RowOpResult(snap.toString, 0, inventory.size,
          noop = true))
      if (n > maxDvRows) return Left(n)
      matchedDf.collect().map(r => (r.getString(0), r.getLong(1)))
    } finally matchedDf.unpersist(blocking = false)
    val qualBase = fs(new Path(base)).makeQualified(new Path(base))
      .toString.stripSuffix("/") + "/"
    val newByRel = matched.groupBy(_._1.stripPrefix(qualBase))
      .map { case (rel, xs) => rel -> xs.map(_._2).toSeq }
    val merged = newByRel.map { case (rel, pos) =>
      val old = carriedDv.get(rel)
        .map(pr => dvPayload(base, pr).getOrElse(rel, Nil)).getOrElse(Nil)
      rel -> (old ++ pos).distinct.sorted
    }
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    val nf = fs(newSnap)
    try {
      nf.mkdirs(newSnap) // no data files — positions + manifest only
      val payloadRel = s"_v/${newSnap.getName}/${DeletionVectors.payloadName(0)}"
      val out = nf.create(new Path(newSnap, DeletionVectors.payloadName(0)),
        false)
      try out.write(DeletionVectors.toJson(merged).getBytes("UTF-8"))
      finally out.close()
      commitManifest(layer, snap, newSnap, inventory, oldStats, schema.toDDL,
        dvs = carriedDv ++ merged.keys.map(_ -> payloadRel), op = "DELETE",
        mapping = mapping, dropped = droppedOf(snap))
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        nf.delete(newSnap, true)
        throw e
    }
    Right(Lake.RowOpResult(newSnap.toString, 0, inventory.size))
  }

  /** Read an EXPLICIT layer-root-relative file list with hive partition
    * columns intact. Spark's partition discovery walks each file leaf-up
    * and requires every file to stop at the SAME root — a manifest
    * inventory spanning several `_v/<version>` directories has one stop
    * per version dir and fails `[CONFLICTING_DIRECTORY_STRUCTURES]` even
    * with `basePath` set (the option only relocates the root, it can't
    * split it). So: group the list by version dir, load each group with
    * ITS dir as the discovery root, and union — group count = referenced
    * version dirs (small, row-op-bounded), and each group's partition
    * parsing is the ordinary single-root case. (Delta solves the same
    * problem with a log-backed FileIndex that bypasses discovery; the
    * grouped union is the same answer through public API.)
    */
  private def readRelFiles(layer: String, rels: Seq[String],
      mergeSchema: Boolean = false,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None,
      withMeta: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = layerPath(layer)
    val groups = rels.groupBy(versionDirOf).toSeq.sortBy(_._1)
    val frames = groups.map { case (vdir, files) =>
      val root = if (vdir.isEmpty) base else resolveRel(base, vdir)
      var reader = spark.read.format(config.format).option("basePath", root)
      // an explicit schema makes columns a file predates read as null —
      // the schema-evolution read — and pins one shape across groups
      schemaHint.foreach(s => reader = reader.schema(s))
      val frame = (if (mergeSchema) reader.option("mergeSchema", "true")
        else reader)
        .load(files.map(rp => resolveRel(base, rp)): _*)
      // metadata columns resolve only on the file relation itself, so the
      // DV callers' (file, position) projection must happen INSIDE each
      // group, before the union erases it
      if (withMeta) frame.select((frame.columns.map(col) :+
        col("_metadata.file_path").as("__dv_file") :+
        col("_metadata.row_index").as("__dv_pos")).toSeq: _*)
      else frame
    }
    frames.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = mergeSchema))
  }

  /** Ref 02:29, 03:30: batch read of a layer. Resolves the snapshot pointer
    * when the layer was written with [[writeAtomic]]; falls back to the flat
    * layout otherwise. `mergeSchema` unions parquet footers across files —
    * the schema-evolution read for layers whose appends added columns
    * (rows from pre-evolution files read null for the new columns).
    */
  def read(layer: String, mergeSchema: Boolean = false): DataFrame =
    latestSnapshot(layer) match {
      case Some(snap) => loadSnapshot(layer, snap, mergeSchema)
      case None =>
        // No committed snapshot. If flat data exists (a previously-flat layer
        // whose FIRST writeAtomic is still in flight or crashed pre-commit),
        // keep serving it — that is exactly the isolation the protocol
        // promises. Only a layer with an un-committed _v and NO flat data is
        // unreadable; name that condition instead of letting Spark throw a
        // bare schema-inference error.
        val flat = new Path(layerPath(layer))
        val f = fs(flat)
        val hasFlatData = f.exists(flat) &&
          f.listStatus(flat).exists(s => !s.getPath.getName.startsWith("_"))
        require(hasFlatData || !f.exists(new Path(flat, "_v")),
          s"layer '$layer' is snapshot-managed but has no committed snapshot " +
            "yet — the first writeAtomic has not finished (or crashed before " +
            "committing)")
        val reader = spark.read.format(config.format)
        (if (mergeSchema) reader.option("mergeSchema", "true") else reader)
          .load(layerPath(layer))
    }

  /** FILTERED read with sidecar data skipping: resolve the newest
    * snapshot, evaluate `predicate` against its `_STATS.json` (see
    * [[FileStats]]), and scan ONLY the files that can possibly match —
    * then re-apply the full predicate, so the result is always exactly
    * `read(layer).filter(predicate)`. Falls back to that plain form when
    * the layer is flat, the sidecar is absent, or nothing prunes.
    *
    * This is the read path that makes a 10⁵-file layer answer a selective
    * query without 10⁵ file opens: one driver-side JSON read replaces the
    * per-file footer round-trips, and with [[newspipe.ops.ZOrder]]-clustered
    * layouts the surviving set is a small fraction of the layer. When
    * every file prunes, the residual always-false filter lets Catalyst
    * fold the scan to an empty relation — zero tasks.
    */
  def readWhere(layer: String, predicate0: org.apache.spark.sql.Column,
      mergeSchema: Boolean = false): DataFrame = {
    // generated-column derivation first: a ts predicate on a layer
    // partitioned by a generated date(ts) gains the implied partition
    // conjunct, so both the sidecar pruning below AND Spark's own hive
    // partition pruning in the fallback paths skip whole directories
    val predicate = augmentGenerated(layer, predicate0)
    val plain = () => read(layer, mergeSchema).filter(predicate)
    prunePlan(layer, predicate) match {
      case None => plain()
      case Some(p) if p.keptPaths.size == p.totalFiles => plain()
      case Some(p) if p.keptPaths.isEmpty =>
        plain().filter(org.apache.spark.sql.functions.lit(false))
      case Some(p) if p.keptPaths.exists(r =>
          r.startsWith("_v/") || Lake.isForeignRel(r)) =>
        // manifest snapshot: kept files span version dirs (and, on
        // clones, other layers/bases) — per-dir discovery roots + the
        // recorded schema (see readRelFiles); DV'd files filter through
        // their positions like every other read
        val snap = latestSnapshot(layer).get // manifest paths ⇒ snapshot
        val dv = dvMapOf(snap)
        val mapping = mappingOf(snap)
        val hasDv = p.keptPaths.exists(dv.contains)
        val raw = toLogical(readRelFiles(layer, p.keptPaths, mergeSchema,
          schemaHint = Some(physicalSchema(layerSchema(layer), mapping)),
          withMeta = hasDv), mapping)
        val alive =
          if (hasDv) dvFilter(raw,
            dvPairs(layerPath(layer), snap, Some(p.keptPaths.toSet)))
          else raw
        alive.filter(predicate)
      case Some(p) =>
        val reader = spark.read.format(config.format)
          .option("basePath", p.base)
        (if (mergeSchema) reader.option("mergeSchema", "true") else reader)
          .load(p.keptPaths.map(rp => s"${p.base}/$rp"): _*)
          .filter(predicate)
    }
  }

  /** What [[readWhere]] would prune, without reading data — the
    * observability hook for specs and benchmarks. None when the layer has
    * no stats at all (stats disabled, collection soft-failed, or a flat
    * layer never written through [[writeBatchIdempotent]]). On flat
    * batch-sidecar layers the row numbers cover stats-known files only
    * (files landed outside the idempotent writer count in `totalFiles`
    * and are always kept, but their row counts are unknown).
    */
  def pruneInfo(layer: String,
      predicate: org.apache.spark.sql.Column): Option[Lake.PruneInfo] =
    prunePlan(layer, augmentGenerated(layer, predicate)).map(p =>
      Lake.PruneInfo(p.keptPaths.size, p.totalFiles, p.keptRows, p.totalRows))

  private final case class PrunePlan(base: String, keptPaths: Seq[String],
      totalFiles: Int, keptRows: Long, totalRows: Long)

  /** Shared pruning for [[readWhere]]/[[pruneInfo]]. Snapshot layers trust
    * the sidecar as the complete file inventory (the snapshot is
    * immutable); flat batch-sidecar layers prune against the ACTUAL
    * listing, keeping any file the sidecars don't describe — a plain
    * `write` append next to idempotent batches can never be skipped.
    */
  private def prunePlan(layer: String,
      predicate: org.apache.spark.sql.Column): Option[PrunePlan] = {
    // Sidecar stats are keyed by PHYSICAL names; resolveCondition
    // translates the (logical) predicate through the head mapping, so
    // pruning stays exact on renamed layers too.
    val headMapping = latestSnapshot(layer).map(mappingOf)
      .getOrElse(Map.empty[String, String])
    sidecarStats(layer) match {
      case Some((snap, all)) =>
        lazy val cond = resolveCondition(layer, snap, all, predicate,
          headMapping)
        val kept = all.filter(st => cond.forall(FileStats.matches(st, _)))
        Some(PrunePlan(snap, kept.map(_.path), all.size,
          kept.map(_.rows).sum, all.map(_.rows).sum))
      case None => flatBatchStats(layer).map { stats =>
        lazy val cond = resolveCondition(layer, layerPath(layer), stats,
          predicate)
        def keep(st: FileStats.FileStat): Boolean =
          cond.forall(FileStats.matches(st, _))
        val byPath = stats.map(s => s.path -> s).toMap
        val listed = listDataFilesRel(layer)
        val keptPaths = listed.filter(rel => byPath.get(rel).forall(keep))
        PrunePlan(layerPath(layer), keptPaths, listed.size,
          keptPaths.flatMap(byPath.get).map(_.rows).sum,
          listed.flatMap(byPath.get).map(_.rows).sum)
      }
    }
  }

  /** One-footer schema cache for [[resolveCondition]] (keyed by the sample
    * file, which is immutable).
    */
  private val schemaCache =
    new LruCache[String, org.apache.spark.sql.types.StructType](32)

  /** Read schema of each self-contained parquet snapshot THIS instance
    * committed, keyed by snapshot path: the data columns every footer
    * carries (partition columns excluded), nullable as file reads are.
    * Reading a snapshot right after committing it then skips the
    * footer-inference job. Sound because a committed snapshot is
    * immutable and its path is never reused.
    */
  private val committedSchemas =
    new LruCache[String, org.apache.spark.sql.types.StructType](32)

  /** Footer schema of one immutable data file (cached). */
  private def footerSchema(file: String): org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(file)(
      spark.read.format(config.format).load(file).schema)

  /** Resolve the predicate WITHOUT listing the layer: analyze+optimize the
    * filter over an empty LogicalRDD with the layer's schema (one cached
    * footer read + partition keys from the sidecar). An empty LocalRelation
    * would be folded away with the Filter by PropagateEmptyRelation — a
    * LogicalRDD's emptiness is not statically known, so the optimized
    * condition survives with casts folded, exactly what [[FileStats]]
    * evaluates. At 10⁵ files this is the difference between a
    * milliseconds-scale decision and paying the full listing the sidecar
    * exists to avoid. Falls back to the listing-based resolution when the
    * one-file schema can't resolve the predicate (schema-evolution layers
    * whose sampled file predates a column).
    */
  private def resolveCondition(layer: String, base: String,
      stats: Seq[FileStats.FileStat],
      predicate: org.apache.spark.sql.Column,
      mapping: Map[String, String] = Map.empty)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    try {
      val first = stats.head
      val sampleFile = resolveRel(base, first.path)
      val fileSchema = footerSchema(sampleFile)
      val partCols = stats.iterator.flatMap(_.partitionValues.keysIterator)
        .toSeq.distinct.filterNot(fileSchema.fieldNames.contains)
      val schema = StructType(fileSchema.fields ++
        partCols.map(StructField(_, StringType)))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // the sample-file schema speaks PHYSICAL names — translate the
      // predicate so stats pruning stays correct under column mapping
      resolvedCondition(empty.filter(predicateToPhysical(predicate, mapping)))
    } catch {
      case scala.util.control.NonFatal(_) =>
        // fallback resolves against the LOGICAL read frame — untranslated
        resolvedCondition(read(layer).filter(predicate))
    }
  }

  /** Merged per-batch sidecars of a flat [[writeBatchIdempotent]] layer —
    * None for snapshot-managed layers or when no batch ever landed stats.
    */
  private def flatBatchStats(layer: String): Option[Seq[FileStats.FileStat]] = {
    val root = new Path(layerPath(layer))
    val f = fs(root)
    if (!f.exists(root) || latestSnapshot(layer).isDefined) None
    else {
      val sidecars = f.listStatus(root)
        .filter(s => s.isFile &&
          s.getPath.getName.startsWith(FileStats.BatchSidecarPrefix))
        .map(_.getPath).sortBy(_.getName).toSeq
      if (sidecars.isEmpty) None
      else Some(sidecars.flatMap(p => FileStats.fromJson(readFully(p))))
    }
  }

  /** Data files of a flat layer, paths relative to the layer root. Mirrors
    * Spark's listing rules: `_`/`.`-prefixed names are hidden unless they
    * are `k=v` partition directories.
    */
  private def listDataFilesRel(layer: String): Seq[String] = {
    val root = new Path(layerPath(layer))
    val f = fs(root)
    val rootPrefix = f.makeQualified(root).toString.stripSuffix("/") + "/"
    val buf = Vector.newBuilder[String]
    FsListing.filesRecursive(f, root).foreach { s =>
      if (s.isFile && s.getPath.toString.startsWith(rootPrefix)) {
        val rel = s.getPath.toString.stripPrefix(rootPrefix)
        val segments = rel.split('/')
        val visible = segments.forall(seg =>
          (!seg.startsWith("_") && !seg.startsWith(".")) || seg.contains("="))
        if (visible) buf += rel
      }
    }
    buf.result()
  }

  private def readFully(p: Path): String = {
    val in = fs(p).open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** The fully-analyzed, constant-folded filter condition of a
    * `read(layer).filter(predicate)` frame — the Column DSL builds
    * unresolved function nodes (`'<'(id, 50)`), so [[FileStats.prune]]
    * must see the OPTIMIZED plan's condition, where attributes are
    * resolved, implicit casts inserted, and foldable literals folded.
    * None when the optimizer removed the filter entirely (a trivially-true
    * predicate) — the caller then keeps every file, which is exact.
    */
  private def resolvedCondition(filtered: DataFrame)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    filtered.queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }

  /** Parsed sidecars by snapshot path — a committed snapshot directory is
    * immutable (overwrites land NEW versions), so the cache can never go
    * stale; it exists because interactive use re-prunes the same snapshot
    * per query and the JSON parse is the dominant fixed cost of a pruned
    * read at bench scale.
    */
  private val sidecarCache = new LruCache[String, Seq[FileStats.FileStat]](32)

  /** Newest committed snapshot's sidecar stats, if any, with the base the
    * stats paths are relative to: the snapshot dir for self-contained
    * snapshots, the LAYER root for manifest (row-op) snapshots — whose
    * inventory spans version directories.
    */
  private def sidecarStats(layer: String): Option[(String, Seq[FileStats.FileStat])] =
    latestSnapshot(layer).flatMap { snap =>
      if (manifestOf(snap).isDefined) {
        // manifest (or incremental) snapshot: the folded chain stats,
        // INTERSECTED with the live inventory — pruning treats this list
        // as the complete file set, so a fold superset (removed files)
        // would resurrect data and a partial fold (a chain commit's
        // soft-failed sidecar) would silently drop files; all-or-nothing
        val inv = snapshotInventory(layer, snap)
        val folded = statsOfSnapshot(layer, snap)
        if (inv.nonEmpty && inv.forall(folded.contains))
          Some((layerPath(layer), inv.map(folded)))
        else None
      } else {
        val stats = snapshotSidecar(snap)
        if (stats.isEmpty) None
        else Some((snap.toString, stats))
      }
    }

  /** One snapshot's parsed `_STATS.json`, cached; Nil when absent. */
  private def snapshotSidecar(snap: Path): Seq[FileStats.FileStat] =
    sidecarCache.getOrElseUpdate(snap.toString) {
      val p = new Path(snap, FileStats.SidecarName)
      val f = fs(p)
      if (!f.exists(p)) Nil
      else FileStats.fromJson(readFully(p))
    }

  // ---- per-file Bloom index (see [[BloomIndex]]) --------------------------

  /** The layer's declared bloom-index columns (logical names); empty when
    * the index is not enabled.
    */
  private def bloomColsOf(layer: String): Seq[String] =
    properties(layer).get(BloomIndex.ColsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  private def bloomFppOf(layer: String): Double =
    properties(layer).get(BloomIndex.FppProp)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(BloomIndex.DefaultFpp)

  /** A snapshot's raw `_BLOOM.json`: (fpp, file rel → physical col →
    * serialized bloom), keys under the same base convention as the stats
    * sidecar (layer root for manifest snapshots, the snapshot dir for
    * self-contained ones). None on absence or parse failure — blooms are
    * an optimization and degrade to "keep everything".
    */
  private def bloomSidecarRaw(snap: Path)
      : Option[(Double, Map[String, Map[String, Array[Byte]]])] = {
    val p = new Path(snap, BloomIndex.SidecarName)
    if (!fs(p).exists(p)) None
    else scala.util.Try {
      val (fpp, _, files) = BloomIndex.fromJson(readFully(p))
      (fpp, files)
    }.toOption
  }

  /** [[bloomSidecarRaw]] rebased to LAYER-ROOT-relative keys (the
    * [[rebasedStats]] convention) — the carry form [[commitManifest]]
    * consumes when reusing a parent snapshot's entries.
    */
  private def bloomOfSnapshot(layer: String,
      snap: Path): Map[String, Map[String, Array[Byte]]] = {
    val own = bloomSidecarRaw(snap) match {
      case None => Map.empty[String, Map[String, Array[Byte]]]
      case Some((_, files)) =>
        val rebase =
          if (manifestOf(snap).isDefined) (s: String) => s
          else (s: String) => s"_v/${snap.getName}/$s"
        files.map { case (rel, m) => rebase(rel) -> m }
    }
    // incremental commits carry only their own entries — fold the chain
    // (own wins over parents': a rebuilt entry supersedes the carried one)
    if (isDeltaOnly(snap))
      bloomOfSnapshot(layer,
        new Path(snap.getParent, deltaDocOf(snap).get.parent)) ++ own
    else own
  }

  private def writeBloomSidecar(snap: Path, fpp: Double, cols: Seq[String],
      files: Map[String, Map[String, Array[Byte]]],
      overwrite: Boolean = false): Unit = {
    val out = fs(snap).create(new Path(snap, BloomIndex.SidecarName), overwrite)
    try out.write(BloomIndex.toJson(fpp, cols, files).getBytes("UTF-8"))
    finally out.close()
  }

  /** Land the `_BLOOM.json` sidecar for a snapshot being committed, when
    * the layer declares indexed columns: `carried` entries already
    * covering the current physical column set are reused BY KEY (zero
    * data reads), only the remaining `rels` are scanned. Soft-fails like
    * the stats sidecar — a missing bloom costs skipping power, never
    * correctness (entry-less files are always kept by the reader).
    */
  private def maybeBloomSidecar(layer: String, snap: Path, base: String,
      rels: Seq[String], rowsByRel: Map[String, Long],
      mapping: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      carried: Map[String, Map[String, Array[Byte]]],
      writeCarried: Boolean = true): Unit = {
    val cols = bloomColsOf(layer)
    if (cols.isEmpty) return
    try {
      val phys = cols.map(c => mapping.getOrElse(c, c))
      val fpp = bloomFppOf(layer)
      val (have, need) = rels.partition(r =>
        carried.get(r).exists(m => phys.forall(m.contains)))
      val built = buildBloomEntries(base, need, phys, fpp, rowsByRel,
        physicalSchema(schema, mapping))
      // incremental (delta) commits land only the NEW entries — readers
      // fold carried entries through the chain ([[bloomOfSnapshot]])
      val entries = (if (writeCarried) have.map(r =>
        r -> carried(r).filter { case (c, _) => phys.contains(c) }).toMap
      else Map.empty[String, Map[String, Array[Byte]]]) ++ built
      if (entries.nonEmpty) writeBloomSidecar(snap, fpp, phys, entries)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Console.err.println(s"[lake] bloom sidecar for $snap skipped: $e")
    }
  }

  /** Build per-file blooms for `rels` (relative to `base`) over physical
    * columns `physCols`: one distributed pass reading ONLY the indexed
    * columns, per-partition partial sketches keyed (file, column), merged
    * driver-side (sketch bytes cross the wire, never values). Each file's
    * bloom is sized from its sidecar row count; files with unknown counts
    * are skipped (the reader keeps entry-less files).
    */
  private def buildBloomEntries(base: String, rels: Seq[String],
      physCols: Seq[String], fpp: Double, rowsByRel: Map[String, Long],
      physSchema: org.apache.spark.sql.types.StructType)
      : Map[String, Map[String, Array[Byte]]] = {
    if (rels.isEmpty || physCols.isEmpty) return Map.empty
    val readFields = physSchema.fields.filter(f => physCols.contains(f.name))
    if (readFields.isEmpty) return Map.empty
    val readSchema = org.apache.spark.sql.NewspipeSqlBridge.nullableSchema(
      org.apache.spark.sql.types.StructType(readFields))
    val basePath = new Path(base)
    val qualBase =
      fs(basePath).makeQualified(basePath).toString.stripSuffix("/")
    def pathPart(s: String): String = new Path(s).toUri.getPath
    val relByPath = rels.map(r => pathPart(s"$qualBase/$r") -> r).toMap
    val rowsByPath = relByPath.flatMap { case (p, r) =>
      rowsByRel.get(r).filter(_ > 0L).map(p -> _) }
    if (rowsByPath.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, input_file_name}
    // one read per containing dir: explicit file lists spanning version
    // dirs trip partition discovery (the readRelFiles lesson)
    val frames = rels.groupBy(r => r.split('/').dropRight(1).mkString("/"))
      .values.toSeq.map(rs => spark.read.schema(readSchema)
        .format("parquet").load(rs.map(r => s"$base/$r"): _*))
    val df = frames.reduce(_ union _)
      .select((input_file_name().as("__bloom_file") +:
        readFields.toSeq.map(f => col(s"`${f.name}`"))): _*)
    val bRows = spark.sparkContext.broadcast(rowsByPath)
    val names = readFields.map(_.name).toIndexedSeq
    val theFpp = fpp
    val partials = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          val fp = new org.apache.hadoop.fs.Path(row.getString(0))
            .toUri.getPath
          val n = bRows.value.getOrElse(fp, -1L)
          if (n > 0L) {
            var i = 0
            while (i < names.length) {
              if (!row.isNullAt(i + 1)) {
                val bf = acc.getOrElseUpdate((fp, names(i)),
                  org.apache.spark.util.sketch.BloomFilter.create(
                    math.max(n, 64L), theFpp))
                BloomIndex.put(bf, row.get(i + 1))
              }
              i += 1
            }
          }
        }
      }
      acc.iterator.map { case ((fp, c), bf) =>
        (fp, c, BloomIndex.serialize(bf)) }
    }.collect()
    // same-file partials across input splits merge losslessly: identical
    // (expectedItems, fpp) ⇒ identical bit geometry
    val merged = scala.collection.mutable.HashMap
      .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
    partials.foreach { case (fp, c, bytes) =>
      val bf = BloomIndex.deserialize(bytes)
      merged.get((fp, c)) match {
        case Some(m) => m.mergeInPlace(bf); ()
        case None => merged((fp, c)) = bf
      }
    }
    merged.toSeq.flatMap { case ((fp, c), bf) =>
      relByPath.get(fp).map(r => (r, c, BloomIndex.serialize(bf)))
    }.groupBy(_._1).map { case (r, xs) =>
      r -> xs.map(x => x._2 -> x._3).toMap }
  }

  /** Declare a per-file Bloom index over `cols` (string / integral
    * columns) and index the CURRENT head snapshot in place; every
    * subsequent commit maintains the index incrementally — new files
    * scanned, carried files carried by key ([[maybeBloomSidecar]]).
    * Point predicates (`=`, `<=>`, `IN`) on indexed columns then skip
    * files at plan time through [[LakeFileIndex]]: the [[FileStats]]
    * min/max complement for high-cardinality lookups whose values land
    * in every file.
    */
  def enableBloomIndex(layer: String, cols: Seq[String],
      fpp: Double = BloomIndex.DefaultFpp): Unit = {
    require(cols.nonEmpty, "enableBloomIndex needs at least one column")
    require(fpp > 0.0 && fpp < 0.5, s"fpp must be in (0, 0.5), got $fpp")
    // Hive-partitioned layers are refused up front: the sidecar builder
    // skips `k=v` paths, so accepting the call would record the index
    // properties while never building (or maintaining) an index — the
    // caller would believe point-lookup skipping is active when it never
    // fires. Partition pruning already covers the partitioned layout.
    latestSnapshot(layer).foreach { snap =>
      val rels = manifestOf(snap).map(_.files)
        .getOrElse(snapshotDirFilesRel(snap))
      require(layerPartitionCols(layer, rels).isEmpty,
        s"enableBloomIndex: layer '$layer' is hive-partitioned " +
          "(bloom sidecars index whole files; use partition pruning for " +
          "the partitioned layout, or repartitionLayer to a flat layout)")
    }
    val schema = layerSchema(layer)
    cols.foreach { c =>
      val fd = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloom index column '$c' is not in layer '$layer' schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      require(BloomIndex.indexableType(fd.dataType),
        s"bloom index column '$c' has unsupported type ${fd.dataType.sql} " +
          "(string and integral columns only)")
    }
    setProperties(layer, Map(
      BloomIndex.ColsProp -> cols.mkString(","),
      BloomIndex.FppProp -> fpp.toString))
    latestSnapshot(layer).foreach { snap =>
      manifestOf(snap) match {
        case Some(m) =>
          // cross-layer (clone) refs are refused like partitioned layouts:
          // the build keys entries by input_file_name, whose canonical
          // form need not match a `../` rel — materialize first
          require(!m.files.exists(Lake.isForeignRel),
            s"enableBloomIndex: layer '$layer' holds shallow-clone " +
              "cross-layer references — materialize with compact() first")
          if (!m.files.exists(_.contains("="))) {
            val phys = cols.map(c => m.mapping.getOrElse(c, c))
            val rows = rebasedStats(layer, snap)
              .map { case (r, st) => r -> st.rows }
            val built = buildBloomEntries(layerPath(layer), m.files, phys,
              fpp, rows, physicalSchema(m.schema, m.mapping))
            if (built.nonEmpty)
              writeBloomSidecar(snap, fpp, phys, built, overwrite = true)
          }
        case None =>
          val rels = snapshotDirFilesRel(snap)
          if (!rels.exists(_.contains("="))) {
            val rows = snapshotSidecar(snap).map(st => st.path -> st.rows)
              .toMap
            val built = buildBloomEntries(snap.toString, rels, cols, fpp,
              rows, schema)
            if (built.nonEmpty)
              writeBloomSidecar(snap, fpp, cols, built, overwrite = true)
          }
      }
    }
  }

  /** Committed snapshot version ids of a layer, newest first — empty for
    * flat (non-snapshot) layers. Pair with [[readVersion]] for pinned
    * reads: the snapshot protocol keeps every version until [[vacuum]], so
    * "read the corpus exactly as the last run saw it" is a version id away
    * (the reproducibility form of time travel; timestamp-resolution syntax
    * is not claimed).
    */
  def listVersions(layer: String): Seq[String] =
    committedVersions(layer).map(_.getName)

  /** The layer's current committed head version id, if any — resolved in
    * O(1) through the `_LAST` pointer (one pointer read + one cached
    * marker probe; Delta's DESCRIBE DETAIL `version` role), falling back
    * to the stop-at-first-committed listing scan. Unlike
    * [[listVersions]].headOption this never pays O(V) marker probes.
    */
  def headVersion(layer: String): Option[String] =
    latestSnapshot(layer).map(_.getName)

  /** Read one specific committed snapshot of a layer (see [[listVersions]]). */
  def readVersion(layer: String, version: String,
      mergeSchema: Boolean = false): DataFrame = {
    val snap = new Path(s"${layerPath(layer)}/_v/$version")
    val f = fs(snap)
    require(f.exists(new Path(snap, "_COMMITTED")),
      s"layer '$layer' has no committed snapshot '$version' " +
        s"(known: ${listVersions(layer).mkString(", ")})")
    loadSnapshot(layer, snap, mergeSchema)
  }

  /** Idempotent micro-batch landing for streaming sinks: each batch lands
    * under a `__batch_id=<id>` partition; a replay (foreachBatch reruns
    * after a failure, same epoch id) first DELETES its own partition and
    * re-lands it whole — effectively-once on top of an at-least-once sink
    * callback. The explicit delete (rather than dynamic partition
    * overwrite) matters with secondary `partitionBy`: a failed attempt can
    * leave committed files in sub-partitions the replay no longer produces,
    * which dynamic overwrite would leave standing as duplicates.
    *
    * Epoch ids must come from ONE streaming checkpoint per layer: Spark
    * replays only the most recent unfinished batch, so a batchId REGRESSING
    * by more than one means a wiped/foreign checkpoint is replaying epoch 0
    * over committed history — refused loudly instead of silently deleting
    * landed data. Readers see `__batch_id` as an ordinary partition column;
    * filter or drop it downstream. Same flat-layer contract as [[write]].
    */
  def writeBatchIdempotent(df: DataFrame, layer: String, batchId: Long,
      partitionBy: Seq[String] = Nil): String = {
    val path = layerPath(layer)
    requireFlatLayer(layer)
    val root = new Path(path)
    val f = fs(root)
    val existing =
      if (!f.exists(root)) Nil
      else f.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("__batch_id=")).toSeq
        .flatMap(n => scala.util.Try(n.stripPrefix("__batch_id=").toLong).toOption)
    existing.maxOption.foreach { maxId =>
      require(batchId >= maxId - 1,
        s"layer '$layer' already holds batches up to $maxId but batch " +
          s"$batchId arrived — a reset/foreign streaming checkpoint would " +
          "overwrite committed history; use one checkpoint per layer")
    }
    val own = new Path(root, s"__batch_id=$batchId")
    val ownStats = new Path(root, FileStats.batchSidecarName(batchId))
    if (f.exists(own)) f.delete(own, true) // failed attempt's debris, whole
    if (f.exists(ownStats)) f.delete(ownStats, false) // stats replay with it
    df.withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.format(config.format)
      .mode("append")
      .partitionBy(("__batch_id" +: partitionBy): _*)
      .save(path)
    // per-batch stats sidecar AFTER the data, same soft-fail contract as
    // the snapshot sidecar: [[readWhere]] prunes streaming-landed layers
    // too, and a replay replaces its stats together with its partition
    // (delete above), so stale stats can never describe re-landed data
    if (config.collectStats && config.format == "parquet") {
      try {
        val stats = FileStats
          .collect(spark.sparkContext.hadoopConfiguration, own.toString)
          .map(s => s.copy(
            path = s"__batch_id=$batchId/${s.path}",
            partitionValues = s.partitionValues +
              ("__batch_id" -> batchId.toString)))
        val out = f.create(ownStats, false)
        try out.write(FileStats.toJson(stats).getBytes("UTF-8"))
        finally out.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(s"[lake] batch stats for $own skipped: $e")
      }
    }
    path
  }

  /** Shared flat-layer guard: flat writes to a snapshot-managed layer are
    * invisible to snapshot readers (append) or destroy version history
    * (overwrite) — data loss wearing a success exit code.
    */
  private def requireFlatLayer(layer: String): Unit = {
    val vdir = new Path(s"${layerPath(layer)}/_v")
    require(!fs(vdir).exists(vdir),
      s"layer '$layer' is snapshot-managed (has $vdir); flat writes are " +
        "refused — use writeAtomic")
  }

  /** Small-files compaction through the snapshot protocol: read the
    * layer's current state, rewrite it as one new snapshot with file count
    * sized by bytes (`ceil(dataBytes / targetFileBytes)`), commit
    * atomically. Readers see the old snapshot until the commit flips —
    * compaction is just another atomic overwrite, so it is safe under
    * concurrent readers; reclaim the old snapshot with [[vacuum]]
    * afterwards. Returns the new snapshot path.
    *
    * At 100 TB this is the maintenance op that keeps scan parallelism
    * honest: streaming appends and per-run overwrites accrete small files,
    * and a scan of 10⁶ tiny files pays per-file open/footer cost that
    * dwarfs the read itself.
    *
    * Compacting a FLAT layer migrates it to snapshot management (the new
    * snapshot becomes the layer's truth; subsequent flat `write`s are
    * refused). The superseded flat files stay on disk for readers mid-scan
    * — remove them once drained, the same retention contract as vacuum.
    * QUIESCE FLAT WRITERS FIRST: an append racing the migration can land
    * after compact's read listed files and before the snapshot commits —
    * those rows would be invisible to every later read, and the writer's
    * next batch fails the flat-layer guard. Snapshot-managed layers have
    * no such hazard (compaction is one more last-writer-wins snapshot).
    */
  /** Partial OPTIMIZE — Delta's ACTUAL compaction shape: bin-pack ONLY
    * the files smaller than `smallFileBytes` into ~`targetFileBytes`
    * outputs and carry every already-right-sized file by manifest
    * reference. Cost is O(small fraction); [[compact]] by contrast
    * rewrites the whole layer — at 100 TB that is a full-corpus shuffle to
    * fix a few thousand streaming-landed slivers, exactly the wrong
    * trade. Small files with deletion vectors are rewritten THROUGH their
    * DVs (the rewrite materializes the deletes, the DV retires); carried
    * files keep theirs.
    *
    * Noop (no commit) when fewer than `minSmallFiles` qualify — one small
    * file has nothing to pack with, and committing a snapshot to rename
    * it would churn history for nothing.
    */
  def compactSmall(layer: String, smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minSmallFiles: Int = 2): Lake.RowOpResult = {
    require(smallFileBytes > 0 && targetFileBytes >= smallFileBytes,
      "need 0 < smallFileBytes <= targetFileBytes")
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — compactSmall extends " +
        "the snapshot protocol; land the layer with writeAtomic first"))
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val sized = snapshotInventory(layer, snap)
      .map(rel => rel -> f.getFileStatus(new Path(resolveRel(base, rel))).getLen)
    val small = sized.filter(_._2 < smallFileBytes)
    if (small.size < minSmallFiles)
      return Lake.RowOpResult(snap.toString, 0, sized.size, noop = true)
    val bins = math.max(1L,
      (small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
    // declared clustering keys: the incremental pass arranges what it
    // rewrites anyway (liquid-clustering convergence); otherwise a plain
    // bin-pack
    val zcols = clusterByCols(layer)
    val partCols = layerPartitionCols(layer, sized.map(_._1))
    rewriteCore(layer, snap, predicate = None,
      transform = df =>
        if (zcols.nonEmpty)
          newspipe.ops.ZOrder.arrange(df, zcols, bins, partCols)
        else df.repartition(bins),
      append = None, op = "OPTIMIZE",
      affectedOverride = Some(small.map(_._1).toSet))
  }

  /** Delta's idempotent `COPY INTO`: load parquet files from a staging
    * location into `layer`, tracking WHICH source files each commit
    * loaded (a `_COPY.json` marker inside the snapshot dir — atomic with
    * the commit) so re-running the same statement skips already-loaded
    * files instead of duplicating rows. The at-least-once ingestion
    * contract batch pipelines need: a scheduler retry, a crashed job
    * re-run, or an overlapping staging listing all converge to
    * exactly-once CONTENT. New files landing in the staging dir load
    * incrementally on the next call.
    *
    * Scale shape: one staging listing (FsListing — flat LIST on object
    * stores), the ledger walk is one small read per committed version
    * (the txnVersion shape), and the load itself is Spark's own
    * vectorized parquet scan over exactly the fresh files →
    * [[appendAtomic]]'s O(increment) commit. A hive-layout staging tree
    * (`k=v` directories under `srcDir`) CONTRIBUTES those path-derived
    * partition columns to the loaded rows (discovery is rooted at
    * `srcDir` via `basePath`) and they schema-evolve into the target
    * like any other increment column; flat staging files must carry
    * their columns in the file.
    *
    * `pattern` is a glob over the path RELATIVE to `srcDir`
    * (`*.parquet`, `batch_7/part-*`). Returns rewritten=0 and
    * carried = prior file count; noop when nothing fresh matched.
    */
  def copyInto(layer: String, srcDir: String,
      pattern: Option[String] = None): Lake.RowOpResult = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — COPY INTO targets an " +
        "existing table (CREATE TABLE or writeAtomic first)"))
    val src = new Path(srcDir)
    val f = fs(src)
    require(f.exists(src), s"COPY INTO source '$srcDir' does not exist")
    val qualSrc = f.makeQualified(src).toString.stripSuffix("/") + "/"
    val matcher = pattern.map(g => java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + g))
    val candidates = FsListing.filesRecursive(f, src)
      .filter(_.isFile)
      .map(st => st.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }
      .map(p => f.makeQualified(p).toString)
      .filter(p => matcher.forall(_.matches(
        java.nio.file.Paths.get(p.stripPrefix(qualSrc)))))
      .sorted
    // loaded-file ledger: union of _COPY markers across committed
    // versions PLUS relocated ledgers of vacuumed versions
    // (`_v/_COPY_LEDGER/`), folded INCREMENTALLY through the JVM-global
    // cache — a committed version's marker and a relocated ledger are
    // both immutable, so each call probes only entries no prior call
    // scanned (O(new commits), not O(history)). Vacuum preserves the
    // ledger by relocating markers before reclaiming their version dirs,
    // so a retried COPY INTO never re-ingests — however deep the vacuum.
    // cache key = FS-QUALIFIED layer root (scheme + authority), the same
    // discipline committedCache keys follow: `file:///data/t` and
    // `hdfs:/data/t` are different tables and must not share a ledger.
    val layerRootPath = new Path(layerPath(layer))
    val layerKey = fs(layerRootPath).makeQualified(layerRootPath).toString
    val versions = committedVersions(layer)
    // relocated ledgers of VACUUMED versions (`_v/_COPY_LEDGER/<v>`,
    // written by vacuum before reclaiming a `_COPY`-bearing dir) fold
    // exactly like live markers; their cache identity is prefixed so a
    // version name can't collide with its own relocation
    val ledgerDirPath = copyLedgerDir(layer)
    val ledgerFiles: Seq[Path] =
      if (!fs(ledgerDirPath).exists(ledgerDirPath)) Nil
      else fs(ledgerDirPath).listStatus(ledgerDirPath)
        .filter(_.isFile).map(_.getPath).toSeq
    val currentNames = versions.map(_.getName).toSet ++
      ledgerFiles.map(p => s"ledger:${p.getName}")
    // cached state is only trusted when every version it scanned still
    // exists: a scanned name missing from the live listing means either a
    // vacuum (rescan is what a fresh JVM would compute — ledger-bearing
    // versions are vacuum-pinned, so the fold rebuilds completely) or a
    // table DELETED AND RECREATED at the same path outside the catalog,
    // where trusting the old incarnation's 'loaded' set would silently
    // skip staging files the new table never ingested.
    val (scanned0, loaded0) = {
      val (s, l) = Lake.copyLedgerGet(layerKey)
      if (s.subsetOf(currentNames)) (s, l)
      else (Set.empty[String], Set.empty[String])
    }
    val freshVers = versions.filterNot(v => scanned0.contains(v.getName))
    val freshLedgers = ledgerFiles.filterNot(p =>
      scanned0.contains(s"ledger:${p.getName}"))
    val newEntries: Set[String] = freshVers.iterator.flatMap { v =>
      val p = new Path(v, Lake.CopyMarker)
      if (!fs(v).exists(p)) Nil
      else readFully(p).split("\n").toSeq.filter(_.nonEmpty)
    }.toSet ++ freshLedgers.iterator.flatMap(p =>
      readFully(p).split("\n").toSeq.filter(_.nonEmpty))
    val loaded: Set[String] = loaded0 ++ newEntries
    Lake.copyLedgerPut(layerKey,
      scanned0 ++ freshVers.map(_.getName) ++
        freshLedgers.map(p => s"ledger:${p.getName}"), loaded)
    val fresh = candidates.filterNot(loaded)
    if (fresh.isEmpty)
      return Lake.RowOpResult(snap.toString, 0,
        snapshotInventory(layer, snap).size, noop = true)
    // basePath roots partition discovery at the staging dir: k=v staging
    // layouts surface their partition columns, and mixed-depth staging
    // trees never trip CONFLICTING_DIRECTORY_STRUCTURES on the explicit
    // file list
    val df = spark.read.option("basePath", srcDir)
      .format(config.format).load(fresh: _*)
    appendAtomic(df, layer,
      markers = Map(Lake.CopyMarker -> fresh.mkString("\n")))
  }

  /** Delta's `REORG TABLE … APPLY (PURGE)`: rewrite ONLY the files
    * carrying deletion vectors — materializing their soft deletes into
    * plain files and dropping the vectors — so reads stop paying the DV
    * filter and [[vacuum]] can reclaim the payloads. O(DV'd files): the
    * affected set IS the DV key set, everything else rides the manifest
    * by reference; declared clustering keys arrange the rewritten rows
    * (the same convergence rule as every other maintenance rewrite).
    * Data-invisible (the DV'd rows were already hidden). Refused when a
    * DV key is a clone-carried foreign ref — materialize the clone
    * ([[compact]]) instead.
    */
  def purgeDeletionVectors(layer: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Lake.RowOpResult = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — nothing to purge"))
    val dv = dvMapOf(snap)
    if (dv.isEmpty)
      return Lake.RowOpResult(snap.toString, 0,
        snapshotInventory(layer, snap).size, noop = true)
    require(!dv.keys.exists(Lake.isForeignRel),
      s"purge on '$layer': deletion vectors ride clone-carried refs — " +
        "materialize the clone first (compact), then purge")
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val bytes = dv.keys.map(rel =>
      f.getFileStatus(new Path(resolveRel(base, rel))).getLen).sum
    val bins = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val zcols = clusterByCols(layer)
    val partCols = layerPartitionCols(layer, snapshotInventory(layer, snap))
    rewriteCore(layer, snap, predicate = None,
      transform = df =>
        if (zcols.nonEmpty)
          newspipe.ops.ZOrder.arrange(df, zcols, bins, partCols)
        else df.repartition(bins),
      append = None, op = "REORG",
      affectedOverride = Some(dv.keys.toSet))
  }

  /** Delta's `CONVERT TO DELTA` for this lake: adopt an existing FLAT
    * parquet layer into the snapshot protocol IN PLACE, metadata-only —
    * the first commit is a manifest that references the flat files where
    * they sit (zero rows move or copy), plus a footer-collected stats
    * sidecar so skipping works immediately. Subsequent row ops and
    * appends carry the adopted files by reference like any inventory
    * file; [[vacuum]] reclaims only `_v` version dirs, so adopted root
    * files are never swept. Crash-safe: until the commit marker lands the
    * layer still reads flat. Refuses an already-snapshot-managed layer;
    * parent-checked against a racing first commit. Caveat (same as
    * Delta's CONVERT): pause FLAT writers during conversion — a flat file
    * landing after the listing is not in the adopted manifest and becomes
    * invisible to snapshot reads (though still on disk for audit).
    */
  def convertToLake(layer: String): String = {
    val base = layerPath(layer)
    val root = new Path(base)
    val f = fs(root)
    require(f.exists(root), s"layer '$layer' does not exist")
    require(latestSnapshot(layer).isEmpty,
      s"layer '$layer' is already snapshot-managed — nothing to convert")
    val flatFiles = snapshotDirFilesRel(root)
    require(flatFiles.nonEmpty,
      s"layer '$layer' has no data files to convert")
    val schema = read(layer).schema
    val snap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    f.mkdirs(snap)
    val (head, shards) = SnapshotManifest.toJsonSharded(
      SnapshotManifest(flatFiles, schema.toDDL), config.manifestShardSize)
    def put(name: String, body: String): Unit = {
      val out = f.create(new Path(snap, name), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    shards.zipWithIndex.foreach { case (body, i) =>
      put(SnapshotManifest.shardName(i), body)
    }
    put(SnapshotManifest.FileName, head)
    if (config.collectStats && config.format == "parquet") {
      try {
        val stats = FileStats.collectFiles(
          spark.sparkContext.hadoopConfiguration, base, flatFiles)
        writeSidecar(snap, stats)
        if (!flatFiles.exists(_.contains("=")))
          maybeBloomSidecar(layer, snap, base = base, rels = flatFiles,
            rowsByRel = stats.map(st => st.path -> st.rows).toMap,
            mapping = Map.empty, schema = schema, carried = Map.empty)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(s"[lake] stats sidecar for $snap skipped: $e")
      }
    }
    commitMarker(layer, snap, requireParent = Some(None), op = "CONVERT")
    snap.toString
  }

  def compact(layer: String, targetFileBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil): String = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    // a DECLARED vector clustering owns the plain-compact layout: the
    // rewrite re-applies the embedding-space grouping (fresh centroids
    // over the current corpus) so routine maintenance preserves
    // routability instead of shuffling the neighborhoods away; explicit
    // ZORDER BY / partitionBy overrides it for this call
    if (partitionBy.isEmpty && zorderBy.isEmpty)
      properties(layer).get(Lake.ClusterByVectorProp).foreach { vc =>
        // a stale declaration (column since dropped/renamed) degrades
        // to a plain compaction instead of failing the maintenance op
        val applies = latestSnapshot(layer).exists(snap =>
          snapshotSchema(layer, snap).fieldNames
            .exists(_.equalsIgnoreCase(vc)))
        if (applies)
          return clusterByVector(layer, vc,
            targetFileBytes = targetFileBytes)
      }
    // declared clustering keys apply when no explicit ZORDER BY is given
    val zcols = effectiveZOrder(layer, zorderBy)
    require(zcols.intersect(partitionBy).isEmpty,
      "zorderBy and partitionBy must be disjoint (a hive partition column " +
        "is constant within its files — z-ordering it is a no-op)")
    val src = latestSnapshot(layer).getOrElse(new Path(layerPath(layer)))
    val f = fs(src)
    // a MANIFEST snapshot's data spans older version dirs — size it from
    // its inventory, not a walk of the (mostly-empty) snapshot dir
    val bytes = latestSnapshot(layer).flatMap(manifestOf) match {
      case Some(m) =>
        val base = layerPath(layer)
        m.files.map(rp => f.getFileStatus(new Path(resolveRel(base, rp))).getLen).sum
      case None =>
        FsListing.filesRecursive(f, src)
          .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).sum
    }
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // row tracking: compaction reorders rows, so the rewrite CARRIES the
    // ids and materializes them into the new files (an extra LongType
    // column through the same shuffle — the id column z-orders/salts
    // along for free and never enters the recorded schema)
    val df =
      if (rowTrackingEnabled(layer) && latestSnapshot(layer).isDefined)
        readWithRowIds(layer)
      else read(layer)
    val arranged =
      if (zcols.nonEmpty)
        // Z-order rewrite (Delta's OPTIMIZE ZORDER BY): range-partition +
        // sort on the Morton value (within hive partitions when both are
        // given) so the stats sidecar prunes on every clustered dimension.
        // Same single shuffle as the plain repartition below.
        newspipe.ops.ZOrder.arrange(df, zcols, nFiles, partitionBy)
      else if (partitionBy.nonEmpty) {
        // hashing ONLY the hive partition columns would put each partition
        // value in one task → one (possibly multi-TB) file per value and a
        // straggler on the hot value; a full-row hash salt spreads every
        // value across the nFiles tasks so file sizing is honored under skew
        import org.apache.spark.sql.functions.{col, pmod, xxhash64, struct, lit}
        val salt = pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)),
          lit(nFiles.toLong))
        df.repartition(nFiles, (partitionBy.map(col) :+ salt): _*)
      } else df.repartition(nFiles)
    val snap = writeSnapshot(arranged, layer, partitionBy,
      requireParent = None,
      op = if (zcols.nonEmpty) "OPTIMIZE ZORDER" else "OPTIMIZE",
      prearranged = true)
    // index-aware OPTIMIZE: the rewrite replaced every data file — build
    // shard graphs for the new files (content addressing makes this
    // O(rewritten files); the inputs' graphs become debris VACUUM prunes)
    maintainIndexesSoftly(layer)
    snap
  }

  /** Vector-clustering OPTIMIZE (round 18): rewrite the corpus so each
    * data file holds semantically NEIGHBORING vectors — the layout the
    * coarse-routing machinery is designed for. Routing can only skip a
    * shard when the shard is angularly coherent; a corpus whose
    * clusters are scattered across files routes nowhere (every file's
    * centroid is mush) and a selective `shardProbe`/cap-bound prune
    * buys nothing. This op is the tool that CREATES routability:
    * a deterministic k-means over a bounded hash-ordered sample trains
    * `clusters` centroids (default: one per output file at
    * `targetFileBytes`), every alive row is assigned its max-dot
    * centroid in one pass, and the corpus rewrites range-partitioned by
    * cluster id — equal ids never split, so each output file holds
    * whole clusters (ZORDER's role, taken by embedding-space
    * neighborhoods instead of column ranges). Post-commit maintenance
    * then covers + routes the new files, whose centroids/radii are now
    * TIGHT. One shuffle, O(corpus) — the same cost class as every
    * OPTIMIZE; per-row assignment is a broadcast-centroid kernel.
    *
    * Hive-partitioned layers are refused (two layout authorities);
    * declared ZORDER keys are ignored for this rewrite (the cluster id
    * IS the arrangement). Deterministic end to end: hash-ordered
    * sample, first-k init, fixed iterations, lowest-index ties
    * ([[newspipe.ops.IvfFlat.trainCentroids]]).
    */
  def clusterByVector(layer: String, vecCol: String, clusters: Int = 0,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sampleRows: Int = 65536): String = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    require(clusters >= 0, s"clusters must be >= 0, got $clusters")
    require(targetFileBytes > 0 && sampleRows > 0,
      "targetFileBytes and sampleRows must be positive")
    val snap = latestSnapshot(layer).getOrElse(
      throw new IllegalStateException(
        s"layer '$layer' has no committed snapshot — clusterByVector " +
          "rewrites through the snapshot protocol (writeAtomic first)"))
    val inv = snapshotInventory(layer, snap)
    require(layerPartitionCols(layer, inv).isEmpty,
      s"clusterByVector('$layer'): layer is hive-partitioned — the " +
        "partition layout and the vector clustering would fight over " +
        "file placement; rewrite to an unpartitioned layout first " +
        "(SET PARTITIONED BY ())")
    val schema = snapshotSchema(layer, snap)
    require(schema.fieldNames.exists(_.equalsIgnoreCase(vecCol)),
      s"clusterByVector('$layer'): layer has no column '$vecCol'")
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val bytes = inv.map(rp =>
      f.getFileStatus(new Path(resolveRel(base, rp))).getLen).sum
    val nFiles = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val k = if (clusters > 0) clusters else nFiles
    val df =
      if (rowTrackingEnabled(layer)) readWithRowIds(layer) else read(layer)
    // deterministic bounded sample: lowest-N by content hash — spread
    // uniformly over the corpus, stable run to run, one small collect
    val sample: Array[Array[Double]] = df
      .select(col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col("__v")))
      .limit(sampleRows)
      .collect()
      .map(r => newspipe.ops.Hnsw.unitOrZero(
        newspipe.ops.Hnsw.toRaw(r.get(0))))
    require(sample.nonEmpty,
      s"clusterByVector('$layer'): layer has no rows to cluster")
    val centroids = newspipe.ops.IvfFlat.trainCentroids(sample, k)
    val centB = spark.sparkContext.broadcast(centroids)
    // per-row assignment: a one-shot maintenance kernel (broadcast
    // centroids; a codegen expression buys nothing on a single rewrite
    // pass — this is not a standing query path)
    val assignUdf = org.apache.spark.sql.functions.udf { v: Seq[Double] =>
      if (v == null) 0
      else newspipe.ops.IvfFlat.assignOne(
        newspipe.ops.Hnsw.unitOrZero(v.toArray), centB.value)
    }
    val arranged = df
      .withColumn("__vc", assignUdf(col(vecCol).cast("array<double>")))
      .repartitionByRange(k, col("__vc"))
      .sortWithinPartitions("__vc")
      .drop("__vc")
    val out = writeSnapshot(arranged, layer, Nil, requireParent = None,
      op = "OPTIMIZE CLUSTER BY VECTOR", prearranged = true)
    // the clustering becomes the layer's DECLARED layout (liquid
    // clustering's declaration role, embedding-space edition): plain
    // compact() re-applies it, so routine maintenance preserves
    // routability instead of shuffling the neighborhoods away
    setProperties(layer, Map(Lake.ClusterByVectorProp -> vecCol))
    // the rewrite replaced every file: cover + route the outputs — the
    // whole point (their centroids/radii are now tight)
    maintainIndexesSoftly(layer)
    out
  }

  // ---- clustering keys (Delta liquid clustering's declaration role) -------

  /** Declared clustering columns of a layer (`lake.clusterBy`). */
  def clusterByCols(layer: String): Seq[String] =
    properties(layer).get(Lake.ClusterByProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Declare (or with `Nil`, clear — `CLUSTER BY NONE`) the layer's
    * clustering keys: a METADATA-ONLY property write, no rewrite happens
    * now. From then on every OPTIMIZE form — full [[compact]], small-file
    * [[compactSmall]], scoped [[compactWhere]], and layout-evolving
    * [[repartitionLayer]] — arranges the files it rewrites by these keys
    * (Morton z-order) unless an explicit `ZORDER BY` overrides, so
    * routine maintenance CONVERGES the layout incrementally instead of
    * demanding a dedicated full-table clustering pass. That is the
    * operational shape of Delta's liquid clustering at 100 TB: declare
    * once, let the maintenance you already run do the clustering, touch
    * only the files each pass rewrites anyway.
    */
  def setClusterBy(layer: String, cols: Seq[String]): Unit = {
    if (cols.nonEmpty) {
      require(cols.distinct.size == cols.size,
        s"setClusterBy('$layer'): duplicate clustering columns in " +
          cols.mkString(", "))
      val schema = layerSchema(layer)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"setClusterBy('$layer'): no column '$c' " +
          s"(has: ${schema.fieldNames.mkString(", ")})"))
      val parts = latestSnapshot(layer).map(s =>
        layerPartitionCols(layer, snapshotInventory(layer, s)))
        .getOrElse(properties(layer).get("lake.partitionBy").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
      require(cols.intersect(parts).isEmpty,
        s"setClusterBy('$layer'): ${cols.intersect(parts).mkString(", ")} " +
          "are hive partition columns — constant within their files, " +
          "clustering them is a no-op")
    }
    setProperties(layer, Map(Lake.ClusterByProp -> cols.mkString(",")))
  }

  /** The Z-order keys an OPTIMIZE form should use: the explicit
    * `ZORDER BY` when given, the declared clustering keys otherwise.
    */
  private def effectiveZOrder(layer: String,
      explicit: Seq[String]): Seq[String] =
    if (explicit.nonEmpty) explicit else clusterByCols(layer)

  /** PARTITION LAYOUT EVOLUTION (`ALTER TABLE … SET PARTITIONED BY`): a
    * layer's hive layout is fixed at first write; this rewrites the WHOLE
    * corpus into the new layout as ONE committed snapshot — history and
    * time travel stay intact (pre-evolution versions read through their
    * own manifests/layout), the stats sidecar regenerates for the new
    * files, and [[layerPartitionCols]] picks the new layout up from the
    * head inventory so every subsequent append lands inside it. The
    * declared `lake.partitionBy` property follows the new layout (the
    * empty-head tiebreaker). `partitionBy = Nil` flattens a partitioned
    * layer. The rewrite is [[compact]]'s single-shuffle arrangement —
    * salt-spread within hive values so file sizing holds under skew,
    * optionally z-ordered within the new partitions. At 100 TB this is
    * deliberately a full O(corpus) rewrite — the one operation that
    * cannot be incremental, since every row's directory changes; what
    * matters is that it is ONE shuffle, one atomic flip, and readers
    * never see a half-evolved layout.
    */
  def repartitionLayer(layer: String, partitionBy: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): String = {
    val schema = layerSchema(layer)
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"repartitionLayer('$layer'): no column '$c' " +
        s"(has: ${schema.fieldNames.mkString(", ")})"))
    val current = latestSnapshot(layer)
      .map(snap => layerPartitionCols(layer, snapshotInventory(layer, snap)))
      .getOrElse(Nil)
    require(current != partitionBy,
      s"layer '$layer' is already partitioned by " +
        s"${if (partitionBy.isEmpty) "(nothing)" else partitionBy.mkString(", ")}")
    // a declared clustering key that becomes a partition column would trip
    // compact()'s disjointness check with an error naming a zorderBy the
    // caller never passed — refuse HERE with the actual cause
    val overlap = clusterByCols(layer).intersect(partitionBy)
    require(overlap.isEmpty,
      s"repartitionLayer('$layer'): ${overlap.mkString(", ")} " +
        "are declared clustering keys (lake.clusterBy) — a hive partition " +
        "column is constant within its files, so clustering it is a no-op; " +
        "setClusterBy to disjoint keys (or Nil) first")
    val snap = compact(layer, targetFileBytes, partitionBy, zorderBy)
    setProperties(layer,
      Map("lake.partitionBy" -> partitionBy.mkString(",")))
    snap
  }

  /** Partition-scoped OPTIMIZE (Delta's `OPTIMIZE … WHERE part = v
    * [ZORDER BY …]`): rewrite ONLY the files of the hive partitions the
    * predicate selects — right-sized (optionally z-ordered) replacements
    * — and carry every other file by manifest reference. At 100 TB nobody
    * compacts a whole layer in one commit: maintenance is bounded to the
    * partitions a day's ingest touched — O(selected partitions) read,
    * shuffle and write — while readers stay on the old snapshot until the
    * atomic flip.
    *
    * The predicate must reference PARTITION COLUMNS only (Delta's rule):
    * it is evaluated per distinct partition tuple, typed through the
    * layer schema, never against row data — selection is metadata-only.
    * Data-invisible like every OPTIMIZE; `noop = true` when no partition
    * matches.
    */
  def compactWhere(layer: String, predicate: org.apache.spark.sql.Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Lake.RowOpResult = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // declared clustering keys apply when no explicit ZORDER BY is given
    val zcols = effectiveZOrder(layer, zorderBy)
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — scoped OPTIMIZE extends " +
        "the snapshot protocol; compact()/convertToLake adopt a flat layer"))
    val inventory = snapshotInventory(layer, snap)
    val partCols = layerPartitionCols(layer, inventory)
    require(partCols.nonEmpty,
      s"layer '$layer' is not hive-partitioned — OPTIMIZE WHERE scopes by " +
        "partition; use compact() for the whole layer")
    require(zcols.intersect(partCols).isEmpty,
      "zorderBy and partition columns must be disjoint (a hive partition " +
        "column is constant within its files — z-ordering it is a no-op)")
    val refs = org.apache.spark.sql.NewspipeSqlBridge
      .convertedExpression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }.distinct
    require(refs.nonEmpty &&
        refs.forall(r => partCols.exists(_.equalsIgnoreCase(r))),
      s"OPTIMIZE WHERE predicates may reference partition columns " +
        s"${partCols.mkString("(", ", ", ")")} only; got " +
        refs.mkString("(", ", ", ")"))
    // partition identity of a file = its ordered hive k=v path segments
    def partKey(rp: String): Option[String] = {
      val segs = rp.split('/').dropRight(1).toSeq.filter(_.contains('='))
      if (segs.isEmpty) None else Some(segs.mkString("/"))
    }
    val keys = inventory.flatMap(partKey).distinct
    val schema = snapshotSchema(layer, snap)
    import org.apache.spark.sql.functions.col
    // typed predicate evaluation per DISTINCT tuple — bounded by partition
    // count, the same driver-side scale SHOW PARTITIONS already accepts
    val rows = keys.map { k =>
      val kv = k.split('/').map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> seg.substring(i + 1)
      }.toMap
      org.apache.spark.sql.Row.fromSeq(k +: partCols.map(c =>
        kv.get(c) match {
          case Some("__HIVE_DEFAULT_PARTITION__") | None => null
          case Some(v) => org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(v)
        }))
    }
    val keySchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pk",
        org.apache.spark.sql.types.StringType, nullable = false) +:
        partCols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)))
    var keyDf = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), keySchema)
    partCols.foreach { c =>
      keyDf = keyDf.withColumn(c, col(c).cast(schema(c).dataType))
    }
    val matched = keyDf.filter(predicate).select("__pk")
      .collect().map(_.getString(0)).toSet
    val affected = inventory.filter(rp => partKey(rp).exists(matched)).toSet
    if (affected.isEmpty)
      return Lake.RowOpResult(snap.toString, 0, inventory.size, noop = true)
    val base = layerPath(layer)
    val f = fs(snap)
    val bytes = affected.toSeq
      .map(rp => f.getFileStatus(new Path(resolveRel(base, rp))).getLen).sum
    val nFiles = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    rewriteCore(layer, snap, predicate = None,
      transform = df =>
        if (zcols.nonEmpty)
          newspipe.ops.ZOrder.arrange(df, zcols, nFiles, partCols)
        else {
          // same skew-safe full-row salt as compact(): file sizing holds
          // inside each selected partition value
          import org.apache.spark.sql.functions.{lit, pmod, struct, xxhash64}
          val salt = pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)),
            lit(nFiles.toLong))
          df.repartition(nFiles, (partCols.map(col) :+ salt): _*)
        },
      append = None,
      op = if (zcols.nonEmpty) "OPTIMIZE ZORDER" else "OPTIMIZE",
      affectedOverride = Some(affected))
  }

  /** Row-level DELETE through the snapshot protocol (Delta's `DELETE FROM`
    * shape): rewrite ONLY the files that can hold a matching row, carry
    * every other file over by reference, and commit the result as a
    * MANIFEST snapshot (see [[SnapshotManifest]]) whose inventory spans the
    * old and new version directories. SQL semantics: a row is deleted when
    * the predicate is TRUE; NULL-predicate rows survive.
    *
    * At 100 TB this is the difference between a row op and a layer
    * rewrite: the stats sidecar decides which files a selective predicate
    * can touch (the same [[FileStats]] pruning [[readWhere]] uses), so a
    * delete of one source's rows in a source-clustered layout rewrites a
    * few files and references the rest — no data movement for the
    * untouched 99%. Commit is parent-checked ([[writeAtomicIfLatest]]
    * semantics), so a racing writer fails loudly instead of losing rows.
    */
  def deleteWhere(layer: String, predicate: org.apache.spark.sql.Column)
      : Lake.RowOpResult = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // lake.enableDeletionVectors=true (Delta's table property): try the
    // position-list commit first — zero rewrites for scattered deletes —
    // and fall back to the rewrite when the match is bulk
    // (> lake.deletionVectors.maxRows, default 10⁷)
    if (dvEnabled(layer)) {
      val cap = properties(layer).get("lake.deletionVectors.maxRows")
        .map(_.toLong).getOrElse(10000000L)
      deleteWhereDvOrNot(layer, predicate, cap) match {
        case Some(r) => return r
        case None => () // bulk — the rewrite below is the cheaper shape
      }
    }
    rewriteRows(layer, predicate,
      df => df.filter(not(coalesce(predicate, lit(false)))), op = "DELETE",
      opParams = Map("predicate" -> predSql(predicate)))
  }

  /** Predicate-scoped atomic overwrite — Delta's `option("replaceWhere",
    * …)` and the engine behind `INSERT INTO t REPLACE WHERE …` /
    * `INSERT OVERWRITE t PARTITION (k=v)` (reference's Delta write sites,
    * _lib_dq_helpers.py:21-54): in ONE commit, delete every existing row
    * matching `predicate` and land `df`'s rows in their place. The
    * production daily-re-land pattern at 100 TB: the stats sidecar (which
    * carries hive partition values as well as column min/max) selects the
    * files the predicate can touch, ONLY those rewrite, and the untouched
    * 99% of the layer rides the manifest by reference — a one-partition
    * re-land moves one partition's bytes, never the layer.
    *
    * Delta's data contract is enforced AT WRITE TIME, per row: every
    * incoming row must SATISFY the predicate (a row outside the replaced
    * region would silently land beside data the statement promised not
    * to touch — refused loudly; NULL-predicate rows count as outside).
    * The check rides INSIDE the write plan (a codegen'd assert over the
    * predicate, Delta's replaceWhere row-constraint shape), so the
    * increment is evaluated exactly ONCE — there is no pre-probe a
    * nondeterministic source (a `rand()`-derived frame, a re-read of a
    * concurrently-mutating table) could pass and then betray at write
    * time: what lands is exactly what was checked, or nothing lands.
    * Commit is parent-checked like every row op; racing writers bounce
    * with `ConcurrentModificationException` for [[retryOnConflict]].
    */
  def overwriteWhere(layer: String, df: DataFrame,
      predicate: org.apache.spark.sql.Column): Lake.RowOpResult = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, isnull,
      lit, not}
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — overwriteWhere replaces " +
        "a region of an existing table (writeAtomic/CREATE TABLE first; " +
        "a full overwrite is writeAtomic itself)"))
    // per-row write gate: assert_true yields NULL for conforming rows (the
    // filter keeps every one) and ABORTS the job on the first violator —
    // single evaluation, enforcement on exactly the rows being written
    val gated = df.filter(isnull(assert_true(
      coalesce(predicate, lit(false)), lit(Lake.ReplaceWhereGateMarker))))
    try {
      rewriteCore(layer, snap, Some(predicate),
        transform = old => old.filter(not(coalesce(predicate, lit(false)))),
        append = Some(gated), op = "REPLACE WHERE",
        opParams = Map("predicate" -> predSql(predicate)))
    } catch {
      // surface the gate trip as the loud contract error (the raw form is
      // a task-failure wrap around the assert's RuntimeException)
      case e: Throwable if Lake.causeChain(e).exists(c =>
          Option(c.getMessage).exists(
            _.contains(Lake.ReplaceWhereGateMarker))) =>
        throw new IllegalArgumentException(
          s"overwriteWhere('$layer'): incoming rows violate the replace " +
            s"predicate (${predSql(predicate)}) — every written row must " +
            "satisfy it (Delta's replaceWhere contract), or the commit " +
            "would touch data outside the declared region", e)
    }
  }

  /** DYNAMIC partition overwrite (Hive/Spark `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`, Delta's
    * `partitionOverwriteMode=dynamic` option): replace EXACTLY the hive
    * partitions `df` holds rows for, in one parent-checked commit —
    * partitions the increment doesn't touch ride the manifest by
    * reference. The complement of [[overwriteWhere]]'s explicit
    * predicate: here the replaced region is DERIVED from the data (one
    * distinct over the partition columns, bounded by `maxPartitions`),
    * so a daily re-land job just writes the day's frame and the right
    * partitions turn over. Zero rows = zero partitions replaced (the
    * Hive contract — an empty increment is a noop, NOT a truncate).
    * Refused on unpartitioned layers (there "overwrite" can only mean
    * the whole table — say [[writeAtomic]]).
    */
  def overwritePartitionsDynamic(layer: String, df: DataFrame,
      maxPartitions: Int = 10000): Lake.RowOpResult = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — dynamic overwrite " +
        "replaces partitions of an existing table"))
    val inv = snapshotInventory(layer, snap)
    val partCols = layerPartitionCols(layer, inv)
    require(partCols.nonEmpty,
      s"overwritePartitionsDynamic('$layer'): the layer is not " +
        "partitioned — a dynamic overwrite has no partitions to derive " +
        "(a full overwrite is writeAtomic)")
    // ONE evaluation of the increment: the frame is materialized (eager
    // localCheckpoint, increment-sized — the same bytes the write must
    // move anyway) BEFORE the partition-tuple derivation, and the write
    // appends the SAME materialized rows — a nondeterministic source can
    // no longer derive one partition set and then land rows in partitions
    // that were never cleared (Delta's dynamic-overwrite contract: the
    // replaced region and the landed rows come from one evaluation).
    val inc = df.localCheckpoint()
    try {
    val tuples = inc.select(partCols.map(col): _*).distinct()
      .limit(maxPartitions + 1).collect()
    require(tuples.length <= maxPartitions,
      s"overwritePartitionsDynamic('$layer'): the increment touches " +
        s"more than $maxPartitions partition values — a replacement " +
        "this broad should be an explicit overwriteWhere/writeAtomic " +
        "(or raise maxPartitions)")
    if (tuples.isEmpty)
      return Lake.RowOpResult(snap.toString, 0, inv.size, noop = true)
    // IN-set membership, never an N-term OR chain (the composite-key
    // merge-pruning posture): a 10k-partition replacement is one In/InSet
    // per column — O(cols) expression nodes driver-side and against
    // per-file stats, codegen-friendly if it reaches an executor plan.
    // Single partition column: one exact `isin`. Composite: a
    // length-prefixed tuple-digest `isin` is the EXACT membership test
    // (the digest column is computed by the same expression on both the
    // increment and the old rows, so rendering agrees by construction)
    // while a per-column IN conjunction — a strict superset of the tuple
    // set — drives the per-file stats pruning.
    val (exactPred, prunePred) =
      if (partCols.lengthCompare(1) == 0) {
        val p = Lake.inSetPredicate(partCols.head, tuples.map(_.get(0)))
        (p, p)
      } else {
        val digest = Lake.tupleDigestExpr(partCols)
        val digests = inc.select(digest.as("__d")).distinct()
          .collect().map(_.getString(0)).toSeq
        val prune = partCols.zipWithIndex.map { case (c, i) =>
          Lake.inSetPredicate(c, tuples.map(_.get(i)).distinct)
        }.reduce(_ && _)
        (digest.isin(digests: _*), prune)
      }
    // EXACT affected-file set from METADATA: on a hive layout a file's
    // partition tuple IS its path — parse each inventory rel's k=v
    // fragments, cast them through the increment's partition types (the
    // same cast partition READING applies, so dirs `b=01` and `b=1` agree
    // as int 1), and test typed membership against the increment's
    // tuples. This is Delta's file→partition log-lookup shape: a
    // composite increment touching (x,1) and (y,2) carries the (x,2) and
    // (y,1) cross-product files BY REFERENCE, which the per-column IN
    // conjunction alone cannot (its match set is the cross product). Any
    // unparsable or uncastable path falls back to AFFECTED — rewritten
    // through the exact filter, conservative in the correct direction.
    // O(files) driver-side + one local cast job, no data scan.
    val affectedExact: Set[String] = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val fragPrefixes = partCols.map(c =>
        ExternalCatalogUtils.escapePathName(c) + "=")
      def tupleStringsOf(rel: String): Option[Seq[Option[String]]] = {
        val segs = rel.split('/')
        val vs = fragPrefixes.map(pre =>
          segs.find(_.startsWith(pre)).map(_.substring(pre.length)))
        if (vs.exists(_.isEmpty)) None
        else Some(vs.map { v =>
          val u = ExternalCatalogUtils.unescapePathName(v.get)
          if (u == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
          else Some(u)
        })
      }
      val parsed = inv.map(rel => rel -> tupleStringsOf(rel))
      val parseable = parsed.collect { case (rel, Some(t)) => rel -> t }
      val typedByRel: Map[String, Seq[Any]] =
        if (parseable.isEmpty) Map.empty
        else {
          import org.apache.spark.sql.types.{StringType, StructField,
            StructType}
          val strSchema = StructType(partCols.map(
            StructField(_, StringType, nullable = true)))
          val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
          parseable.foreach { case (_, t) =>
            rows.add(org.apache.spark.sql.Row(t.map(_.orNull): _*)) }
          val typed = spark.createDataFrame(rows, strSchema)
            .select(partCols.map(c => col(c).cast(
              inc.schema(inc.schema.fieldIndex(c)).dataType)): _*)
            .collect()
          parseable.map(_._1).zip(typed.map(_.toSeq)).toMap
        }
      val incTuples: Set[Seq[Any]] = tuples.map(_.toSeq).toSet
      inv.filter { rel =>
        typedByRel.get(rel) match {
          case Some(t) => incTuples.contains(t)
          case None => true // unparsable: the exact filter decides
        }
      }.toSet
    }
    rewriteCore(layer, snap, Some(prunePred),
      transform = old => old.filter(not(coalesce(exactPred, lit(false)))),
      append = Some(inc), op = "DYNAMIC OVERWRITE",
      affectedOverride = Some(affectedExact),
      opParams = Map(
        "partitionBy" -> partCols.mkString(","),
        "replacedPartitions" -> tuples.length.toString))
    // the materialized increment's blocks are this call's working state —
    // release them however the commit ends (a checkpointed RDD otherwise
    // pins block-manager memory for the session's lifetime; the blocks
    // hang off the plan's LogicalRDD leaf, not the cache manager, so
    // Dataset.unpersist would be a no-op here)
    } finally inc.queryExecution.logical.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** Row-level UPDATE, same mechanics as [[deleteWhere]]: each assignment
    * column is replaced by its new expression on rows where the predicate
    * is TRUE (NULL/false rows keep their value), only can-match files are
    * rewritten, everything else rides the manifest by reference.
    */
  def updateWhere(layer: String, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column])
      : Lake.RowOpResult = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    rewriteRows(layer, predicate, op = "UPDATE",
      opParams = Map("predicate" -> predSql(predicate),
        "columns" -> assignments.keys.toSeq.sorted.mkString(",")),
      transform = df => {
      assignments.keys.foreach(name => require(df.columns.contains(name),
        s"updateWhere: layer has no column '$name'"))
      val hit = coalesce(predicate, lit(false))
      // ONE simultaneous select, not chained withColumn: SQL UPDATE
      // evaluates every assignment against the ORIGINAL row, so
      // `SET a = b, b = a` swaps instead of copying
      df.select(df.columns.toSeq.map { c =>
        assignments.get(c) match {
          case Some(e) => when(hit, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    })
  }

  /** ATOMIC append to a snapshot-managed layer — the add-files commit a
    * plain flat append can't give one (flat writes to snapshot layers are
    * refused: invisible to snapshot readers). Lands ONLY the new rows as
    * files in a fresh version dir and commits a manifest referencing the
    * old inventory + the new files — O(appended data), never a layer
    * rewrite, readers flip atomically from old snapshot to old+new. This
    * is Delta's `mode("append")`: at 100 TB the difference between landing
    * a day's increment and rewriting history to add it.
    *
    * Parent-checked like every row op: concurrent appends race on the
    * marker and the loser retries from the new state (its data dir is
    * removed), so two appends never silently fork the lineage.
    */
  def appendAtomic(df: DataFrame, layer: String,
      txn: Option[(String, Long)] = None,
      markers: Map[String, String] = Map.empty): Lake.RowOpResult = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — appendAtomic extends the " +
        "snapshot protocol; land the layer with writeAtomic first (flat " +
        "layers take plain write(mode=append))"))
    val base = layerPath(layer)
    val carried = snapshotInventory(layer, snap)
    // schema evolution on append: columns the increment adds join the
    // recorded schema (old files read null for them); columns it lacks
    // stay recorded (its rows read null); name-matching columns must
    // type-check at COMMIT time — widen when safe, refuse otherwise
    // (see SchemaEvolution: one bad append must not poison the layer head)
    val old = snapshotSchema(layer, snap)
    val mapping = mappingOf(snap)
    require(!rowTrackingEnabled(layer) ||
      !df.columns.exists(_.equalsIgnoreCase(Lake.RowIdCol)),
      s"appendAtomic('$layer'): '${Lake.RowIdCol}' is reserved on a " +
        "row-tracking layer — appended rows get fresh ids from the " +
        "file base ranges")
    // identity allocation, then generated fill/validate, BEFORE evolution
    // so a filled column joins the evolved schema like any caller-provided
    // one
    val dfG = applyGenerated(layer,
      applyIdentity(layer, applyDefaults(layer, df),
        s"appendAtomic('$layer')"),
      s"appendAtomic('$layer')")
    val schemaDdl =
      SchemaEvolution.evolve(old, dfG.schema, allowNew = true,
        context = s"appendAtomic('$layer')").toDDL
    refuseDroppedResurrection(layer, snap,
      dfG.schema.fieldNames.filterNot(old.fieldNames.contains))
    enforceConstraints(layer, dfG, s"appendAtomic('$layer')")
    val partCols = layerPartitionCols(layer, carried)
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    try {
      // partition columns are never renameable (column mapping refuses
      // them), so the rebalance's logical names hold on the physical frame
      var writer = maybeRebalance(toPhysical(dfG, mapping), layer, partCols)
        .write.format(config.format).mode("errorifexists")
      if (partCols.nonEmpty) writer = writer.partitionBy(partCols: _*)
      writer.save(newSnap.toString)
      // stream-txn ledger entry (Delta's txn appId/version): an underscore
      // file in the snapshot dir, so it commits ATOMICALLY with the data
      // (invisible to the manifest walk) — [[txnVersion]] reads it back for
      // replay fencing of idempotent streaming appends
      txn.foreach { case (appId, version) =>
        val out = fs(newSnap).create(new Path(newSnap, "_TXN"), false)
        try out.write(s"$appId\n$version".getBytes("UTF-8"))
        finally out.close()
      }
      // caller-supplied underscore markers (e.g. [[copyInto]]'s loaded-
      // file ledger entry) land INSIDE the snapshot dir before the
      // commit marker — atomic with the data, invisible to listings
      markers.foreach { case (name, body) =>
        require(name.startsWith("_"),
          s"appendAtomic marker '$name' must be underscore-hidden")
        val out = fs(newSnap).create(new Path(newSnap, name), false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      // APPEND REBASE (Delta's append-vs-append conflict class): an
      // append rewrites NOTHING, so losing the parent race to a
      // compatible sibling needs only a re-parent of the staged commit —
      // the (possibly GBs of) increment data is NOT rewritten. Rebase is
      // refused (→ ConcurrentModificationException → the caller's full
      // retry, which re-runs identity allocation) when the head's schema/
      // mapping/dropped changed, or when this increment baked freshly
      // allocated identity values and a sibling allocated too
      // (rebaseRequireIdHighs pins the watermark we allocated from).
      val committed = commitManifest(layer, snap, newSnap, carried,
        rebasedStats(layer, snap), schemaDdl, dvs = dvMapOf(snap),
        op = if (txn.isDefined) "STREAMING APPEND" else "APPEND",
        mapping = mapping, dropped = droppedOf(snap),
        rebaseRewritten = Some(Set.empty),
        rebaseRequireIdHighs =
          if (identityColumns(layer).isEmpty) None
          else Some(manifestOf(snap).map(_.idHighs).getOrElse(Map.empty)))
      // persisted-vector-index maintenance: shard graphs for the NEW
      // files only (O(increment)); soft-fail like the stats sidecar — an
      // uncovered file rides the exact-scan fallback until the next pass
      maintainIndexesSoftly(layer)
      Lake.RowOpResult(committed.toString, 0, carried.size)
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        fs(newSnap).delete(newSnap, true)
        throw e
    }
  }

  /** Post-commit index upkeep, BOTH families (vector shard graphs, dedup
    * signature shards) — soft-failing (an index is DERIVED state: a
    * failed build leaves files uncovered, which search/nearDups handle
    * exactly, so a maintenance error must never fail the commit). One
    * `_vindex` + one `_dindex` existence probe when the layer declares
    * no index.
    */
  private def maintainIndexesSoftly(layer: String): Unit = {
    try { maintainVectorIndexes(layer); () }
    catch {
      case scala.util.control.NonFatal(e) => Console.err.println(
        s"[lake] vector index maintenance on '$layer' skipped: $e")
    }
    try { maintainDedupIndexes(layer); () }
    catch {
      case scala.util.control.NonFatal(e) => Console.err.println(
        s"[lake] dedup index maintenance on '$layer' skipped: $e")
    }
  }

  /** Latest version recorded for `appId` in the layer's stream-txn ledger
    * (the `_TXN` markers [[appendAtomic]] commits atomically with its
    * data) — Delta's `txnVersion(appId)`: a streaming sink checks this
    * before landing a micro-batch, so an at-least-once replay of an
    * already-committed batch is skipped instead of appended twice.
    *
    * Newest-first walk over committed snapshots, first match wins; cost is
    * one small file read per commit walked (bounded by version count, the
    * same metadata walk DESCRIBE HISTORY does). Vacuum caveat, same as
    * Delta's: the ledger only reaches as far back as retained versions —
    * keep retention longer than the longest possible sink outage.
    */
  /** Whether the layer is under the snapshot protocol (has a committed
    * version) — how a path-agnostic writer (the streaming sink) picks
    * between the atomic-append commit path and the flat
    * `__batch_id`-partition protocol.
    */
  def isSnapshotManaged(layer: String): Boolean =
    latestSnapshot(layer).isDefined

  def txnVersion(layer: String, appId: String): Option[Long] =
    committedVersions(layer).iterator.flatMap { snap =>
      val p = new Path(snap, "_TXN")
      if (!fs(snap).exists(p)) None
      else readFully(p).split("\n", 2) match {
        case Array(a, v) if a == appId => scala.util.Try(v.trim.toLong).toOption
        case _ => None
      }
    }.nextOption()

  /** Current snapshot's sidecar stats keyed by LAYER-ROOT-relative path
    * (self-contained snapshots' stats are snapshot-relative — rebase them
    * so every row op keys the inventory uniformly).
    */
  private def rebasedStats(layer: String,
      snap: Path): Map[String, FileStats.FileStat] =
    sidecarStats(layer) match {
      case Some((statsBase, stats)) =>
        val rebase =
          if (statsBase == layerPath(layer)) (p: String) => p
          else (p: String) => s"_v/${snap.getName}/$p"
        stats.map(st => rebase(st.path) -> st.copy(path = rebase(st.path)))
          .toMap
      case None => Map.empty
    }

  /** Shared commit tail of every manifest-snapshot producer: walk the new
    * version dir, write `_MANIFEST.json` (carried + new files), land the
    * layer-root-relative stats sidecar (carried stats reused, new and
    * stats-unknown files re-footered; soft-fail to no-sidecar), then the
    * parent-checked `_COMMITTED` marker.
    */
  /** Max times one staged maintenance snapshot re-parents onto a newer
    * head before giving up and surfacing the conflict (each iteration
    * needs a FRESH concurrent commit to occur, so hitting this means a
    * write storm where retry-from-scratch is no better).
    */
  private val MaxCommitRebases = 10

  /** RACE-INJECTION SEAM: invoked right before every manifest commit's
    * marker attempt. Lets a spec (or a conflict-resolution demo) land a
    * concurrent commit deterministically inside the [stage → marker]
    * window — the OPTIMIZE-vs-append race. A handler that commits through
    * this same Lake MUST self-disarm first or it recurses. Not for
    * production use; the default is a no-op with zero overhead.
    */
  @volatile var onBeforeManifestCommit: () => Unit = () => ()

  /** @param rebaseRewritten enables LOGICAL CONFLICT RESOLUTION on a lost
    *   parent race (see the CME handler): `Some(set)` = the staged
    *   commit's rewritten file set (EMPTY for a pure append — nothing
    *   rewritten, everything carried), `None` = no rebase, the conflict
    *   propagates for a full retry.
    * @param rebaseRequireIdHighs when the staged DATA baked freshly
    *   ALLOCATED identity values (appends with identity columns), a
    *   rebase is only sound if no sibling allocated too — the head's
    *   `idHighs` must still equal this captured map, else the baked
    *   values would collide and the rebase bails to a full retry (which
    *   re-allocates). Maintenance rewrites carry EXISTING values and
    *   pass None (sibling allocation is compatible).
    */
  private def commitManifest(layer: String, parent: Path, newSnap: Path,
      carried: Seq[String], oldStats: Map[String, FileStats.FileStat],
      schemaDdl: String, dvs: Map[String, String] = Map.empty,
      op: String = "UNKNOWN", mapping: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil,
      rebaseRewritten: Option[Set[String]] = None,
      baseHints: Map[String, Long] = Map.empty,
      rebaseRequireIdHighs: Option[Map[String, Long]] = None,
      opParams: Map[String, String] = Map.empty): Path = {
    val base = layerPath(layer)
    val f = fs(newSnap)
    // vars: a REBASE re-ids the staged snapshot (version ids order history
    // by name — the re-parented commit must sort after the head it lands on)
    var curSnap = newSnap
    var newFiles = {
      val newPrefix = s"_v/${curSnap.getName}/"
      snapshotDirFilesRel(curSnap).map(newPrefix + _)
    }
    def put(name: String, body: String): Unit = {
      val out = f.create(new Path(curSnap, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def stage(curParent: Path, curCarried: Seq[String],
        curStats: Map[String, FileStats.FileStat],
        curDvs: Map[String, String]): Unit = {
      // operation metrics for DESCRIBE HISTORY (Delta's operationMetrics
      // role): recorded AT COMMIT from the increment the funnel already
      // computes — O(increment), never a post-hoc recomputation. Row
      // count rides the stats harvest below (absent when stats are off
      // or soft-failed: history then shows null, never a wrong number).
      var addedRowsOpt: Option[Long] = None
      val newInv = curCarried ++ newFiles
      // INCREMENTAL COMMIT DECISION (see [[DeltaDoc]]): record only the
      // change against the parent when (a) incremental commits are on,
      // (b) the chain since the last checkpoint stays within the
      // interval, and (c) the change is genuinely small relative to the
      // inventory — OPTIMIZE/overwrite/restore-shaped commits, whose
      // delta rivals the full list, checkpoint naturally. This is what
      // makes a steady append stream's commit cost O(appended files):
      // a 10⁶-file layer appending 10 files writes ~1 KB of metadata,
      // not a ~100 MB re-serialized inventory.
      val parentM = manifestOf(curParent)
      val parentInv = parentM.map(_.files).getOrElse(
        snapshotDirFilesRel(curParent).map(s"_v/${curParent.getName}/" + _))
      val parentDvsAll = parentM.map(_.dvs).getOrElse(Map.empty[String, String])
      val parentSet = parentInv.toSet
      val newSet = newInv.toSet
      val addFiles = newInv.filterNot(parentSet)
      val removeFiles = parentInv.filterNot(newSet)
      val chain =
        if (hasFullManifest(curParent)) 1
        else deltaDocOf(curParent).map(_.chain + 1).getOrElse(1)
      val interval = checkpointIntervalOf(layer)
      val incremental = interval > 1 && chain <= interval &&
        (addFiles.size + removeFiles.size) * 2 < newInv.size
      // ROW TRACKING base allocation — O(added files): each added file
      // takes a fresh [watermark, watermark+rows) range (one footer read
      // per file, never soft-failed), EXCEPT files a RESTORE resurrects —
      // baseHints hands them their historical bases so their rows keep
      // their identities. Carried files keep their parent entries.
      val tracking = rowTrackingEnabled(layer)
      val parentBases =
        if (!tracking) Map.empty[String, Long]
        else parentM.map(_.rowBases).getOrElse(Map.empty)
      val (addBases, rowWm) =
        if (!tracking) (Map.empty[String, Long], 0L)
        else {
          var wm = parentM.map(_.rowWatermark).getOrElse(0L)
          val toAssign = addFiles.filterNot(parentBases.contains)
          val hinted = toAssign.flatMap(r => baseHints.get(r).map(r -> _))
          val fresh = toAssign.filterNot(baseHints.contains)
          // stage() runs before the marker lands — the staged dir's rels
          // resolve through the same resolveRel as committed ones
          val counts = parquetRowCounts(layer, fresh)
          val assigned = fresh.sorted.map { rel =>
            val b = wm; wm += math.max(counts(rel), 1L); rel -> b
          }
          ((hinted ++ assigned).toMap, wm)
        }
      // IDENTITY watermarks: advanced from the ADDED files' column stats
      // (hard footer reads, O(added files), never soft-failed) so even
      // explicit BY-DEFAULT values bump the counter transactionally with
      // the commit that landed them — no later allocation can collide
      val idCols = identityColumns(layer)
      val idHighs: Map[String, Long] =
        if (idCols.isEmpty) Map.empty
        else {
          val parentHighs = parentM.map(_.idHighs).getOrElse(Map.empty)
          val addStats: Seq[FileStats.FileStat] =
            if (addFiles.isEmpty) Nil
            else FileStats.collectResolved(
              spark.sparkContext.hadoopConfiguration,
              addFiles.map(r => r -> new Path(resolveRel(base, r))))
          val parentMapping = parentM.map(_.mapping).getOrElse(
            Map.empty[String, String])
          idCols.map { case (name, spec) =>
            val phys = mapping.getOrElse(name, name)
            // a RENAME re-keys the identity property to the new logical
            // name, but the parent manifest's watermark still sits under
            // the old one — follow the (never-changing) physical name
            // back to the parent's logical key so the counter carries
            // instead of silently restarting at spec.start
            val prior = parentHighs.get(name)
              .orElse(parentHighs.collectFirst {
                case (pn, v) if parentMapping.getOrElse(pn, pn) == phys => v
              })
              .getOrElse(spec.start)
            val beyond = addStats.flatMap(_.cols.get(phys))
              .flatMap(cs => if (spec.step > 0) cs.max else cs.min)
              .flatMap(s => scala.util.Try(s.toLong).toOption)
              .reduceOption((a, b) =>
                if (spec.step > 0) math.max(a, b) else math.min(a, b))
              .map(v => Lake.alignBeyond(v, spec.start, spec.step))
            name -> beyond.map(b =>
              if (spec.step > 0) math.max(prior, b)
              else math.min(prior, b)).getOrElse(prior)
          }
        }
      if (incremental) {
        // a rebase RESTAGE may have left a full manifest from a previous
        // staging decision — manifestOf prefers it, so it must go
        f.delete(new Path(curSnap, SnapshotManifest.FileName), false)
        put(DeltaDoc.FileName, DeltaDoc.toJson(DeltaDoc(
          curParent.getName, chain, newInv.size, schemaDdl,
          addFiles, removeFiles,
          dvSet = curDvs.filter { case (k, v) =>
            !parentDvsAll.get(k).contains(v) },
          dvUnset = parentDvsAll.keysIterator.filterNot(curDvs.contains)
            .toSeq,
          mapping = mapping, dropped = dropped,
          addBases = addBases, rowWatermark = rowWm, idHighs = idHighs)))
      } else {
        f.delete(new Path(curSnap, DeltaDoc.FileName), false)
        val manifest = SnapshotManifest(newInv, schemaDdl,
          curDvs, mapping, dropped,
          rowBases = if (!tracking) Map.empty
            else (parentBases.filter { case (r, _) => newSet(r) }
              ++ addBases),
          rowWatermark = rowWm, idHighs = idHighs)
        val (head, shards) =
          SnapshotManifest.toJsonSharded(manifest, config.manifestShardSize)
        // shards BEFORE the head: a head naming N shards implies all N
        // exist (a rebase that SHRINKS the shard count leaves stale
        // higher-numbered shard files behind — harmless, the head names
        // what's read)
        shards.zipWithIndex.foreach { case (body, i) =>
          put(SnapshotManifest.shardName(i), body)
        }
        put(SnapshotManifest.FileName, head)
      }
      if (config.collectStats && config.format == "parquet") {
        try {
          val conf = spark.sparkContext.hadoopConfiguration
          val refooter = newFiles ++ curCarried.filterNot(curStats.contains)
          // pre-resolve each rel: clone-carried `../<layer>/…` refs must
          // reach the filesystem as canonical paths (resolveRel's own
          // invariant — HDFS rejects literal `..` segments), while the
          // stat stays KEYED by the manifest rel so sidecar lookups match
          val ownStats = FileStats.collectResolved(conf,
            refooter.map(rel => rel -> new Path(resolveRel(base, rel))))
          val newSet0 = newFiles.toSet
          addedRowsOpt = Some(ownStats.iterator
            .filter(st => newSet0(st.path)).map(_.rows).sum)
          // a rebase RESTAGES into a renamed dir: both sidecars from the
          // previous staging must go, or the bloom write (create
          // overwrite=false) fails and the commit keeps entries keyed to
          // the pre-rename version dir — matching no manifest rel
          f.delete(new Path(curSnap, FileStats.SidecarName), false)
          f.delete(new Path(curSnap, BloomIndex.SidecarName), false)
          // incremental commits land O(increment) stats — this commit's
          // files only; readers fold the chain ([[statsOfSnapshot]]).
          // Checkpoints keep the complete-sidecar form.
          if (incremental) { if (ownStats.nonEmpty) writeSidecar(curSnap, ownStats) }
          else writeSidecar(curSnap, curCarried.flatMap(curStats.get) ++
            ownStats)
          // bloom maintenance ∝ commit increment: carried files keep their
          // parent entries by key (folded through the chain on incremental
          // commits, re-serialized on checkpoints), only this commit's
          // files get scanned; cross-layer (clone) refs opt the whole
          // commit out — the clone carries no index until materialized
          // (enableBloomIndex refuses)
          if (!newInv.exists(r => r.contains("=") || Lake.isForeignRel(r)))
            maybeBloomSidecar(layer, curSnap, base = base,
              rels = newInv,
              rowsByRel = curStats.map { case (r, st) => r -> st.rows } ++
                ownStats.map(st => st.path -> st.rows),
              mapping = mapping,
              schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
              carried = bloomOfSnapshot(layer, curParent),
              writeCarried = !incremental)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Console.err.println(s"[lake] stats sidecar for $curSnap skipped: $e")
        }
      }
      // end of staging: the metrics doc lands INSIDE the snapshot dir
      // (atomic with the commit's visibility, like _OP); a rebase
      // restages and overwrites it against the new parent
      put("_METRICS", Lake.metricsJson(
        addFiles.size, removeFiles.size, addedRowsOpt, opParams))
    }
    val parentDv = dvMapOf(parent)
    var curParent = parent
    var curCarried = carried
    var curStats = oldStats
    var curDvs = dvs
    var rebases = 0
    while (true) try {
      stage(curParent, curCarried, curStats, curDvs)
      // (loop exits via `return curSnap` on a successful marker)
      onBeforeManifestCommit()
      try {
        commitMarker(layer, curSnap,
          requireParent = Some(Some(curParent.getName)), op,
          deleteOnConflict = rebaseRewritten.isEmpty)
        return curSnap
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // LOGICAL CONFLICT RESOLUTION (Delta's conflict matrix for
          // maintenance vs blind appends): when the staged commit's
          // REWRITTEN file set is untouched by the new head — all still
          // present, none re-DV'd, schema/mapping unchanged — the staged
          // data is byte-for-byte what a re-run against the new head
          // would produce for those files. Re-parent: carry the head's
          // inventory minus the rewritten set, keep the staged outputs,
          // retry the marker. A long OPTIMIZE racing a steady append
          // stream then lands in one pass instead of starving on
          // retry-from-scratch.
          val rewritten = rebaseRewritten.getOrElse(throw e) // snap deleted
          rebases += 1
          def bail(): Nothing = { f.delete(curSnap, true); throw e }
          if (rebases > MaxCommitRebases) bail()
          val head = latestSnapshot(layer).getOrElse(bail())
          val mH = manifestOf(head).getOrElse(bail()) // self-contained head
          // = a full overwrite replaced the corpus: staged outputs stale
          val hFiles = mH.files.toSet
          val compatible =
            rewritten.subsetOf(hFiles) &&
              mH.schemaDdl == schemaDdl &&
              mH.mapping == mapping &&
              mH.dropped.toSet == dropped.toSet &&
              rewritten.forall(r => mH.dvs.get(r) == parentDv.get(r)) &&
              rebaseRequireIdHighs.forall(_ == mH.idHighs)
          if (!compatible) bail()
          curParent = head
          curCarried = mH.files.filterNot(rewritten)
          curDvs = mH.dvs -- rewritten
          curStats = statsOfSnapshot(layer, head)
          // re-id the staged snapshot so the rebased commit becomes the
          // name-ordered head (a dir rename: metadata-cheap on FS/HDFS,
          // bounded by the staged outputs on object stores — still far
          // cheaper than re-running the rewrite)
          val fresh = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
          if (!f.rename(curSnap, fresh)) bail()
          curSnap = fresh
          val freshPrefix = s"_v/${curSnap.getName}/"
          newFiles = snapshotDirFilesRel(curSnap).map(freshPrefix + _)
      }
    } catch {
      // A rebase iteration may have RENAMED the staged snapshot (curSnap
      // != newSnap); callers' own cleanup (rewriteCore's catch) only knows
      // the original path, so a non-CME failure after a rename would leave
      // the renamed dir as uncommitted debris until vacuum's orphan grace.
      // Clean up the LIVE staged path here; CME keeps its existing
      // discipline (bail()/commitMarker already deleted what should go,
      // and a rebase-eligible snapshot must survive the lost race).
      case e if scala.util.control.NonFatal(e) &&
          !e.isInstanceOf[java.util.ConcurrentModificationException] =>
        try f.delete(curSnap, true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    throw new IllegalStateException("unreachable")
  }

  /** MATERIALIZE the head's folded state as a full checkpoint (Delta's
    * checkpoint write, on demand): when the head is an incremental
    * (`_DELTA.json`) commit, write the complete `_MANIFEST.json`
    * (+shards), the complete stats sidecar, and the folded bloom sidecar
    * into its version directory — idempotent re-serialization of content
    * the fold already produces, so racing readers see either form with
    * identical results. After it, reads of the head stop walking the
    * chain and vacuum's chain pins on it are released. No new commit:
    * the version id (and history) are unchanged. Run it before a deep
    * vacuum, or on a cadence cheaper than lowering
    * `lake.checkpointInterval`.
    */
  def checkpoint(layer: String): String = {
    val snap = latestSnapshot(layer).getOrElse(throw
      new IllegalStateException(s"layer '$layer' has no committed " +
        "snapshot — nothing to checkpoint"))
    if (!isDeltaOnly(snap)) return snap.toString // already a checkpoint
    val m = manifestOf(snap).get
    val f = fs(snap)
    def put(name: String, body: String): Unit = {
      val out = f.create(new Path(snap, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val (head, shards) =
      SnapshotManifest.toJsonSharded(m, config.manifestShardSize)
    shards.zipWithIndex.foreach { case (body, i) =>
      put(SnapshotManifest.shardName(i), body)
    }
    if (config.collectStats && config.format == "parquet") {
      val folded = statsOfSnapshot(layer, snap)
      if (m.files.forall(folded.contains)) {
        f.delete(new Path(snap, FileStats.SidecarName), false)
        writeSidecar(snap, m.files.map(folded))
      }
      val inv = m.files.toSet
      val bloom = bloomOfSnapshot(layer, snap)
        .filter { case (rel, _) => inv.contains(rel) }
      if (bloom.nonEmpty)
        writeBloomSidecar(snap, bloomFppOf(layer),
          bloomColsOf(layer).map(c => m.mapping.getOrElse(c, c)), bloom,
          overwrite = true)
    }
    // the head LAST (same complete-or-absent discipline as commits: a
    // manifest naming N shards implies all N exist)
    put(SnapshotManifest.FileName, head)
    snap.toString
  }

  /** Roll the layer back to `version` as a NEW commit (Delta's RESTORE):
    * zero data copies — the restored snapshot is a manifest referencing
    * the target snapshot's file inventory, so the bad commits stay in
    * history for audit (and [[diff]]) until [[vacuum]] reclaims them,
    * readers flip atomically, and a racing writer fails the parent check
    * instead of resurrecting on top of unseen changes. Restoring a 100 TB
    * layer costs one manifest write.
    */
  def restore(layer: String, version: String): Lake.RowOpResult = {
    val base = layerPath(layer)
    val target = new Path(s"$base/_v/$version")
    require(fs(target).exists(new Path(target, "_COMMITTED")),
      s"layer '$layer' has no committed snapshot '$version' " +
        s"(known: ${listVersions(layer).mkString(", ")})")
    val head = latestSnapshot(layer).get // exists: target is committed
    if (head.getName == version)
      return Lake.RowOpResult(head.toString, 0,
        snapshotInventory(layer, target).size, noop = true)
    val inv = snapshotInventory(layer, target)
    val schemaDdl = snapshotSchema(layer, target).toDDL
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    val f = fs(newSnap)
    try {
      f.mkdirs(newSnap) // no data files — the manifest IS the snapshot
      commitManifest(layer, head, newSnap, inv,
        statsOfSnapshot(layer, target), schemaDdl, dvs = dvMapOf(target),
        op = "RESTORE", mapping = mappingOf(target),
        dropped = droppedOf(target),
        // row tracking: files the restore RESURRECTS (absent from the
        // head) get their HISTORICAL bases back, so restored rows keep
        // the identities they always had
        baseHints = manifestOf(target).map(_.rowBases).getOrElse(Map.empty))
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        f.delete(newSnap, true)
        throw e
    }
    Lake.RowOpResult(newSnap.toString, 0, inv.size)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE` shape,
    * ref `/root/reference/docs/pipeline_overview.md` positions the lake as
    * the multi-consumer corpus store — dev/test forks are its most common
    * day-2 op after OPTIMIZE/VACUUM): make `dst` a NEW layer whose first
    * snapshot is a manifest referencing the SOURCE snapshot's data files
    * through cross-layer `../<src>/…` rels — ZERO data files copied, so
    * cloning a 100 TB corpus costs one manifest write, exactly
    * [[restore]]'s mechanics pointed at a new layer root.
    *
    * Clone and source then evolve independently: each layer's commits land
    * under its own root; a rewrite on the clone (delete/update/compact)
    * replaces the touched references with clone-local files and carries
    * the rest, so [[compact]] doubles as "materialize the clone".
    * [[vacuum]] on the source pins every version a sibling layer's
    * committed manifests still reference (the cross-layer walk in
    * [[vacuumPlan]]), so reclaiming source history never breaks a clone;
    * vacuum on the clone only ever deletes the clone's own version dirs.
    *
    * `version` forks a HISTORICAL snapshot (None = head). Layer properties
    * are copied EXCEPT the bloom-index declaration — bloom sidecars key by
    * canonical file path, which a cross-layer rel need not match;
    * re-enable after the clone is materialized. Returns the committed
    * snapshot path.
    */
  def clone(src: String, dst: String,
      version: Option[String] = None): String = cloneImpl(this, src, dst,
    version)

  /** [[clone]] from a layer in ANOTHER lake base (Delta's cross-table
    * shallow clone via absolute paths): the dst manifest records
    * `base:<src layer root>//<rel>` refs, and the clone registers itself
    * in the source layer's `_CLONE_PINS/` directory so a vacuum running
    * over THERE pins every version this clone still references — the
    * cross-base mirror of the sibling `_CLONE_SOURCES` walk. A same-base
    * `srcBase` falls through to the sibling-rel form.
    */
  def cloneFrom(srcBase: String, src: String, dst: String,
      version: Option[String] = None): String = {
    val sb = srcBase.stripSuffix("/")
    if (sb == config.basePath.stripSuffix("/")) cloneImpl(this, src, dst,
      version)
    else cloneImpl(new Lake(spark, config.copy(basePath = sb)), src, dst,
      version)
  }

  private def cloneImpl(srcLake: Lake, src: String, dst: String,
      version: Option[String]): String = {
    val sameBase = srcLake.basePathOf.stripSuffix("/") ==
      config.basePath.stripSuffix("/")
    require(!sameBase || src != dst,
      s"clone: source and destination are both '$src'")
    val srcBase = srcLake.layerPath(src)
    val target = version match {
      case Some(v) =>
        val t = new Path(s"$srcBase/_v/$v")
        require(fs(t).exists(new Path(t, "_COMMITTED")),
          s"layer '$src' has no committed snapshot '$v' " +
            s"(known: ${srcLake.listVersions(src).mkString(", ")})")
        t
      case None => srcLake.latestSnapshot(src).getOrElse(throw
        new IllegalArgumentException(s"clone: layer '$src' has no " +
          "committed snapshot (flat layers: convertToLake first)"))
    }
    val dstBase = new Path(layerPath(dst))
    val fd = fs(dstBase)
    require(!latestSnapshot(dst).isDefined && (!fd.exists(dstBase) ||
        !fd.listStatus(dstBase).exists(s =>
          !s.getPath.getName.startsWith("_"))),
      s"clone: destination layer '$dst' already holds data")
    // Same-base: `../<layer>/…` sibling rels (vacuum's sibling walk pins
    // them). Cross-base: absolute `base:<layer root>//<rel>` refs — the
    // source's own `../other/…` refs resolve against ITS base first, so
    // a clone of a clone still references the ORIGINAL data files.
    def rebase(rel: String): String =
      if (rel.startsWith(Lake.BaseRefPrefix)) rel // absolute already
      else if (sameBase) {
        if (rel.startsWith("../")) rel // lake-base-scoped (clone of clone)
        else s"../$src/$rel"
      } else if (rel.startsWith("../")) {
        val segs = rel.split('/')
        s"${Lake.BaseRefPrefix}${srcLake.basePathOf.stripSuffix("/")}/" +
          s"${segs(1)}//${segs.drop(2).mkString("/")}"
      } else s"${Lake.BaseRefPrefix}$srcBase//$rel"
    val srcInv = srcLake.snapshotInventory(src, target)
    val files = srcInv.map(rebase)
    val dvs = srcLake.dvMapOf(target).map { case (k, v) =>
      rebase(k) -> rebase(v) }
    // folded stats restricted to the cloned inventory (an incremental
    // source head's fold is a chain union that may cover removed files)
    val srcStats = srcLake.statsOfSnapshot(src, target)
    val stats = srcInv.flatMap(srcStats.get)
      .map(st => st.copy(path = rebase(st.path)))
    val schemaDdl = srcLake.snapshotSchema(src, target).toDDL
    // config before the commit: constraints / DV opt-in / partition
    // declaration gate writer behavior from the first post-clone commit
    val copied = srcLake.properties(src) -
      BloomIndex.ColsProp - BloomIndex.FppProp
    if (copied.nonEmpty) setProperties(dst, copied)
    // persisted indexes (vector AND dedup) ride the clone DECLARATIVELY:
    // only the tiny `_INDEX.json` metas copy — shard artifacts are
    // BORROWED from the source by content address (a digest keys the
    // FS-qualified data-file path, exactly what the clone's rels resolve
    // to), so a clone of a 100 TB indexed corpus is searchable
    // immediately with zero artifact bytes copied; post-clone rewrites
    // build local artifacts for THEIR files only. Bloom sidecars
    // (excluded above) cannot ride: they key canonical paths a rel need
    // not match.
    srcLake.vectorIndexes(src).foreach { m =>
      val root = VectorIndex.indexRoot(layerPath(dst), m.name)
      fd.mkdirs(root)
      val out = fd.create(new Path(root, VectorIndex.MetaFile), true)
      try out.write(VectorIndex.toJson(m).getBytes("UTF-8"))
      finally out.close()
    }
    srcLake.dedupIndexes(src).foreach { m =>
      val root = DedupIndex.indexRoot(layerPath(dst), m.name)
      fd.mkdirs(root)
      val out = fd.create(new Path(root, DedupIndex.MetaFile), true)
      try out.write(DedupIndex.toJson(m).getBytes("UTF-8"))
      finally out.close()
    }
    // record which layers this clone references (`_CLONE_SOURCES` at the
    // clone root, before the commit): vacuum on a SOURCE layer consults
    // only siblings whose marker names it — layers that never cloned pay
    // zero cross-layer manifest walks
    val allRefs = files ++ dvs.values
    val refLayers = allRefs.filter(_.startsWith("../"))
      .map(_.split('/')(1)).distinct.filter(_.nonEmpty)
    if (refLayers.nonEmpty) {
      val mk = new Path(layerPath(dst), "_CLONE_SOURCES")
      val prior =
        if (fd.exists(mk)) readFully(mk).split("\n").toSeq else Nil
      fd.mkdirs(mk.getParent)
      val out = fd.create(mk, true)
      try out.write((prior ++ refLayers).distinct.filter(_.nonEmpty)
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    // cross-base refs: register this clone at EACH referenced source
    // layer (`<layer root>/_CLONE_PINS/<md5-of-clone-path>`, content =
    // this clone's absolute layer root, before the commit) — the source's
    // vacuum walks registered clones' manifests and pins what they still
    // reference; a deleted clone's stale pin resolves to nothing
    val refRoots = allRefs
      .filter(_.startsWith(Lake.BaseRefPrefix))
      .map(r => Lake.splitBaseRef(r)._1)
      .distinct
    refRoots.foreach { root =>
      val pinDir = new Path(root, "_CLONE_PINS")
      val pf = fs(pinDir)
      pf.mkdirs(pinDir)
      val clonePath = layerPath(dst)
      val token = java.security.MessageDigest.getInstance("MD5")
        .digest(clonePath.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val out = pf.create(new Path(pinDir, token), true)
      try out.write(clonePath.getBytes("UTF-8")) finally out.close()
    }
    val newSnap = new Path(s"${layerPath(dst)}/_v/${newVersionIdAfterHead(dst)}")
    val f = fs(newSnap)
    try {
      f.mkdirs(newSnap) // no data files — the manifest IS the snapshot
      // row tracking rides the clone: the same data files keep the same
      // bases (keys rebased to the clone's ref form), so a row's id is
      // identical whether read through the source or the fork
      val srcM = srcLake.manifestOf(target)
      val manifest = SnapshotManifest(files, schemaDdl, dvs,
        srcLake.mappingOf(target), srcLake.droppedOf(target),
        rowBases = srcM.map(_.rowBases).getOrElse(Map.empty)
          .map { case (k, v) => rebase(k) -> v },
        rowWatermark = srcM.map(_.rowWatermark).getOrElse(0L),
        idHighs = srcM.map(_.idHighs).getOrElse(Map.empty))
      val (head, shards) =
        SnapshotManifest.toJsonSharded(manifest, config.manifestShardSize)
      def put(name: String, body: String): Unit = {
        val out = f.create(new Path(newSnap, name), false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      shards.zipWithIndex.foreach { case (body, i) =>
        put(SnapshotManifest.shardName(i), body)
      }
      put(SnapshotManifest.FileName, head)
      if (config.collectStats && stats.nonEmpty) writeSidecar(newSnap, stats)
      commitMarker(dst, newSnap, requireParent = Some(None), op = "CLONE")
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        f.delete(newSnap, true)
        throw e
    }
    newSnap.toString
  }

  // ---- column rename / drop (metadata-only, via column mapping) ------------

  /** Metadata-only column RENAME (Delta's `columnMapping.mode = name`
    * shape): the commit rewrites ZERO data files — it re-records the
    * logical schema under the new name and maps it to the PHYSICAL name
    * the carried files were written with, so history keeps reading
    * correctly. Requires the layer property
    * `lake.columnMapping.mode = name` — without mapping a rename would
    * silently read as drop+add, nulling the column across all history,
    * which is exactly the failure this refusal names. Hive partition
    * columns are refused (their name is encoded in directory paths — that
    * rename IS a rewrite; use [[compact]] on a renamed frame).
    */
  def renameColumn(layer: String, from: String, to: String)
      : Lake.RowOpResult = {
    requireColumnMapping(layer, "RENAME COLUMN")
    val snap = headForMetaOp(layer)
    val schema = snapshotSchema(layer, snap)
    require(schema.fieldNames.contains(from),
      s"renameColumn('$layer'): no column '$from' " +
        s"(has: ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(to),
      s"renameColumn('$layer'): column '$to' already exists")
    val inv = snapshotInventory(layer, snap)
    refusePartitionColumn(layer, inv, from, "renameColumn")
    val mapping = mappingOf(snap)
    val physical = mapping.getOrElse(from, from)
    val newMapping =
      if (physical == to) mapping - from // renamed back to its file name
      else mapping - from + (to -> physical)
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    // the bloom-index property tracks LOGICAL names — follow the rename
    // (the carried per-file entries stay valid untouched: they're keyed
    // by the physical name, which never changes)
    refuseReferencedColumn(layer, from, "renameColumn")
    val bloomCols = bloomColsOf(layer)
    if (bloomCols.contains(from))
      setProperties(layer, Map(BloomIndex.ColsProp ->
        bloomCols.map(c => if (c == from) to else c).mkString(",")))
    // clustering keys are logical names too — follow the rename
    val zcols = clusterByCols(layer)
    if (zcols.contains(from))
      setProperties(layer, Map(Lake.ClusterByProp ->
        zcols.map(c => if (c == from) to else c).mkString(",")))
    // DEFAULT / GENERATED / IDENTITY declarations keyed by the old name
    // follow the rename — a stale key would re-add the old column on the
    // next fill-at-commit
    rekeyColumnProperties(layer, from, Some(to))
    commitMetaOnly(layer, snap, inv, newSchema.toDDL, newMapping,
      droppedOf(snap), "RENAME COLUMN")
  }

  /** Metadata-only column DROP: the logical schema loses the field, data
    * files keep their (now unreferenced) physical column — zero rewrites;
    * [[compact]] materializes the drop. The physical name is remembered so
    * schema evolution refuses to RE-ADD a column under it (old files
    * would resurrect stale values instead of reading null) until a
    * compaction clears the files. Same `lake.columnMapping.mode = name`
    * gate and partition-column refusal as [[renameColumn]].
    */
  def dropColumn(layer: String, name: String): Lake.RowOpResult = {
    requireColumnMapping(layer, "DROP COLUMN")
    val snap = headForMetaOp(layer)
    val schema = snapshotSchema(layer, snap)
    require(schema.fieldNames.contains(name),
      s"dropColumn('$layer'): no column '$name' " +
        s"(has: ${schema.fieldNames.mkString(", ")})")
    require(schema.fields.length > 1,
      s"dropColumn('$layer'): cannot drop the only column")
    val inv = snapshotInventory(layer, snap)
    refusePartitionColumn(layer, inv, name, "dropColumn")
    val mapping = mappingOf(snap)
    val physical = mapping.getOrElse(name, name)
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    // a dropped column leaves the bloom-index declaration too (stale
    // per-file entries are harmless — probes only consult named columns)
    refuseReferencedColumn(layer, name, "dropColumn")
    val bloomCols = bloomColsOf(layer)
    if (bloomCols.contains(name))
      setProperties(layer, Map(BloomIndex.ColsProp ->
        bloomCols.filterNot(_ == name).mkString(",")))
    // a dropped column leaves the clustering declaration (OPTIMIZE would
    // otherwise fail resolving it on the next maintenance pass)
    val zcols = clusterByCols(layer)
    if (zcols.contains(name))
      setProperties(layer, Map(Lake.ClusterByProp ->
        zcols.filterNot(_ == name).mkString(",")))
    // a dropped column takes its DEFAULT / GENERATED / IDENTITY
    // declaration with it — otherwise the next commit's fill-at-commit
    // would silently resurrect the column with constant values
    rekeyColumnProperties(layer, name, None)
    commitMetaOnly(layer, snap, inv, newSchema.toDDL, mapping - name,
      (droppedOf(snap) :+ physical).distinct, "DROP COLUMN")
  }

  /** Metadata-only column ADD (Delta's `ALTER TABLE … ADD COLUMNS` role):
    * the logical schema gains a nullable trailing field in ONE manifest
    * commit — zero data rewrites; every carried file reads null for it
    * (the manifest-recorded schema is the read authority, the same
    * contract append-with-mergeSchema evolution already relies on; the
    * stats sidecar simply has no entry for the new column, so skipping
    * treats it as can't-prune). Added columns must be nullable — no
    * existing row can satisfy NOT NULL; add, backfill, then constrain.
    * Re-adding a name a [[dropColumn]] left inside carried files is
    * refused (stale values would resurrect — compact first). Unlike
    * rename/drop this needs NO column mapping: a brand-new name collides
    * with no file's physical column.
    */
  def addColumn(layer: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Lake.RowOpResult = {
    val snap = headForMetaOp(layer)
    val schema = snapshotSchema(layer, snap)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"addColumn('$layer'): column '$name' already exists " +
        s"(has: ${schema.fieldNames.mkString(", ")})")
    refuseDroppedResurrection(layer, snap, Seq(name))
    val inv = snapshotInventory(layer, snap)
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true))
    commitMetaOnly(layer, snap, inv, newSchema.toDDL, mappingOf(snap),
      droppedOf(snap), "ADD COLUMN")
  }

  /** TYPE WIDENING (Delta 3.x's `ALTER TABLE … ALTER COLUMN … TYPE`):
    * re-record the column at a WIDER type as a metadata-only manifest
    * commit — ZERO files rewritten. Carried files keep their narrow
    * physical type and read through the parquet reader's type promotion
    * (the manifest schema is the read authority, exactly [[addColumn]]'s
    * mechanism); subsequent appends may land at either width — narrow
    * increments promote on read the same way. Allowed promotions are
    * [[SchemaEvolution.widens]]'s exact list (byte→short→int→long,
    * float→double, byte/short/int→double, the Delta 3.x decimal matrix:
    * decimal→wider-decimal and integral→decimal); NARROWING is refused
    * loudly —
    * it would corrupt every carried file's reads. On a 100 TB layer this
    * turns the int→long migration every long-lived schema eventually
    * needs from a full rewrite into one manifest write.
    */
  def widenColumn(layer: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Lake.RowOpResult = {
    val snap = headForMetaOp(layer)
    val schema = snapshotSchema(layer, snap)
    val field = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn('$layer'): no column '$name' " +
          s"(has: ${schema.fieldNames.mkString(", ")})"))
    val inv = snapshotInventory(layer, snap)
    if (field.dataType == newType)
      return Lake.RowOpResult(snap.toString, 0, inv.size, noop = true)
    require(SchemaEvolution.widens(field.dataType, newType),
      s"widenColumn('$layer'): ${field.dataType.simpleString} → " +
        s"${newType.simpleString} is not a safe widening (allowed: " +
        "byte→short→int→long, float→double, byte/short/int→double, " +
        "decimal(p,s)→decimal(p′,s′) with p′−s′ ≥ p−s and s′ ≥ s, " +
        "byte/short/int/long→decimal with enough integer digits) — " +
        "narrowing would corrupt carried files' reads; rewrite through " +
        "compact() on an explicitly cast frame instead")
    // hive partition values live as PATH STRINGS typed by discovery —
    // changing their declared type is a layout question, not metadata
    refusePartitionColumn(layer, inv,
      mappingOf(snap).getOrElse(name, name), "widenColumn")
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == name) f.copy(dataType = newType) else f))
    commitMetaOnly(layer, snap, inv, newSchema.toDDL, mappingOf(snap),
      droppedOf(snap), "ALTER COLUMN TYPE")
  }

  private def requireColumnMapping(layer: String, op: String): Unit =
    require(properties(layer).get("lake.columnMapping.mode").contains("name"),
      s"$op on '$layer' needs column mapping: setProperties(\"$layer\", " +
        "Map(\"lake.columnMapping.mode\" -> \"name\")) first — without it " +
        "a rename/drop would silently change what historical files mean")

  private def headForMetaOp(layer: String): Path =
    latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — column ops need the " +
        "snapshot protocol; land the layer with writeAtomic first"))

  private def refusePartitionColumn(layer: String, inv: Seq[String],
      name: String, op: String): Unit =
    require(!inv.exists(_.split('/').exists(_.startsWith(name + "="))),
      s"$op('$layer'): '$name' is a hive partition column — its name is " +
        "encoded in directory paths, so this op is a rewrite, not " +
        "metadata; compact the layer from a renamed frame instead")

  /** The zero-data-files commit renameColumn/dropColumn share: carry the
    * whole inventory (+ DVs, + stats) and re-record schema/mapping.
    */
  private def commitMetaOnly(layer: String, head: Path, inv: Seq[String],
      schemaDdl: String, mapping: Map[String, String],
      dropped: Seq[String], op: String): Lake.RowOpResult = {
    val base = layerPath(layer)
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    val f = fs(newSnap)
    try {
      f.mkdirs(newSnap) // no data files — the manifest IS the change
      commitManifest(layer, head, newSnap, inv, rebasedStats(layer, head),
        schemaDdl, dvs = dvMapOf(head), op = op, mapping = mapping,
        dropped = dropped)
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        f.delete(newSnap, true)
        throw e
    }
    Lake.RowOpResult(newSnap.toString, 0, inv.size)
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS`: re-harvest per-file stats for
    * the WHOLE live inventory (parquet footer reads, one per file —
    * never a data scan) and land them as a METADATA-ONLY commit
    * (`ANALYZE` in history), so layers that lack a complete sidecar —
    * CONVERT-adopted files whose harvest soft-failed, foreign writers,
    * `collectStats = false` writes — gain file skipping, metadata-only
    * row counts, and exact Catalyst statistics after the fact.
    * Committed-sidecar immutability is preserved (every cache layer
    * relies on it): the refresh is a NEW commit whose own sidecar covers
    * the full inventory, never an in-place rewrite of an existing
    * snapshot's `_STATS.json`. O(files) footer reads + one commit;
    * parent-checked like every metadata op.
    */
  def analyzeStats(layer: String): Lake.RowOpResult = {
    val snap = headForMetaOp(layer)
    val inv = snapshotInventory(layer, snap)
    val base = layerPath(layer)
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    val f = fs(newSnap)
    try {
      f.mkdirs(newSnap) // no data files — the refreshed sidecar IS the change
      // oldStats EMPTY on purpose: the commit funnel's stats harvest
      // re-footers every carried file instead of reusing a (possibly
      // absent or partial) prior sidecar
      commitManifest(layer, snap, newSnap, inv, Map.empty,
        snapshotSchema(layer, snap).toDDL, dvs = dvMapOf(snap),
        op = "ANALYZE", mapping = mappingOf(snap),
        dropped = droppedOf(snap))
    } catch {
      case e: java.util.ConcurrentModificationException => throw e
      case scala.util.control.NonFatal(e) =>
        f.delete(newSnap, true)
        throw e
    }
    Lake.RowOpResult(newSnap.toString, 0, inv.size)
  }

  /** Refuse a schema-evolving commit that re-adds a column whose physical
    * name a [[dropColumn]] left inside carried files — those files would
    * resurrect the OLD values instead of reading null.
    */
  private def refuseDroppedResurrection(layer: String, snap: Path,
      added: Seq[String]): Unit = {
    val dropped = droppedOf(snap)
    if (dropped.isEmpty) return
    val clash = added.filter(dropped.contains)
    require(clash.isEmpty,
      s"layer '$layer': column(s) ${clash.mkString(", ")} were DROPPED but " +
        "their data still lives inside carried files — re-adding the name " +
        "would resurrect stale values. compact(layer) first to materialize " +
        "the drop, then re-add.")
  }

  /** An ARBITRARY snapshot's sidecar stats keyed layer-root-relative (the
    * [[rebasedStats]] form, but not pinned to the latest snapshot — the
    * restore path needs the target's stats, not HEAD's).
    */
  /** Bounded cache of FOLDED per-snapshot stats maps — an incremental
    * (delta) head's stats are its chain's union, and commit/prune paths
    * consult the head several times.
    */
  private val foldedStatsCache =
    new LruCache[String, Map[String, FileStats.FileStat]](8)

  /** This instance's metadata caches by name (for bound checks). */
  private[io] def caches: Map[String, LruCache[String, _ <: AnyRef]] = Map(
    "manifest" -> manifestCache, "delta" -> deltaCache,
    "dvPayload" -> dvPayloadCache, "schema" -> schemaCache,
    "committedSchema" -> committedSchemas, "sidecar" -> sidecarCache,
    "foldedStats" -> foldedStatsCache)

  private def statsOfSnapshot(layer: String,
      snap: Path): Map[String, FileStats.FileStat] = {
    foldedStatsCache.get(snap.toString).foreach(hit => return hit)
    val p = new Path(snap, FileStats.SidecarName)
    val f = fs(p)
    val own: Map[String, FileStats.FileStat] =
      if (!f.exists(p)) Map.empty
      else {
        val stats = FileStats.fromJson(readFully(p))
        val rebase =
          if (manifestOf(snap).isDefined) (s: String) => s
          else (s: String) => s"_v/${snap.getName}/$s"
        stats.map(st => rebase(st.path) -> st.copy(path = rebase(st.path)))
          .toMap
      }
    // incremental commits land O(increment) sidecars — fold the chain
    // (own wins; the union may cover files no longer in the inventory,
    // callers key by inventory). May still be PARTIAL when a chain
    // commit's sidecar soft-failed — [[sidecarStats]] enforces the
    // all-or-nothing discipline before pruning trusts it.
    val folded =
      if (isDeltaOnly(snap))
        statsOfSnapshot(layer,
          new Path(snap.getParent, deltaDocOf(snap).get.parent)) ++ own
      else own
    foldedStatsCache.put(snap.toString, folded)
    folded
  }

  /** Keyed upsert (Delta's `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * /
    * WHEN NOT MATCHED THEN INSERT *`): target rows whose key matches a
    * `source` row are replaced by that row; source rows with no target
    * match are inserted. Same manifest mechanics as [[deleteWhere]] — only
    * the target files that CAN hold a source key are rewritten (their rows
    * anti-joined against the source keys), the whole source lands as new
    * files beside them, everything else rides by reference.
    *
    * The can-match predicate is derived from the source keys themselves:
    * an exact IN-set when the (single-column) key count is ≤
    * `maxExactKeys`, per-column min/max ranges otherwise — so a CDC batch
    * touching one day of an ingest-ordered layer rewrites that day's
    * files, not the layer. Source keys must be unique (multiple source
    * rows for one target key make the merge ambiguous — same contract as
    * Delta, refused loudly); disable the uniqueness pass with
    * `requireUniqueKeys = false` only when the producer guarantees it.
    */
  def mergeInto(layer: String, source: DataFrame, keys: Seq[String],
      maxExactKeys: Int = 8192,
      requireUniqueKeys: Boolean = true,
      allowSchemaEvolution: Boolean = false): Lake.RowOpResult = {
    import org.apache.spark.sql.functions.{col, countDistinct, count, lit, struct}
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — row ops need the " +
        "snapshot protocol; land the layer with writeAtomic/compact first"))
    val targetSchema = snapshotSchema(layer, snap)
    val targetCols = targetSchema.fieldNames.toSeq
    // mirror writeAtomic/appendAtomic's reservation: a source that still
    // carries _row_id (e.g. built from readWithRowIds) would make the
    // id-inheritance left join ambiguous / silently wrong
    require(!rowTrackingEnabled(layer) ||
        !source.columns.exists(_.equalsIgnoreCase(Lake.RowIdCol)),
      s"mergeInto('$layer'): '${Lake.RowIdCol}' is reserved on a " +
        "row-tracking layer — drop it from the merge source (ids are " +
        "inherited from matched target rows, never caller-supplied)")
    val extraCols = source.columns.toSeq.filterNot(targetCols.contains)
    if (allowSchemaEvolution)
      // evolution contract: the source must still carry every existing
      // column (replaced rows can't silently lose fields); EXTRA source
      // columns become new layer columns — carried files read null
      require(targetCols.forall(source.columns.contains),
        s"mergeInto(allowSchemaEvolution): source must carry every layer " +
          s"column; missing ${targetCols.filterNot(source.columns.contains)
            .mkString(",")}")
    else
      require(source.columns.sorted.toSeq == targetCols.sorted,
        s"mergeInto: source columns ${source.columns.sorted.mkString(",")} " +
          s"must equal layer columns ${targetCols.sorted.mkString(",")} " +
          "(pass allowSchemaEvolution = true to add the new columns)")
    keys.foreach(k => require(targetCols.contains(k),
      s"mergeInto: key '$k' is not a layer column"))
    // commit-time type check (widen-or-refuse): without it the rewrite's
    // union coercion would happily resolve int vs string to STRING and
    // record a schema the carried parquet files can never be read with
    SchemaEvolution.evolve(targetSchema, source.schema,
      allowNew = allowSchemaEvolution, context = s"mergeInto('$layer')")
    val src = source.select((targetCols ++ extraCols).map(col): _*).persist()
    try {
      if (requireUniqueKeys) {
        val row = src
          .agg(count(lit(1)), countDistinct(struct(keys.map(col): _*)))
          .head()
        val (n, d) = (row.getLong(0), row.getLong(1))
        require(n == d, s"mergeInto: source holds $n rows but only $d " +
          s"distinct keys over (${keys.mkString(", ")}) — ambiguous merge")
        if (n == 0)
          return Lake.RowOpResult(snap.toString, 0,
            snapshotInventory(layer, snap).size, noop = true)
      } else if (src.isEmpty)
        // an empty CDC micro-batch must be a NOOP, not a commit: with no
        // source rows every can-match heuristic degenerates (null bounds,
        // empty IN-list) and the append leg would land a useless snapshot
        // per empty batch — upsertToLake fires one per idle trigger
        return Lake.RowOpResult(snap.toString, 0,
          snapshotInventory(layer, snap).size, noop = true)
      // can-match predicate from the source keys: exact IN for a small
      // single-column key set, conservative per-column ranges otherwise.
      // None = PROVABLY no target row matches (all-null key column) — it
      // must be signalled out-of-band, because a lit(false) Column is
      // folded away by the optimizer (PruneFilters → empty relation, no
      // Filter survives) and resolveCondition would read it as
      // "no constraint" → full-layer rewrite, the exact degradation this
      // path exists to prevent
      val pred: Option[org.apache.spark.sql.Column] =
        exactKeysPredicate(src, keys, maxExactKeys) match {
          case Some(exact) => exact // IN-set conjunction, or provably none
          case None => boundsPredicate(src, keys) // cap blown → ranges
        }
      rewriteCore(layer, snap, pred,
        affected => affected.join(src, keys, "left_anti"),
        append = Some(src), op = "MERGE", appendIdKeys = keys,
        opParams = Map("keys" -> keys.mkString(",")))
    } finally src.unpersist()
  }

  /** Generalized MERGE — Delta's FULL clause matrix, everything
    * [[mergeInto]]'s star/star fast path can't express:
    *
    *  - `WHEN MATCHED [AND cond] THEN UPDATE SET …` / `THEN DELETE`
    *  - `WHEN NOT MATCHED [AND cond] THEN INSERT …`
    *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE …` / `DELETE`
    *
    * First-match-wins within each clause group (Delta semantics); a row
    * no clause claims is carried unchanged. Matched-context conditions
    * and UPDATE values may reference source columns via [[Lake.srcCol]];
    * insert values evaluate against the SOURCE frame (plain source
    * names); by-source conditions/values see TARGET columns only.
    *
    * Scale shape — same file-level rewrite as every row op:
    *  - affected files = (stats-can-match the source keys) ∪ (stats-can-
    *    match some by-source condition); with no by-source clause this is
    *    exactly [[mergeInto]]'s pruning, with an UNconditioned by-source
    *    clause it is the whole layer (inherent: every unmatched row must
    *    be visited — Delta pays the same);
    *  - matched rows rewrite IN PLACE (one left join against the source,
    *    CASE per column), so on a row-tracking layer updates keep their
    *    row ids and [[changeFeedTracked]] attributes them as
    *    update_pre/postimage pairs;
    *  - the insert leg anti-joins the source against only the key-pruned
    *    target slice; inserts land as fresh files (fresh row ids).
    *
    * The source must not carry [[Lake.SrcColPrefix]]-named columns (the
    * join-side rename namespace) nor `_row_id` on tracking layers. With
    * `requireUniqueKeys` (default) a source with duplicate keys is
    * refused when any rewrite clause exists — a multi-matched target row
    * would otherwise duplicate through the join (Delta throws the same
    * error at runtime); pass false ONLY with a pre-deduplicated source
    * (the join leg then takes an arbitrary per-key winner).
    */
  def mergeApply(layer: String, source: DataFrame, keys: Seq[String],
      matched: Seq[Lake.MergeClause] = Nil,
      notMatched: Seq[Lake.MergeClause] = Nil,
      notMatchedBySource: Seq[Lake.MergeClause] = Nil,
      maxExactKeys: Int = 8192,
      requireUniqueKeys: Boolean = true): Lake.RowOpResult = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, count,
      countDistinct, lit, struct, when}
    require(keys.nonEmpty, "mergeApply needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty,
      "mergeApply needs at least one WHEN clause")
    def checkGroup(cs: Seq[Lake.MergeClause], group: String)(
        ok: Lake.MergeAction => Boolean): Unit = {
      cs.foreach(c => require(ok(c.action),
        s"mergeApply: a $group clause cannot carry ${c.action}"))
      require(cs.isEmpty || cs.init.forall(_.condition.isDefined),
        s"mergeApply: every $group clause except the last needs a " +
          "condition (first-match-wins would make later clauses dead)")
    }
    checkGroup(matched, "WHEN MATCHED") {
      case _: Lake.MergeUpdate | Lake.MergeUpdateStar | Lake.MergeDelete =>
        true
      case _ => false
    }
    checkGroup(notMatched, "WHEN NOT MATCHED") {
      case _: Lake.MergeInsert | Lake.MergeInsertStar => true
      case _ => false
    }
    checkGroup(notMatchedBySource, "WHEN NOT MATCHED BY SOURCE") {
      case _: Lake.MergeUpdate | Lake.MergeDelete => true
      case _ => false
    }
    val snap = latestSnapshot(layer).getOrElse(throw
      new IllegalStateException(s"layer '$layer' has no committed " +
        "snapshot — land the layer with writeAtomic first"))
    val targetSchema = snapshotSchema(layer, snap)
    val tCols = targetSchema.fieldNames.toSeq
    keys.foreach(k => require(tCols.exists(_.equalsIgnoreCase(k)),
      s"mergeApply: key '$k' is not a layer column"))
    keys.foreach(k => require(source.columns.exists(_.equalsIgnoreCase(k)),
      s"mergeApply: key '$k' is not a source column"))
    require(!rowTrackingEnabled(layer) ||
        !source.columns.exists(_.equalsIgnoreCase(Lake.RowIdCol)),
      s"mergeApply('$layer'): '${Lake.RowIdCol}' is reserved on a " +
        "row-tracking layer — drop it from the merge source")
    require(!source.columns.exists(_.startsWith(Lake.SrcColPrefix)),
      s"mergeApply: source column names must not start with " +
        s"'${Lake.SrcColPrefix}' (the merge join namespace)")
    require(!source.columns.exists(_.startsWith("__merge_")),
      "mergeApply: source column names must not start with '__merge_' " +
        "(the merge bookkeeping namespace)")
    val hasStar = (matched ++ notMatched).exists(c =>
      c.action == Lake.MergeUpdateStar || c.action == Lake.MergeInsertStar)
    if (hasStar)
      require(tCols.forall(c => source.columns.exists(_.equalsIgnoreCase(c))),
        "mergeApply: star actions need the source to carry every layer " +
          s"column; missing ${tCols.filterNot(c =>
            source.columns.exists(_.equalsIgnoreCase(c))).mkString(",")}")
    (matched ++ notMatchedBySource).foreach(c => c.action match {
      case Lake.MergeUpdate(set) => set.keys.foreach(k =>
        require(tCols.exists(_.equalsIgnoreCase(k)),
          s"mergeApply: UPDATE sets unknown column '$k'"))
      case _ => ()
    })
    notMatched.foreach(c => c.action match {
      case Lake.MergeInsert(vs) => vs.keys.foreach(k =>
        require(tCols.exists(_.equalsIgnoreCase(k)),
          s"mergeApply: INSERT names unknown column '$k'"))
      case _ => ()
    })
    // a source column name resolved case-insensitively (star actions)
    def srcSpelling(c: String): String =
      source.columns.find(_.equalsIgnoreCase(c)).get

    val src = source.persist()
    try {
      val srcEmpty = src.isEmpty
      if (srcEmpty && notMatchedBySource.isEmpty)
        return Lake.RowOpResult(snap.toString, 0,
          snapshotInventory(layer, snap).size, noop = true)
      val rewriteClauses = matched.nonEmpty || notMatchedBySource.nonEmpty
      if (requireUniqueKeys && rewriteClauses && !srcEmpty) {
        val row = src
          .agg(count(lit(1)), countDistinct(struct(keys.map(col): _*)))
          .head()
        val (n, d) = (row.getLong(0), row.getLong(1))
        require(n == d, s"mergeApply: source holds $n rows but only $d " +
          s"distinct keys over (${keys.mkString(", ")}) — a multi-" +
          "matched target row is ambiguous (dedupe the source or pass " +
          "requireUniqueKeys = false with a pre-deduplicated source)")
      }
      // files the source KEYS can reach (mergeInto's exact-IN / bounds)
      val keyPred: Option[Column] =
        if (srcEmpty) None
        else exactKeysPredicate(src, keys, maxExactKeys) match {
          case Some(exact) => exact // IN-set conjunction, or provably none
          case None => boundsPredicate(src, keys) // cap blown → ranges
        }
      // files some by-source condition can reach (target-column exprs
      // only — srcCol references are meaningless against unmatched rows)
      val bySourceReach: Option[Column] =
        if (notMatchedBySource.isEmpty) None
        else Some(notMatchedBySource.map(_.condition.getOrElse(lit(true)))
          .reduce(_ || _))
      // with no matched clause, key-reachable files have nothing to
      // rewrite (matched rows carry) — only the by-source reach matters
      val predicate: Option[Column] =
        (if (matched.nonEmpty) keyPred else None, bySourceReach) match {
          case (Some(k), Some(b)) => Some(k || b)
          case (Some(k), None) => Some(k)
          case (None, b) => b
        }

      // insert leg: source rows matching NO target key, first-match
      // insert clause applied; anti-join only against the key-pruned
      // target slice (lossless: a target row outside keyPred can't
      // equal any source key)
      // match-flag and insert-tag columns live OUTSIDE the __src_ rename
      // image: a source column literally named 'present' renames to
      // __src_present, so a flag under that name would silently shadow
      // real source data (srcCol("present") and UPDATE SET * would read
      // the boolean). The __merge_ namespace is refused on sources above.
      val PresentCol = "__merge_present"
      val TagCol = "__merge_tag"
      val appendRows: Option[DataFrame] =
        if (notMatched.isEmpty || srcEmpty) None
        else {
          val unmatchedSrc = keyPred match {
            case Some(p) =>
              src.join(read(layer).where(p)
                  .select(keys.map(k => col(k).as(srcSpelling(k))): _*),
                keys.map(srcSpelling), "left_anti")
            case None => src // all-null source keys: nothing matches
          }
          val insTag = notMatched.zipWithIndex.map { case (cl, i) =>
            (cl.condition.getOrElse(lit(true)), i)
          }
          val tagExpr = insTag.tail
            .foldLeft(when(insTag.head._1, lit(insTag.head._2))) {
              case (acc, (c, i)) => acc.when(c, lit(i))
            }.otherwise(lit(-1))
          val tagged = unmatchedSrc.withColumn(TagCol, tagExpr)
            .filter(col(TagCol) >= 0)
          // an INSERT clause's unlisted columns take the layer's DEFAULT
          // (declared via setColumnDefault) and NULL otherwise — the
          // ANSI INSERT-with-column-list contract
          val defaults = columnDefaults(layer)
          def unlisted(c: String): Column =
            defaults.find(_._1.equalsIgnoreCase(c))
              .map(d => org.apache.spark.sql.functions.expr(d._2))
              .getOrElse(lit(null))
          val outCols = targetSchema.fields.toSeq.map { f =>
            val cases = notMatched.zipWithIndex.map { case (cl, i) =>
              cl.action match {
                case Lake.MergeInsertStar =>
                  i -> col(s"`${srcSpelling(f.name)}`")
                case Lake.MergeInsert(vs) =>
                  i -> vs.find(_._1.equalsIgnoreCase(f.name)).map(_._2)
                    .getOrElse(unlisted(f.name))
                case other => throw new IllegalStateException(
                  s"insert group holds $other") // excluded by checkGroup
              }
            }
            cases.tail.foldLeft(
                when(col(TagCol) === cases.head._1, cases.head._2)) {
              case (acc, (i, v)) => acc.when(col(TagCol) === i, v)
            }.cast(f.dataType).as(f.name)
          }
          Some(tagged.select(outCols: _*))
        }

      // rewrite leg: matched rows update/delete in place, unmatched rows
      // take the first applicable by-source clause, everything else
      // carries — ONE left join + CASE per column
      val srcJoin0 = src.select(src.columns.map(c =>
        col(s"`$c`").as(Lake.SrcColPrefix + c)): _*)
        .withColumn(PresentCol, lit(true))
      val srcJoin =
        if (requireUniqueKeys) srcJoin0
        else srcJoin0.dropDuplicates(
          keys.map(k => Lake.SrcColPrefix + srcSpelling(k)))
      def transform(affected: DataFrame): DataFrame = {
        val joined = affected.join(srcJoin,
          keys.map(k => col(s"`$k`") ===
            col(Lake.SrcColPrefix + srcSpelling(k))).reduce(_ && _),
          "left")
        val matchedFlag = coalesce(col(PresentCol), lit(false))
        val actions: Seq[Lake.MergeAction] =
          matched.map(_.action) ++ notMatchedBySource.map(_.action)
        val whens: Seq[(Column, Int)] =
          matched.zipWithIndex.map { case (cl, i) =>
            (matchedFlag && cl.condition.getOrElse(lit(true)), i)
          } ++ notMatchedBySource.zipWithIndex.map { case (cl, i) =>
            (!matchedFlag && cl.condition.getOrElse(lit(true)),
              matched.size + i)
          }
        val tagExpr = whens.tail
          .foldLeft(when(whens.head._1, lit(whens.head._2))) {
            case (acc, (c, i)) => acc.when(c, lit(i))
          }.otherwise(lit(-1)) // -1 = carry
        val deleteTags = actions.zipWithIndex.collect {
          case (Lake.MergeDelete, i) => i
        }
        val tagged = joined.withColumn(TagCol, tagExpr)
        val kept =
          if (deleteTags.isEmpty) tagged
          else tagged.filter(!col(TagCol).isin(deleteTags.map(Int.box): _*))
        val carryId =
          affected.columns.exists(_.equalsIgnoreCase(Lake.RowIdCol))
        val outCols = targetSchema.fields.toSeq.map { f =>
          val cases: Seq[(Int, Column)] =
            actions.zipWithIndex.flatMap { case (a, i) => a match {
              case Lake.MergeUpdateStar =>
                Some(i -> col(Lake.SrcColPrefix + srcSpelling(f.name)))
              case Lake.MergeUpdate(set) =>
                set.find(_._1.equalsIgnoreCase(f.name)).map(v => i -> v._2)
              case _ => None
            } }
          val e =
            if (cases.isEmpty) col(s"`${f.name}`")
            else cases.tail.foldLeft(
                when(col(TagCol) === cases.head._1, cases.head._2)) {
              case (acc, (i, v)) => acc.when(col(TagCol) === i, v)
            }.otherwise(col(s"`${f.name}`"))
          e.cast(f.dataType).as(f.name)
        }
        kept.select(outCols ++
          (if (carryId) Seq(col(Lake.RowIdCol)) else Nil): _*)
      }
      rewriteCore(layer, snap, predicate, transform,
        append = appendRows, op = "MERGE",
        opParams = Map("keys" -> keys.mkString(",")))
    } finally src.unpersist()
  }

  /** Full-snapshot reconciliation (the dimension-refresh pattern):
    * make `layer` hold EXACTLY `source`'s rows keyed by `keys` —
    * matched rows update to the source's values, new keys insert,
    * keys absent from the source delete. One [[mergeApply]] with
    * `WHEN NOT MATCHED BY SOURCE THEN DELETE`.
    */
  def syncFrom(layer: String, source: DataFrame,
      keys: Seq[String]): Lake.RowOpResult =
    mergeApply(layer, source, keys,
      matched = Seq(Lake.MergeClause(None, Lake.MergeUpdateStar)),
      notMatched = Seq(Lake.MergeClause(None, Lake.MergeInsertStar)),
      notMatchedBySource = Seq(Lake.MergeClause(None, Lake.MergeDelete)))

  /** EXACT key-reach predicate for merge file pruning: the source's
    * distinct NON-NULL values per key column, as a conjunction of
    * per-column IN sets. Sound for equi-keys: a target row can only
    * match when EVERY key column holds one of its source column's
    * values (null keys match nothing, so dropping them tightens the
    * predicate without losing a match). For composite keys this prunes
    * far harder than per-column [min, max] bounds — a CDC batch touching
    * customers {3, 9M} reaches two files' worth of stats ranges, not
    * every file between them.
    *
    * Outer None = some column exceeded `maxExactKeys` distinct values —
    * the caller falls back to [[boundsPredicate]]. Inner None = some key
    * column holds NO non-null value → provably nothing matches (the same
    * out-of-band signal as boundsPredicate: a lit(false) would be folded
    * away and read back as "no constraint" → full-layer rewrite).
    * Cost: one distinct-limit job per key over the (cached) source.
    */
  private def exactKeysPredicate(src: DataFrame, keys: Seq[String],
      maxExactKeys: Int): Option[Option[org.apache.spark.sql.Column]] = {
    import org.apache.spark.sql.functions.col
    val perKey = keys.map { k =>
      val vals = src.select(k).distinct().limit(maxExactKeys + 1)
        .collect().map(_.get(0))
      if (vals.length > maxExactKeys) None else Some(vals)
    }
    if (perKey.contains(None)) return None // cap blown → bounds fallback
    val nonNull = perKey.flatten.map(_.filterNot(_ == null))
    if (nonNull.exists(_.isEmpty)) Some(None) // all-null key: no match
    else Some(Some(keys.zip(nonNull).map { case (k, vs) =>
      col(k).isin(vs.toSeq: _*)
    }.reduce(_ && _)))
  }

  /** Conservative key-range predicate: each key within the source's
    * observed [min, max]. One aggregate over the source. Null bounds mean
    * the column holds NO non-null value (min/max skip nulls, and they null
    * together) — an equi-key match on it is then impossible (NULL = x is
    * never TRUE), so the answer is None = "provably no file matches", NOT
    * a lit(false) Column (which the optimizer folds away, reading back as
    * "no constraint" → full-layer rewrite).
    */
  private def boundsPredicate(src: DataFrame,
      keys: Seq[String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    val perKey = keys.zipWithIndex.map { case (k, i) =>
      val (lo, hi) = (row.get(2 * i), row.get(2 * i + 1))
      if (lo == null || hi == null) None
      else Some(col(k).between(lit(lo), lit(hi)))
    }
    if (perKey.exists(_.isEmpty)) None
    else Some(perKey.flatten.reduce(_ && _))
  }

  /** A predicate's SQL text for the history operationParameters —
    * display/audit payload, best-effort (falls back to toString for
    * expressions without a SQL rendering).
    */
  private def predSql(p: org.apache.spark.sql.Column): String =
    scala.util.Try(
      org.apache.spark.sql.NewspipeSqlBridge.convertedExpression(p).sql)
      .getOrElse(p.toString)

  /** Shared rewrite core of [[deleteWhere]]/[[updateWhere]]. `transform`
    * receives exactly the rows of the files the predicate can touch and
    * returns their replacement rows.
    */
  private def rewriteRows(layer: String,
      predicate: org.apache.spark.sql.Column,
      transform: DataFrame => DataFrame, op: String,
      opParams: Map[String, String] = Map.empty): Lake.RowOpResult = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — row ops need the " +
        "snapshot protocol; land the layer with writeAtomic/compact first"))
    rewriteCore(layer, snap, Some(predicate), transform, append = None,
      op = op, opParams = opParams)
  }

  /** File-level rewrite shared by every row op: partition the snapshot's
    * inventory into can-match (rewritten through `transform`) and
    * provably-untouched (carried by manifest reference), optionally append
    * `append`'s rows as new files (the merge insert leg), commit the
    * combined inventory as a parent-checked manifest snapshot.
    * `predicate` None = PROVABLY nothing matches (merge's all-null-key
    * bounds) — zero files rewrite, only the append leg can land.
    */
  private def rewriteCore(layer: String, snap: Path,
      predicate: Option[org.apache.spark.sql.Column],
      transform: DataFrame => DataFrame,
      append: Option[DataFrame], op: String,
      affectedOverride: Option[Set[String]] = None,
      appendIdKeys: Seq[String] = Nil,
      opParams: Map[String, String] = Map.empty): Lake.RowOpResult = {
    val base = layerPath(layer)
    val inventory = snapshotInventory(layer, snap)
    val mapping = mappingOf(snap)
    // which files can the predicate possibly touch? (the predicate is
    // translated to physical names, so stats pruning holds under mapping)
    val oldStats = rebasedStats(layer, snap)
    lazy val cond = predicate.flatMap { p =>
      if (oldStats.isEmpty) None
      else resolveCondition(layer, base, oldStats.values.toSeq, p, mapping)
    }
    def mayMatch(rel: String): Boolean = affectedOverride match {
      // caller named the files (partial OPTIMIZE): no predicate pruning
      case Some(set) => set.contains(rel)
      case None => predicate.isDefined &&
        (oldStats.get(rel) match {
          case Some(st) => cond.forall(FileStats.matches(st, _))
          case None => true // stats-unknown file: must scan
        })
    }
    val (affected, carried) = inventory.partition(mayMatch)
    // `forall(_.isEmpty)` asks the DATAFRAME, not the Option: an append leg
    // with zero rows is a noop too (one limit-1 job, only on this rare
    // path) — mergeInto pre-checks emptiness, this is the safety net for
    // any future append-bearing caller
    if (affected.isEmpty && append.forall(_.isEmpty))
      return Lake.RowOpResult(snap.toString, 0, carried.size, noop = true)

    val schema = snapshotSchema(layer, snap)
    // layer-wide partition columns (not affected-only): an append leg with
    // zero affected files must still land inside the hive layout
    val partCols = layerPartitionCols(layer, inventory)
    // affected files must be read THROUGH the parent's deletion vectors —
    // a rewrite that resurrected DV'd rows would silently undo deletes
    val parentDv = dvMapOf(snap)
    // ROW TRACKING: affected rows carry their stable `_row_id` through
    // the transform (every house transform is column-preserving — filter,
    // simultaneous-select over df.columns, anti-join on the target side),
    // so the rewritten files MATERIALIZE the ids and row identity
    // survives the rewrite. The id column is physical-file state: it
    // never enters the recorded schema or the generated/constraint gates'
    // semantics, and fresh (appended) rows leave it null → they allocate
    // from the new file's base range at read.
    val tracking = rowTrackingEnabled(layer)
    val alive0 =
      if (affected.isEmpty) None
      else if (tracking) Some(withRowIdsFrame(layer, snap, affected))
      else {
        val raw = toLogical(readRelFiles(layer, affected,
          schemaHint = Some(physicalSchema(schema, mapping)),
          withMeta = parentDv.nonEmpty), mapping)
        Some(if (parentDv.isEmpty) raw
          else dvFilter(raw, dvPairs(base, snap, Some(affected.toSet))))
      }
    val affectedRows = alive0.map(transform).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    if (tracking && affected.nonEmpty)
      require(affectedRows.columns.exists(
          _.equalsIgnoreCase(Lake.RowIdCol)),
        s"row op on '$layer': the transform dropped '${Lake.RowIdCol}' — " +
          "a row-tracking rewrite must carry it (column-preserving " +
          "transforms only)")
    val rewritten0 = append match {
      // allowMissingColumns: a schema-evolving merge's source carries NEW
      // columns — affected rows read null for them; a no-evolution merge
      // has identical columns and this is the plain unionByName
      case Some(extra) =>
        // merge UPDATE attribution: a source row replacing a matched
        // target row INHERITS the target row's id (per-key min for the
        // duplicate-keyed-target edge) — that is what lets
        // changeFeedTracked tag it update_pre/postimage instead of
        // delete+insert. Unmatched source rows stay id-less (fresh).
        val extraWithIds =
          if (!tracking || appendIdKeys.isEmpty || alive0.isEmpty) extra
          else {
            import org.apache.spark.sql.functions.{col, min}
            val matched = alive0.get
              .groupBy(appendIdKeys.map(col): _*)
              .agg(min(Lake.RowIdCol).as(Lake.RowIdCol))
            extra.join(matched, appendIdKeys, "left")
          }
        affectedRows.unionByName(extraWithIds,
          allowMissingColumns = true)
      case None => affectedRows
    }

    // identity: a merge's NOT-MATCHED insert rows carry NULL → allocate;
    // carried/updated rows keep their existing values (internalRewrite —
    // the ALWAYS refusal is for user-facing increments only). Then
    // generated columns RECOMPUTE: an UPDATE/MERGE that touched a source
    // column keeps the invariant without the caller setting the generated
    // column (Delta's update semantics); untouched rows recompute to
    // their existing values
    val rewrittenG = applyGenerated(layer,
      applyIdentity(layer, rewritten0, s"row op on '$layer'",
        internalRewrite = true),
      s"row op on '$layer'", recompute = true)
    // the REWRITTEN frame's schema is what the manifest records: identical
    // to the old schema for delete/update, the evolved superset when a
    // merge's source added columns — carried old files then read null for
    // the additions through the recorded-schema hint
    val schemaDdl = org.apache.spark.sql.types.StructType(
      rewrittenG.schema.fields.filterNot(
        _.name.equalsIgnoreCase(Lake.RowIdCol))).toDDL
    refuseDroppedResurrection(layer, snap,
      rewrittenG.schema.fieldNames.filterNot(n =>
        schema.fieldNames.contains(n) ||
          n.equalsIgnoreCase(Lake.RowIdCol)))
    // constraint gate over exactly what this commit writes: the
    // transformed affected rows + the merge's append leg. Carried files
    // were valid when they landed; cost ∝ rewritten fraction, zero when
    // the layer has no constraints
    enforceConstraints(layer, rewrittenG, s"row op on '$layer'")
    val newSnap = new Path(s"$base/_v/${newVersionIdAfterHead(layer)}")
    try {
      var writer = toPhysical(rewrittenG, mapping).write
        .format(config.format).mode("errorifexists")
      if (partCols.nonEmpty) writer = writer.partitionBy(partCols: _*)
      writer.save(newSnap.toString)
      // rewritten files materialized their DVs; carried files keep theirs.
      // OPTIMIZE commits are data-invisible rearrangements of `affected`,
      // so a lost parent race REBASES onto the new head (disjoint-file
      // conflict resolution) instead of discarding the bin-pack; row ops
      // (DELETE/UPDATE/MERGE) keep strict retry-from-scratch — their
      // predicate must re-evaluate against concurrently added files
      val committed = commitManifest(layer, snap, newSnap, carried,
        oldStats, schemaDdl,
        dvs = parentDv.filter { case (rel, _) => carried.contains(rel) },
        op = op, mapping = mapping,
        dropped = if (carried.isEmpty) Nil else droppedOf(snap),
        rebaseRewritten =
          if (op == "OPTIMIZE") Some(affected.toSet) else None,
        opParams = opParams)
      // index upkeep for whatever files this rewrite created (rewritten
      // regions, merge insert legs, partial-OPTIMIZE outputs) — content
      // addressing makes it O(new files), soft-fail by contract
      maintainIndexesSoftly(layer)
      // a rebase may have re-id'd the staged snapshot — report the path
      // that actually committed
      Lake.RowOpResult(committed.toString, affected.size, carried.size)
    } catch {
      case e: java.util.ConcurrentModificationException => throw e // cleaned
      case scala.util.control.NonFatal(e) =>
        fs(newSnap).delete(newSnap, true) // no marker — don't leak debris
        throw e
    }
  }

  // ---- DSv2 group-based row-level operations (SupportsRowLevelOperations)

  /** Driver-side planning context for a v2 group-based row-level command
    * (UPDATE/MERGE/DELETE through Spark's own rewrite rules — see
    * [[LakeRowLevelOperation]]): the parent snapshot pinned at scan-build
    * time, the stats-pruned affected file set (the GROUPS the scan reads
    * whole and the commit replaces), and every schema/mapping fact the
    * distributed scan and write need. Pruning mirrors [[rewriteCore]]'s
    * `mayMatch` — translated to physical names so it holds under column
    * mapping — EXCEPT that an absent predicate means ALL files are
    * affected (an unconditioned UPDATE rewrites the layer), where
    * rewriteCore's absent predicate means none.
    */
  private[io] def rowLevelSnapshot(layer: String,
      cond: Option[org.apache.spark.sql.Column]): Lake.RowLevelSnapshot = {
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — v2 row-level operations " +
        "extend the snapshot protocol (catalog tables always qualify)"))
    val base = layerPath(layer)
    val inventory = snapshotInventory(layer, snap)
    val mapping = mappingOf(snap)
    val oldStats = rebasedStats(layer, snap)
    lazy val c = cond.flatMap { p =>
      if (oldStats.isEmpty) None
      else resolveCondition(layer, base, oldStats.values.toSeq, p, mapping)
    }
    def mayMatch(rel: String): Boolean = cond.isEmpty ||
      (oldStats.get(rel) match {
        case Some(st) => c.forall(FileStats.matches(st, _))
        case None => true // stats-unknown file: must scan
      })
    val affected = inventory.filter(mayMatch)
    val dv = dvMapOf(snap)
    val dvAffected = affected.filter(dv.contains)
    if (dvAffected.nonEmpty) throw new UnsupportedOperationException(
      s"layer '$layer': ${dvAffected.size} affected file(s) carry deletion " +
        "vectors — the v2 group-based rewrite would resurrect DV'd rows. " +
        "Run OPTIMIZE (compaction materializes DVs) first, or run the DML " +
        "through a session with NewspipeExtensions (LakeSql reads through " +
        "DVs)")
    if (rowTrackingEnabled(layer)) throw new UnsupportedOperationException(
      s"layer '$layer' tracks row ids — the v2 group-based rewrite does " +
        "not carry them (rewritten rows would silently lose identity). " +
        "Run the DML through a session with NewspipeExtensions (the " +
        "LakeSql path materializes ids through rewrites)")
    val logical = snapshotSchema(layer, snap)
    val partCols = layerPartitionCols(layer, inventory)
    val dataFields = logical.fields.filterNot(f => partCols.contains(f.name))
    val readSchema = org.apache.spark.sql.types.StructType(
      dataFields ++ partCols.map(logical(_)))
    val physData = org.apache.spark.sql.types.StructType(dataFields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name), nullable = true)))
    val fileSizes = affected.map { rel =>
      rel -> fs(snap).getFileStatus(new Path(resolveRel(base, rel))).getLen
    }
    Lake.RowLevelSnapshot(snap.getName, base, inventory, fileSizes,
      logical, physData, readSchema, partCols, mapping,
      constraints(layer).toSeq, generatedColumns(layer).toSeq)
  }

  /** Allocate the staging snapshot directory a v2 row-level write's tasks
    * stream their replacement parquet into (created eagerly so per-task
    * file creates never race the mkdir).
    */
  private[io] def rowLevelStagingDir(layer: String): Path = {
    val p = new Path(s"${layerPath(layer)}/_v/${newVersionIdAfterHead(layer)}")
    fs(p).mkdirs(p)
    p
  }

  /** Commit half of a v2 group-based row-level operation: the snapshot =
    * (parent inventory − affected, by manifest reference) + the staged
    * files the tasks landed in `newSnap`. `keep` names the files the
    * driver's commit messages vouch for — anything else in the staging
    * dir is speculative/aborted-attempt debris and is swept before the
    * manifest walk. OCC: [[commitManifest]]'s parent check fails the
    * commit (and cleans the staging dir) if another writer landed since
    * the scan pinned `parentName`, so a stale rewrite can never shadow
    * unseen changes.
    */
  private[io] def rowLevelCommit(layer: String, parentName: String,
      affected: Set[String], newSnap: Path, keep: Set[String],
      op: String): Lake.RowOpResult = {
    val base = layerPath(layer)
    val parent = new Path(s"$base/_v/$parentName")
    val f = fs(newSnap)
    try {
      // sweep stray task files (speculation, failed attempts that
      // couldn't abort): only message-vouched files may enter the commit
      val stray = snapshotDirFilesRel(newSnap).filterNot(keep)
      stray.foreach(rel => f.delete(new Path(newSnap, rel), false))
      val inventory = snapshotInventory(layer, parent)
      val carried = inventory.filterNot(affected)
      if (affected.isEmpty && keep.isEmpty) {
        f.delete(newSnap, true)
        return Lake.RowOpResult(parent.toString, 0, carried.size,
          noop = true)
      }
      val schemaDdl = snapshotSchema(layer, parent).toDDL
      commitManifest(layer, parent, newSnap, carried,
        rebasedStats(layer, parent), schemaDdl,
        dvs = dvMapOf(parent).filter { case (rel, _) => !affected(rel) },
        op = op, mapping = mappingOf(parent),
        dropped = if (carried.isEmpty) Nil else droppedOf(parent))
      Lake.RowOpResult(newSnap.toString, affected.size, carried.size)
    } catch {
      case e: java.util.ConcurrentModificationException => throw e // cleaned
      case scala.util.control.NonFatal(e) =>
        f.delete(newSnap, true)
        throw e
    }
  }

  /** Delta-parity `table_changes`: ONE DataFrame of every row-level change
    * between two committed snapshots, each change ATTRIBUTED to the commit
    * that made it — data columns plus `_change_type`
    * (`insert` | `delete`), `_commit_version` (the committing snapshot's
    * version id) and `_commit_timestamp` (its commit instant; version ids
    * are zero-padded epoch millis, so the timestamp costs nothing).
    * [[diff]] collapses a version range to its NET delta; this walks each
    * adjacent committed pair in the range so intermediate states are
    * visible — the shape an audit log or a per-commit incremental consumer
    * needs.
    *
    * Cost contract: the per-commit diffs read only symmetric-difference
    * files, so the feed costs ~2× the total touched fraction across the
    * range — never the layer size. The commit walk is a driver loop over
    * the version slice (bounded by vacuum retention) building ONE lazy
    * union; nothing executes until the consumer acts.
    */
  def changeFeed(layer: String, fromVersion: String,
      toVersion: String): DataFrame = {
    val steps = feedSteps(layer, fromVersion, toVersion)
    val legs = steps.flatMap { case (a, b) =>
      val (ins, del) = diff(layer, a, b)
      Seq(tagChange(ins, "insert", b), tagChange(del, "delete", b))
    }
    legs.reduceOption(_.unionByName(_))
      .getOrElse(emptyFeedLeg(layer, toVersion, withIds = false))
  }

  /** [[changeFeed]] with UPDATE CLASSIFICATION: when `keys` identify a row,
    * a key present on both sides of one commit is an update, not an
    * unrelated delete+insert — its old row surfaces as `update_preimage`
    * and its new row as `update_postimage` (Delta CDF's four-tag surface).
    * Keys only ever on one side keep `insert`/`delete`.
    *
    * Classification is per commit: two semi/anti-join pairs against the
    * opposite leg's distinct key set — the key frames are projections of
    * the diff legs themselves, so the extra cost is proportional to the
    * touched fraction, like everything else in the feed. Duplicate-keyed
    * rows classify as updates whenever the key appears on both sides
    * (multiset fidelity per key is not attempted — same as Delta, which
    * requires unique keys for MERGE anyway).
    */
  def changeFeedKeyed(layer: String, fromVersion: String, toVersion: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changeFeedKeyed requires at least one key column")
    import org.apache.spark.sql.functions.col
    val steps = feedSteps(layer, fromVersion, toVersion)
    val legs = steps.flatMap { case (a, b) =>
      val (ins, del) = diff(layer, a, b)
      val insKeys = ins.select(keys.map(col): _*).distinct()
      val delKeys = del.select(keys.map(col): _*).distinct()
      Seq(
        tagChange(ins.join(delKeys, keys, "left_semi"), "update_postimage", b),
        tagChange(ins.join(delKeys, keys, "left_anti"), "insert", b),
        tagChange(del.join(insKeys, keys, "left_semi"), "update_preimage", b),
        tagChange(del.join(insKeys, keys, "left_anti"), "delete", b))
    }
    legs.reduceOption(_.unionByName(_))
      .getOrElse(emptyFeedLeg(layer, toVersion, withIds = false))
  }

  /** [[changeFeedKeyed]] WITHOUT caller-supplied keys: on a row-tracking
    * layer ([[enableRowTracking]]) the stable `_row_id` IS the key, so
    * update attribution needs no declared key columns — an id on both
    * sides of one commit is an update (`update_preimage` /
    * `update_postimage`), one-sided ids keep `insert`/`delete`
    * (Delta CDF's four tags, driven by its row-tracking feature).
    *
    * Because the per-commit diff compares (data + id), a rewrite that
    * carried rows UNCHANGED cancels out exactly (same id, same data on
    * both sides) — a compaction or a partial update contributes only the
    * rows whose data actually changed, not everything the files held.
    * Cost contract is [[changeFeed]]'s: ∝ touched fraction per commit.
    */
  def changeFeedTracked(layer: String, fromVersion: String,
      toVersion: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(rowTrackingEnabled(layer),
      s"layer '$layer' does not track row ids — enableRowTracking first " +
        "(or use changeFeedKeyed with explicit keys)")
    val steps = feedSteps(layer, fromVersion, toVersion)
    val legs = steps.flatMap { case (a, b) =>
      val (ins, del) = diffWithIds(layer, a, b)
      val insKeys = ins.select(col(Lake.RowIdCol)).distinct()
      val delKeys = del.select(col(Lake.RowIdCol)).distinct()
      Seq(
        tagChange(ins.join(delKeys, Seq(Lake.RowIdCol), "left_semi"),
          "update_postimage", b),
        tagChange(ins.join(delKeys, Seq(Lake.RowIdCol), "left_anti"),
          "insert", b),
        tagChange(del.join(insKeys, Seq(Lake.RowIdCol), "left_semi"),
          "update_preimage", b),
        tagChange(del.join(insKeys, Seq(Lake.RowIdCol), "left_anti"),
          "delete", b))
    }
    legs.reduceOption(_.unionByName(_))
      .getOrElse(emptyFeedLeg(layer, toVersion, withIds = true))
  }

  /** [[diff]] with each side's stable row ids attached — the multiset
    * difference then keys on (data, id), so carried-unchanged rows cancel
    * even across rewrites. Both sides surface in the TO version's schema
    * (columns the from-side predates read null, like every evolved read).
    */
  private def diffWithIds(layer: String, fromVersion: String,
      toVersion: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = layerPath(layer)
    def snapOf(version: String): Path = {
      val snap = new Path(s"$base/_v/$version")
      require(fs(snap).exists(new Path(snap, "_COMMITTED")),
        s"layer '$layer' has no committed snapshot '$version' " +
          s"(known: ${listVersions(layer).mkString(", ")})")
      snap
    }
    val fromSnap = snapOf(fromVersion)
    val toSnap = snapOf(toVersion)
    def pairs(snap: Path): Map[String, String] = {
      val dv = dvMapOf(snap)
      snapshotInventory(layer, snap)
        .map(rel => rel -> dv.getOrElse(rel, "")).toMap
    }
    val from = pairs(fromSnap)
    val to = pairs(toSnap)
    val outSchema = snapshotSchema(layer, toSnap)
    val outCols = outSchema.fieldNames.toSeq :+ Lake.RowIdCol
    def readSide(snap: Path, rels: Seq[String]): DataFrame = {
      val f = withRowIdsFrame(layer, snap, rels.sorted)
      val have = f.columns.map(_.toLowerCase).toSet
      val widened = outSchema.fields.filterNot(fd =>
        have.contains(fd.name.toLowerCase)).foldLeft(f) { (acc, fd) =>
        acc.withColumn(fd.name, lit(null).cast(fd.dataType))
      }
      widened.select(outCols.map(col): _*)
    }
    val changedTo = to.filter { case (rel, d) => !from.get(rel).contains(d) }
    val changedFrom = from.filter { case (rel, d) => !to.get(rel).contains(d) }
    val onlyTo = readSide(toSnap, changedTo.keys.toSeq)
    val onlyFrom = readSide(fromSnap, changedFrom.keys.toSeq)
    exceptBothWays(onlyTo, onlyFrom)
  }

  /** `exceptAll` both ways, VARIANT-safe: Spark refuses set operations
    * over VariantType columns, so variant columns round-trip through
    * their canonical JSON text for the multiset difference and parse
    * back after — value-equal variants cancel, and the emitted rows
    * carry real variant values again. Identity on variant-free frames.
    *
    * Type-fidelity caveat: the re-parsed variants carry JSON's type
    * lattice, not the stored one — a variant that held a timestamp or
    * decimal re-emerges as a JSON string/number variant (its JSON text
    * is identical, its variant type tag is not). diff/changeFeed
    * consumers comparing variant TYPE TAGS on emitted rows must re-read
    * the source table; value comparisons and round-trips through
    * `to_json` are unaffected. Variants NESTED inside struct/array/map
    * columns have no such encode hook and are refused loudly (Spark's
    * set-operation refusal would otherwise surface as an opaque analysis
    * error).
    */
  private def exceptBothWays(a: DataFrame,
      b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, expr, to_json}
    import org.apache.spark.sql.types._
    def hasNestedVariant(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f => hasNestedVariant(f.dataType))
      case ArrayType(e, _) => hasNestedVariant(e)
      case MapType(k, v, _) => hasNestedVariant(k) || hasNestedVariant(v)
      case _ => dt == VariantType
    }
    val nested = a.schema.fields.filter(f =>
      f.dataType != VariantType && hasNestedVariant(f.dataType)).map(_.name)
    require(nested.isEmpty,
      s"diff/changeFeed: column(s) ${nested.mkString(", ")} nest VARIANT " +
        "inside struct/array/map — set-difference over nested variants is " +
        "unsupported (top-level VARIANT columns are; restructure or " +
        "project them out)")
    val variantCols = a.schema.fields.filter(
      _.dataType == VariantType).map(_.name)
    if (variantCols.isEmpty) symmetricExceptAll(a, b)
    else {
      def enc(df: DataFrame) = variantCols.foldLeft(df)((d, c) =>
        d.withColumn(c, to_json(col(s"`$c`"))))
      def dec(df: DataFrame) = variantCols.foldLeft(df)((d, c) =>
        d.withColumn(c, expr(s"parse_json(`$c`)")))
      val (ins, del) = symmetricExceptAll(enc(a), enc(b))
      (dec(ins), dec(del))
    }
  }

  /** `(a exceptAll b, b exceptAll a)` computed from ONE shared aggregate —
    * the multiset-difference plan `RewriteExceptAll` produces, except both
    * directions derive from the same count: union(a tagged +1, b tagged
    * −1) → per-row-value `sum(tag)` → replicate `n` times into the insert
    * side (n > 0) or `−n` times into the delete side (n < 0). Identical
    * results to the exceptAll pair (multiset semantics, NULL-safe grouping,
    * NaN/−0.0 normalization — all inherited from the same aggregate
    * machinery exceptAll lowers to).
    *
    * Why not two `exceptAll` calls: each lowers to its OWN union+aggregate
    * with opposite tag polarity, so the two directions never share a
    * subtree — and the change-feed surface then fans each direction into
    * semi/anti-join legs, re-evaluating the whole diff (scan + shuffle)
    * once per leg: q99's four-tag feed executed 64 parquet scans. With one
    * shared aggregate every leg's plan contains the SAME canonical
    * exchange, which exchange reuse (AQE stage cache) materializes once —
    * the symmetric-difference files are scanned once per side and shuffled
    * once, regardless of how many legs consume the diff. Laziness is
    * preserved (no checkpoint): a bare EXPLAIN of the feed still launches
    * nothing.
    */
  private def symmetricExceptAll(a: DataFrame,
      b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence, sum}
    val outCols = a.columns.toSeq
    // working columns must not collide with user columns: a layer with a
    // column literally named "__side" would have it silently replaced by
    // the tag (joining the grouping key, so nothing cancels) — suffix a
    // counter until all three names are absent from the input schema
    val taken = outCols.map(_.toLowerCase).toSet
    def freshName(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !taken.contains(n.toLowerCase)).get
    val (sideC, nC, repC) =
      (freshName("__side"), freshName("__n"), freshName("__rep"))
    val quoted = outCols.map(c => col(s"`$c`"))
    val tagged = a.withColumn(sideC, lit(1L))
      .unionByName(b.select(outCols.map(c => col(s"`$c`")): _*)
        .withColumn(sideC, lit(-1L)))
    val counts = tagged.groupBy(quoted: _*).agg(sum(col(sideC)).as(nC))
    def replicate(n: org.apache.spark.sql.Column): DataFrame = counts
      .filter(n > 0)
      .withColumn(repC, explode(sequence(lit(1L), n)))
      .select(quoted: _*)
    (replicate(col(s"`$nC`")), replicate(-col(s"`$nC`")))
  }

  /** Committed versions from `fromVersion` to `toVersion` inclusive,
    * OLDEST FIRST — the walk order of the change-feed surface. Loud on
    * unknown endpoints or a reversed range (a vacuumed `fromVersion` must
    * fail, not silently emit a shorter history).
    */
  private def versionSlice(layer: String, fromVersion: String,
      toVersion: String): Seq[String] = {
    val versions = committedVersions(layer).map(_.getName).reverse
    val fi = versions.indexOf(fromVersion)
    val ti = versions.indexOf(toVersion)
    require(fi >= 0 && ti >= 0,
      s"layer '$layer': unknown version ${if (fi < 0) fromVersion else toVersion} " +
        s"(known: ${versions.mkString(", ")})")
    require(fi < ti,
      s"layer '$layer': change feed range must move forward, got " +
        s"$fromVersion !< $toVersion")
    versions.slice(fi, ti + 1)
  }

  /** The adjacent committed pairs a change-feed walk must diff, with
    * declared-data-invisible maintenance commits (`OPTIMIZE` family /
    * `REORG` — Delta's `dataChange=false`) dropped up front when
    * [[LakeConfig.cdfSkipMaintenance]] is set: a compaction rewrites
    * every live file, so its per-commit diff would read BOTH full
    * snapshots only to cancel to zero rows. The `_OP` probe is one tiny
    * driver-side read per commit in the range (O(commits), like the walk
    * itself). Results are identical with the skip on or off — the
    * maintenance contract is spec-pinned — only the cost differs.
    */
  private def feedSteps(layer: String, fromVersion: String,
      toVersion: String): Seq[(String, String)] = {
    val slice = versionSlice(layer, fromVersion, toVersion)
    slice.zip(slice.tail).filterNot { case (_, b) =>
      config.cdfSkipMaintenance && maintenanceCommit(layer, b)
    }
  }

  /** True when `version`'s recorded `_OP` declares a data-invisible
    * maintenance rewrite. Unlabeled commits (pre-`_OP` snapshots, foreign
    * writers) are conservatively NOT maintenance.
    */
  private[io] def maintenanceCommit(layer: String, version: String): Boolean = {
    val p = new Path(s"${layerPath(layer)}/_v/$version/_OP")
    val f = fs(p)
    f.exists(p) && {
      val op = readFully(p).trim
      op.startsWith("OPTIMIZE") || op == "REORG"
    }
  }

  /** A zero-row change-feed frame in `toVersion`'s tagged schema — the
    * result when every step in a feed range was a skipped maintenance
    * commit (or the range net-cancelled structurally).
    */
  private def emptyFeedLeg(layer: String, toVersion: String,
      withIds: Boolean): DataFrame = {
    val snap = new Path(s"${layerPath(layer)}/_v/$toVersion")
    val base = snapshotSchema(layer, snap)
    val schema =
      if (withIds)
        org.apache.spark.sql.types.StructType(base.fields :+
          org.apache.spark.sql.types.StructField(Lake.RowIdCol,
            org.apache.spark.sql.types.LongType))
      else base
    tagChange(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      "insert", toVersion)
  }

  private def tagChange(df: DataFrame, changeType: String,
      version: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("_change_type", lit(changeType))
      .withColumn("_commit_version", lit(version))
      .withColumn("_commit_timestamp",
        lit(new java.sql.Timestamp(version.take(16).toLong)))
  }

  /** Row-level change feed between two committed snapshots, derived from
    * their file inventories — no change log needed: files present in both
    * snapshots cannot contribute changes (snapshot files are immutable),
    * so only the files that appear on exactly one side are read, and the
    * row-level delta is their multiset difference. An updated row surfaces
    * as one deleted + one inserted row; `exceptAll` keeps multiplicity, so
    * duplicate rows land in the feed the right number of times.
    *
    * At 100 TB this is the CDC read that makes incremental downstream
    * refresh viable: a [[deleteWhere]]/[[mergeInto]] that rewrote 1% of the
    * layer yields a diff that scans ~2% (old + new copies of the touched
    * files), not two full snapshots. Between two full overwrites it
    * degrades honestly to comparing both snapshots — there is no cheaper
    * truth when every file changed.
    *
    * @return (inserted, deleted) row sets: rows present in `toVersion` but
    *         not `fromVersion`, and vice versa.
    */
  def diff(layer: String, fromVersion: String, toVersion: String)
      : (DataFrame, DataFrame) = {
    val base = layerPath(layer)
    def snapOf(version: String): Path = {
      val snap = new Path(s"$base/_v/$version")
      require(fs(snap).exists(new Path(snap, "_COMMITTED")),
        s"layer '$layer' has no committed snapshot '$version' " +
          s"(known: ${listVersions(layer).mkString(", ")})")
      snap
    }
    val fromSnap = snapOf(fromVersion)
    val toSnap = snapOf(toVersion)
    // inventory IDENTITY is (file, dv): a file present in both snapshots
    // whose deletion vector changed DID contribute changes (its newly-dead
    // rows), so it must be read on both sides — with each side's own DV
    def pairs(snap: Path): Map[String, String] = {
      val dv = dvMapOf(snap)
      snapshotInventory(layer, snap)
        .map(rel => rel -> dv.getOrElse(rel, "")).toMap
    }
    val from = pairs(fromSnap)
    val to = pairs(toSnap)
    val schema = snapshotSchema(layer, toSnap)
    // under column mapping both sides' files carry PHYSICAL names (stable
    // across renames — files are immutable), so the TO snapshot's mapping
    // translates the shared read schema for either side
    val diffMapping = mappingOf(toSnap)
    def readSide(snap: Path, rels: Seq[String]): DataFrame =
      if (rels.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val dv = dvMapOf(snap)
        val hasDv = rels.exists(dv.contains)
        val raw = toLogical(readRelFiles(layer, rels,
          schemaHint = Some(physicalSchema(schema, diffMapping)),
          withMeta = hasDv), diffMapping)
        val alive =
          if (hasDv) dvFilter(raw, dvPairs(base, snap, Some(rels.toSet)))
          else raw
        alive.select(schema.fieldNames
          .map(org.apache.spark.sql.functions.col).toSeq: _*)
      }
    val changedTo = to.filter { case (rel, d) => !from.get(rel).contains(d) }
    val changedFrom = from.filter { case (rel, d) => !to.get(rel).contains(d) }
    val onlyTo = readSide(toSnap, changedTo.keys.toSeq.sorted)
    val onlyFrom = readSide(fromSnap, changedFrom.keys.toSeq.sorted)
    exceptBothWays(onlyTo, onlyFrom)
  }

  /** The layer's current read schema (manifest-recorded when available —
    * see [[snapshotSchema]]); the schema surface the change-feed stream
    * source resolves before any batch runs.
    */
  def layerSchema(layer: String): org.apache.spark.sql.types.StructType =
    latestSnapshot(layer) match {
      case Some(snap) => snapshotSchema(layer, snap)
      case None => read(layer).schema
    }

  /** A snapshot's read schema without touching data files when avoidable:
    * manifest snapshots RECORD their schema (the zero-files case needs it
    * anyway), so chained row ops skip the file-listing + footer read a
    * reader-based schema costs; self-contained snapshots pay it once.
    */
  private def snapshotSchema(layer: String,
      snap: Path): org.apache.spark.sql.types.StructType =
    manifestOf(snap) match {
      case Some(m) => m.schema
      case None =>
        // self-contained parquet snapshot: ONE sample footer answers the
        // schema (the full loadSnapshot frame build walks the dir twice
        // and constructs a scan — wasteful for metadata-only callers).
        // Hive-partitioned layouts keep the frame build: partition columns
        // live in directory names, not footers.
        lazy val rels = snapshotDirFilesRel(snap)
        if (config.format == "parquet" && rels.nonEmpty &&
            !rels.exists(_.contains("="))) {
          org.apache.spark.sql.NewspipeSqlBridge.nullableSchema(
            committedSchemas.get(snap.toString).getOrElse(
              footerSchema(s"${snap.toString}/${rels.head}")))
        } else loadSnapshot(layer, snap, mergeSchema = false).schema
    }

  /** Data files under one snapshot directory, relative to IT (hidden files
    * and sidecars excluded, `k=v` partition dirs kept) — the walk
    * [[snapshotInventory]] and [[rewriteRows]] share.
    */
  private def snapshotDirFilesRel(snap: Path): Seq[String] = {
    val f = fs(snap)
    val prefix = f.makeQualified(snap).toString.stripSuffix("/") + "/"
    val buf = Vector.newBuilder[String]
    FsListing.filesRecursive(f, snap).foreach { s =>
      if (s.isFile) {
        val rel = s.getPath.toString.stripPrefix(prefix)
        val visible = rel.split('/').forall(seg =>
          (!seg.startsWith("_") && !seg.startsWith(".")) || seg.contains("="))
        if (visible) buf += rel
      }
    }
    buf.result()
  }

  // ---- persisted vector index (ANN) ---------------------------------------

  /** Declare + build a persisted ANN index over `vecCol` (layout and
    * rationale: [[VectorIndex]]): ONE serialized HNSW graph per live data
    * file, content-addressed by the file's qualified path — built in a
    * single Spark pass over the corpus (graphs build where the data
    * sits), searched by [[vectorSearch]] WITHOUT ever re-reading the
    * corpus, and maintained incrementally: [[appendAtomic]] and the
    * OPTIMIZE/compaction family build graphs for their NEW files only
    * (O(increment) — an immutable file's graph never invalidates).
    * Returns the number of shard graphs built.
    *
    * The 100 TB posture this buys over [[newspipe.ops.Hnsw.hnswTopK]]:
    * hnswTopK re-reads the corpus and rebuilds every graph per CALL;
    * here build cost is paid once (then per-increment), and a search
    * batch costs one task per shard artifact + a broadcast of the
    * queries.
    */
  def createVectorIndex(layer: String, name: String, vecCol: String,
      idCol: String, kind: String = "hnsw", m: Int = 16,
      efConstruction: Int = 128, nlist: Int = 64, nprobe: Int = 8,
      pqM: Int = 8, pqK: Int = 256): Int = {
    require(pqM >= 1 && pqK >= 1 && pqK <= 256,
      s"pq parameters out of range: pqM=$pqM, pqK=$pqK (codes are bytes)")
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"vector index name '$name' must be alphanumeric/underscore")
    require(VectorIndex.Kinds.contains(kind),
      s"vector index kind '$kind' not supported (supported: " +
        s"${VectorIndex.Kinds.toSeq.sorted.mkString(", ")})")
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — a vector index " +
        "indexes committed data files (writeAtomic first)"))
    require(mappingOf(snap).isEmpty,
      s"createVectorIndex('$layer'): column-mapped layers are not " +
        "supported (shards key logical columns by name)")
    val schema = snapshotSchema(layer, snap)
    Seq(vecCol, idCol).foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"createVectorIndex('$layer'): layer has no column '$c'"))
    require(vectorIndexes(layer).forall(_.name != name),
      s"layer '$layer' already has a vector index '$name' — drop it first")
    val meta = VectorIndex.Meta(name, kind, idCol, vecCol, m,
      efConstruction, nlist, nprobe, pqM, pqK)
    val root = VectorIndex.indexRoot(layerPath(layer), name)
    val f = fs(root)
    f.mkdirs(root)
    val out = f.create(new Path(root, VectorIndex.MetaFile), true)
    try out.write(VectorIndex.toJson(meta).getBytes("UTF-8"))
    finally out.close()
    maintainVectorIndexes(layer)
  }

  def dropVectorIndex(layer: String, name: String): Unit = {
    val root = VectorIndex.indexRoot(layerPath(layer), name)
    val f = fs(root)
    if (!f.exists(new Path(root, VectorIndex.MetaFile)))
      throw new NoSuchElementException(
        s"layer '$layer' has no vector index '$name'")
    f.delete(root, true)
    ()
  }

  /** Declared vector indexes of the layer (metadata-only listing). */
  def vectorIndexes(layer: String): Seq[VectorIndex.Meta] = {
    val dir = new Path(s"${layerPath(layer)}/${VectorIndex.DirName}")
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).iterator.filter(_.isDirectory).flatMap { st =>
      val mf = new Path(st.getPath, VectorIndex.MetaFile)
      if (f.exists(mf)) Some(VectorIndex.fromJson(readFully(mf))) else None
    }.toSeq.sortBy(_.name)
  }

  /** Build missing shard graphs for every declared index against the
    * CURRENT snapshot — O(new files), because content addressing makes
    * already-covered files no-ops. Called automatically post-commit by
    * [[appendAtomic]] and the compaction family; idempotent and safe to
    * call any time (a concurrent maintainer writes identical bytes).
    * Returns the number of shards built.
    */
  def maintainVectorIndexes(layer: String): Int =
    vectorIndexes(layer).iterator.map(maintainVectorIndex(layer, _)).sum

  /** Per-index coverage against the CURRENT snapshot: (meta, files whose
    * artifact exists and that carry no deletion vector — the set a search
    * answers from the index, the rest fall back to exact scans —, files
    * among those with a ROUTING entry — the set a selective `shardProbe`
    * can rank; unrouted covered files are always probed —, total live
    * files). Metadata-only: one inventory walk + one shards listing +
    * one routing listing per index (`SHOW VECTOR INDEXES`' engine).
    */
  def vectorIndexStatus(layer: String)
      : Seq[(VectorIndex.Meta, Int, Int, Int)] = {
    val metas = vectorIndexes(layer)
    if (metas.isEmpty) return Nil
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val snapOpt = latestSnapshot(layer)
    val inv = snapOpt.map(snapshotInventory(layer, _)).getOrElse(Nil)
    val dv = snapOpt.map(dvMapOf).getOrElse(Map.empty)
    val digests = inv.map(rel => rel -> VectorIndex.digestOf(
      f.makeQualified(new Path(resolveRel(base, rel))).toString))
    metas.map { meta =>
      val reachable = reachableShardArtifacts(layer, meta.name, inv,
        vectorCompat(meta)).keySet
      val routes = reachableRoutingEntries(layer, meta, inv).keySet
      val coveredDigests = digests.filter { case (rel, d) =>
        reachable.contains(d) && !dv.contains(rel) }
      val routed = coveredDigests.count { case (_, d) =>
        routes.contains(d) }
      (meta, coveredDigests.size, routed, inv.size)
    }
  }

  /** Rebuild coverage for ONE named index (`REFRESH VECTOR INDEX`): the
    * explicit maintenance trigger for the paths that deliberately don't
    * auto-maintain — a full [[writeAtomic]] overwrite (auto-rebuilding
    * the whole index inside a write would be a surprise O(corpus) cost)
    * or a foreign writer's commits. O(uncovered files), idempotent.
    */
  def refreshVectorIndex(layer: String, name: String): Int = {
    val meta = vectorIndexes(layer).find(_.name == name).getOrElse(
      throw new NoSuchElementException(
        s"layer '$layer' has no vector index '$name' (declared: " +
          s"${vectorIndexes(layer).map(_.name).mkString(", ")})"))
    maintainVectorIndex(layer, meta)
  }

  private def maintainVectorIndex(layer: String,
      meta: VectorIndex.Meta): Int = {
    val snap = latestSnapshot(layer).getOrElse(return 0)
    if (mappingOf(snap).nonEmpty) return 0 // mapped post-creation: fallback
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = snapshotInventory(layer, snap)
    // reachable, not just local: a shallow clone BORROWS the source's
    // artifacts by content address — shared files need no local build
    val artifacts = reachableShardArtifacts(layer, meta.name, inv,
      vectorCompat(meta))
    val existing = artifacts.keySet
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val missing = inv.map(rel => rel -> VectorIndex.digestOf(qualify(rel)))
      .filterNot { case (_, d) => existing.contains(d) }
    if (missing.isEmpty)
      return { backfillVectorRouting(layer, meta, inv, artifacts); 0 }
    // rows route to their file's builder by input_file_name; the task
    // resolves the artifact name through a broadcast decoded-path →
    // digest map. Keys are the DECODED URI paths (scheme/authority
    // dropped, percent-encoding resolved) because the two sides render
    // the same file differently (`file:/` vs `file:///`, hive `k=v`
    // escaping) — and last-segment keys are NOT unique: a hive write's
    // single task reuses one part-file name across every partition dir.
    val pathKeyOf: String => String = s =>
      try new java.net.URI(s).getPath catch { case _: Exception => s }
    val byPath: Map[String, String] = missing.map { case (rel, d) =>
      pathKeyOf(f.makeQualified(new Path(resolveRel(base, rel)))
        .toUri.toString) -> d
    }.toMap
    val targetRels = missing.map(_._1)
    val schema = snapshotSchema(layer, snap)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rows = readRelFiles(layer, targetRels, schemaHint = Some(schema))
      .select(input_file_name().as("__f"),
        col(meta.idCol).cast("long").as("__id"), col(meta.vecCol).as("__v"))
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val pathsB = spark.sparkContext.broadcast(byPath)
    val (mName, mBase, mMeta) = (meta.name, base, meta)
    val nParts = math.max(1, math.min(targetRels.size,
      spark.sparkContext.defaultParallelism * 2))
    import spark.implicits._
    val built = rows.repartition(nParts, col("__f"))
      .mapPartitions { it =>
        val keyOf: String => String = s =>
          try new java.net.URI(s).getPath catch { case _: Exception => s }
        val byFile = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]]
        it.foreach { r =>
          byFile.getOrElseUpdate(keyOf(r.getString(0)),
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((r.getLong(1), newspipe.ops.Hnsw.toRaw(r.get(2))))
        }
        val fsys = new org.apache.hadoop.fs.Path(mBase)
          .getFileSystem(confB.value.value)
        byFile.iterator.flatMap { case (pathKey, buf) =>
          pathsB.value.get(pathKey).map { digest =>
            val bytes = mMeta.kind match {
              case "ivf" => newspipe.ops.IvfFlat.buildShardBytes(
                buf.toArray, mMeta.nlist)
              case "pq" => newspipe.ops.PqShard.buildShardBytes(
                buf.toArray, mMeta.pqM, mMeta.pqK)
              case _ => newspipe.ops.Hnsw.buildGraphBytes(
                buf.toArray, mMeta.m, mMeta.efConstruction)
            }
            VectorIndex.writeShard(fsys, mBase, mName, digest, bytes)
            // routing summary: mean of the shard's unit vectors + the
            // angular radius (min member cosine to the normalized
            // mean) — the builder already holds the TRUE vectors, so
            // this is one extra O(n·dim) pass and the radius is a
            // sound pruning bound for every kind
            val unit = buf.map(r => newspipe.ops.Hnsw.unitOrZero(r._2))
            val (mean, minCos) = newspipe.ops.Hnsw.meanAndMinCos(unit)
            (digest, unit.length, mean, minCos)
          }
        }
      }.collect()
    if (built.nonEmpty)
      VectorIndex.writeRoutingSegment(f, base, meta.name,
        VectorIndex.serializeRouting(built.toSeq))
    backfillVectorRouting(layer, meta, inv, artifacts,
      justRouted = built.map(_._1).toSet)
    built.length
  }

  /** Routing-segment BACKFILL: write summaries for covered shards that
    * lack a reachable routing entry (artifacts built before routing
    * existed, a crashed segment write, or a borrowed source that never
    * routed). One distributed pass over the unrouted artifacts only —
    * idempotent, O(unrouted); no-op in steady state. Runs inside
    * maintenance, so `REFRESH VECTOR INDEX` upgrades an old index.
    */
  private def backfillVectorRouting(layer: String, meta: VectorIndex.Meta,
      inv: Seq[String], artifacts: Map[String, Path],
      justRouted: Set[String] = Set.empty): Unit = {
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val routed = reachableRoutingEntries(layer, meta, inv).keySet
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val unrouted = inv.iterator
      .map(rel => VectorIndex.digestOf(qualify(rel)))
      .filter(d => artifacts.contains(d) && !routed.contains(d) &&
        !justRouted.contains(d))
      .toSeq.distinct
    if (unrouted.isEmpty) return
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val paths = unrouted.map(d => (d, artifacts(d).toString))
    val nSlices = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism * 2))
    val kind = meta.kind
    val entries = spark.sparkContext.parallelize(paths, nSlices)
      .mapPartitions { ps =>
        val hc = confB.value.value
        ps.map { case (d, p) =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fsys = path.getFileSystem(hc)
          val bytes = new Array[Byte](fsys.getFileStatus(path).getLen.toInt)
          val in = fsys.open(path)
          try in.readFully(bytes) finally in.close()
          val (n, c, minCos) = kind match {
            case "ivf" => newspipe.ops.IvfFlat.centroidOfShardBytes(bytes)
            case "pq" => newspipe.ops.PqShard.centroidOfShardBytes(bytes)
            case _ => newspipe.ops.Hnsw.centroidOfGraphBytes(bytes)
          }
          (d, n, c, minCos)
        }
      }.collect()
    if (entries.nonEmpty)
      VectorIndex.writeRoutingSegment(f, base, meta.name,
        VectorIndex.serializeRouting(entries.toSeq))
  }

  /** digest → routing summary for every shard of index `name` reachable
    * from this layer ([[reachableShardArtifacts]]' routing sibling —
    * same compatible-roots walk, local entries win).
    */
  private def reachableRoutingEntries(layer: String,
      meta: VectorIndex.Meta,
      inv: Seq[String]): Map[String, VectorIndex.Route] = {
    val roots = reachableIndexRoots(layer, meta.name, inv,
      VectorIndex.DirName, vectorCompat(meta))
    roots.foldLeft(Map.empty[String, VectorIndex.Route]) { (acc, root) =>
      val f = fs(new Path(root))
      acc ++ VectorIndex.readRoutingEntries(f, root, meta.name)
        .filterNot { case (d, _) => acc.contains(d) }
    }
  }

  /** ANN top-k through the persisted index — (query_id, neighbor_id,
    * cos, rank), the [[newspipe.ops.Similarity.bruteForceTopK]] shape.
    * Covered files are searched from their index artifacts alone (one
    * task per shard graph, queries broadcast — the corpus is NOT read);
    * files without an artifact (a crash window, a fresh OPTIMIZE output
    * pre-maintenance, a foreign writer) — or carrying deletion vectors,
    * whose graphs would surface deleted rows — fall back to an exact
    * scan of THOSE FILES ONLY. Search degrades in cost, never in
    * correctness; deterministic run to run.
    *
    * `version`: TIME-TRAVEL search — answer against an older retained
    * snapshot's inventory. Content addressing makes this free: a
    * carried file's artifact is the same artifact, so an old snapshot
    * is typically fully covered (rows appended AFTER it simply aren't
    * in its inventory); vacuum prunes artifacts together with the
    * versions that referenced them, so retention is one contract.
    *
    * `filter`: FILTERED ANN (the "vector search WHERE …" production
    * shape). Files the predicate provably cannot match leave BOTH legs
    * via the per-file stats — none of their rows can be a qualifying
    * neighbor (readWhere's pruning rule applied to ANN). The graph leg
    * then OVER-FETCHES (`k × oversample`) and its candidates validate
    * against the predicate through one column-pruned, predicate-pushed
    * id scan of the qualifying covered files; the exact leg filters
    * inline. Results contain only qualifying neighbors; a highly
    * selective filter can return fewer than k graph hits per shard —
    * raise `oversample` (the standard filtered-ANN recall trade,
    * documented rather than hidden).
    *
    * `shardProbe`: COARSE ROUTING — EACH QUERY probes only this
    * fraction of the covered shards, ranked by query·centroid against
    * each shard's persisted routing summary (maintenance writes one
    * tiny (digest, count, centroid) entry per shard into
    * `_vindex/<name>/routing/` segments); the job reads the union of
    * probed shards. THE 10⁶-file lever: at full probe a top-k batch
    * touches every artifact; at `shardProbe = 0.05` each query touches
    * its 5% most promising plus any unrouted shards. An
    * approximation knob exactly like `efSearch`/`nprobe` — skipped
    * shards are not searched, so recall relies on files being
    * cluster-coherent (CLUSTER BY / sorted landings); 1.0 (default)
    * probes everything, byte-identical to the unrouted plan with zero
    * routing overhead.
    */
  private def resolveVectorIndex(layer: String,
      indexName: Option[String]): VectorIndex.Meta = {
    val metas = vectorIndexes(layer)
    require(metas.nonEmpty,
      s"layer '$layer' has no vector index — createVectorIndex first")
    indexName match {
      case Some(n) => metas.find(_.name == n).getOrElse(
        throw new NoSuchElementException(s"layer '$layer' has no vector " +
          s"index '$n' (declared: ${metas.map(_.name).mkString(", ")})"))
      case None =>
        require(metas.lengthCompare(1) == 0, s"layer '$layer' declares " +
          s"${metas.size} vector indexes — name one " +
          s"(${metas.map(_.name).mkString(", ")})")
        metas.head
    }
  }

  def vectorSearch(layer: String, queries: DataFrame, k: Int,
      indexName: Option[String] = None, efSearch: Int = 96,
      version: Option[String] = None,
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, shardProbe: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.functions.{asc, col, desc, row_number}
    require(shardProbe > 0.0 && shardProbe <= 1.0,
      s"shardProbe must be in (0, 1], got $shardProbe")
    val meta = resolveVectorIndex(layer, indexName)
    val snap = version match {
      case Some(v) =>
        val p = new Path(s"${layerPath(layer)}/_v/$v")
        require(fs(p).exists(new Path(p, "_COMMITTED")),
          s"layer '$layer' has no committed snapshot '$v'")
        p
      case None => latestSnapshot(layer).getOrElse(
        throw new IllegalStateException(
          s"layer '$layer' has no committed snapshot"))
    }
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = snapshotInventory(layer, snap)
    val dv = dvMapOf(snap)
    val artifacts = reachableShardArtifacts(layer, meta.name, inv,
      vectorCompat(meta))
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val withDigest = inv.map(rel => rel -> VectorIndex.digestOf(qualify(rel)))
    // filter-driven file pruning: a file whose stats refute the predicate
    // holds no qualifying neighbor — drop it from BOTH legs. Conservative
    // on stats-less/unknown files; head-snapshot searches only (the
    // sidecar rebases against the head, so time travel skips pruning and
    // relies on validation alone).
    val schema = snapshotSchema(layer, snap)
    val qualifies: String => Boolean = filter match {
      case Some(p) if version.isEmpty =>
        val oldStats = rebasedStats(layer, snap)
        lazy val cond =
          if (oldStats.isEmpty) None
          else resolveCondition(layer, base, oldStats.values.toSeq, p,
            mappingOf(snap))
        rel => oldStats.get(rel) match {
          case Some(st) => cond.forall(FileStats.matches(st, _))
          case None => true
        }
      case _ => _ => true
    }
    val qualified = withDigest.filter { case (rel, _) => qualifies(rel) }
    val (coveredAll, uncovered) = qualified.partition { case (rel, d) =>
      artifacts.contains(d) && !dv.contains(rel) }
    // queries are the SMALL side (the bruteForceTopK contract): collected
    // once, shipped to every shard task as one broadcast
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(meta.idCol).cast("long"), col(meta.vecCol))
      .collect()
      .map(r => (r.getLong(0), newspipe.ops.Hnsw.toRaw(r.get(1))))
      .sortBy(_._1)
    // COARSE ROUTING (shardProbe < 1): EACH QUERY ranks the covered
    // shards by query·centroid and probes only its own top fraction;
    // the job reads the UNION of probed shards — the step that keeps a
    // top-k search sublinear in FILE COUNT at 10⁶ shards (per-query,
    // not per-batch: a batch spanning many clusters must not squeeze
    // into one query's shards). Routing is an approximation knob
    // exactly like efSearch/nprobe: shards no query probed are NOT
    // searched (that is the point), so recall depends on the corpus
    // being clustered across files (CLUSTER BY / sorted writes); the
    // default 1.0 probes everything — identical results and zero
    // routing overhead. Shards with no routing entry (pre-routing
    // artifacts, crashed segment writes, zero-norm centroids) are
    // ALWAYS probed — degrade adds work, never removes a shard
    // silently.
    val covered: Seq[(String, String)] =
      if (shardProbe >= 1.0 || coveredAll.size <= 1) coveredAll
      else {
        val routes = reachableRoutingEntries(layer, meta, inv)
        val qUnit = qRows.map(q => newspipe.ops.Hnsw.unitOrZero(q._2))
        // normalized centroid per routable covered digest
        val cent: Map[String, Array[Double]] = coveredAll.iterator
          .flatMap { case (_, d) =>
            routes.get(d).flatMap { r =>
              var n2 = 0.0
              r.centroid.foreach(x => n2 += x.toDouble * x.toDouble)
              if (n2 == 0.0) None
              else {
                val scale = 1.0 / math.sqrt(n2)
                Some(d -> r.centroid.map(_.toDouble * scale))
              }
            }
          }.toMap
        val (routed, unrouted) = coveredAll.partition { case (_, d) =>
          cent.contains(d) }
        val nKeep = math.max(1, math.ceil(shardProbe * routed.size).toInt)
        val probedDigests = scala.collection.mutable.HashSet.empty[String]
        qUnit.foreach { q =>
          routed.map { case (_, d) =>
            val c = cent(d)
            var s = 0.0
            var j = 0
            val m = math.min(q.length, c.length)
            while (j < m) { s += q(j) * c(j); j += 1 }
            (d, s)
          }.sortBy { case (d, s) => (-s, d) }.take(nKeep)
            .foreach(p => probedDigests += p._1)
        }
        routed.filter { case (_, d) => probedDigests.contains(d) } ++
          unrouted
      }
    val qB = spark.sparkContext.broadcast(qRows)
    import spark.implicits._
    def emptyCands: DataFrame =
      spark.emptyDataset[(Long, Long, Double)]
        .toDF("query_id", "neighbor_id", "cos")
    val ann: DataFrame =
      if (covered.isEmpty) emptyCands
      else {
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        val paths = covered.map { case (_, d) => artifacts(d).toString }
        val nSlices = math.max(1, math.min(paths.size,
          spark.sparkContext.defaultParallelism * 2))
        // +1: a query's own row may occupy one slot in its file; a
        // filter over-fetches so post-validation still fills k, and PQ
        // over-fetches so the exact refine can reorder the quantized
        // shortlist without losing true top-k members
        val fetch =
          if (filter.isDefined || meta.kind == "pq")
            k * math.max(1, oversample) + 1
          else k + 1
        val (ef, mMeta) = (efSearch, meta)
        val raw0 = spark.sparkContext.parallelize(paths, nSlices)
          .mapPartitions { ps =>
            val hc = confB.value.value
            ps.flatMap { p =>
              val path = new org.apache.hadoop.fs.Path(p)
              val fsys = path.getFileSystem(hc)
              val bytes =
                new Array[Byte](fsys.getFileStatus(path).getLen.toInt)
              val in = fsys.open(path)
              try in.readFully(bytes) finally in.close()
              mMeta.kind match {
                case "ivf" => newspipe.ops.IvfFlat.searchShardBytes(
                  bytes, qB.value, fetch, mMeta.nprobe)
                case "pq" => newspipe.ops.PqShard.searchShardBytes(
                  bytes, qB.value, fetch)
                case _ => newspipe.ops.Hnsw.searchGraphBytes(
                  bytes, qB.value, fetch, ef)
              }
            }
          }.toDF("query_id", "neighbor_id", "cos")
        // PQ emits QUANTIZED scores — refine the shortlist exactly
        // (FAISS's refine step): one column-pruned id scan of the
        // covered files for the candidate ids only, cosine recomputed
        // with the same expression the exact leg uses
        val raw =
          if (meta.kind != "pq") raw0
          else {
            val qDf = org.apache.spark.sql.functions.broadcast(
              qRows.toSeq.toDF("query_id", "__qv"))
            val cand = raw0.select("query_id", "neighbor_id")
            val vecsDf = readRelFiles(layer, covered.map(_._1),
                schemaHint = Some(schema))
              .select(col(meta.idCol).cast("long").as("neighbor_id"),
                col(meta.vecCol).cast("array<double>").as("__cv"))
              .join(cand.select("neighbor_id").distinct(),
                Seq("neighbor_id"), "left_semi")
            cand.join(vecsDf, Seq("neighbor_id"))
              .join(qDf, Seq("query_id"))
              .withColumn("cos", newspipe.ops.Similarity.cosine(
                col("__qv"), col("__cv")).cast("double"))
              .select("query_id", "neighbor_id", "cos")
          }
        filter match {
          case Some(p) =>
            // candidate VALIDATION: one column-pruned, predicate-pushed
            // id scan of the qualifying covered files — the only time a
            // filtered search touches data files, and only theirs
            val validIds = readRelFiles(layer, covered.map(_._1),
                schemaHint = Some(schema))
              .filter(p)
              .select(col(meta.idCol).cast("long").as("neighbor_id"))
            raw.join(validIds.distinct(), Seq("neighbor_id"), "left_semi")
          case None => raw
        }
      }
    val brute: DataFrame =
      if (uncovered.isEmpty) emptyCands
      else {
        val rels = uncovered.map(_._1)
        val metaed = readRelFiles(layer, rels, schemaHint = Some(schema),
          withMeta = dv.nonEmpty)
        val alive0 = if (dv.isEmpty) metaed
          else dvFilter(metaed, dvPairs(base, snap, Some(rels.toSet)))
        val alive = filter.fold(alive0)(alive0.filter) // exact leg: inline
        newspipe.ops.Similarity.bruteForceTopK(
          queries.select(col(meta.idCol).cast("long").as(meta.idCol),
            col(meta.vecCol)),
          alive.select(col(meta.idCol).cast("long").as(meta.idCol),
            col(meta.vecCol)),
          meta.idCol, meta.vecCol, k + 1)
          .select(col("query_id"), col("neighbor_id"),
            col("cos").cast("double").as("cos"))
      }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    ann.unionByName(brute)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Incremental SEMANTIC near-dedup through the persisted vector
    * index: every `(id_a, id_b, cos)` with `cos >= threshold` between a
    * vector in a file added AFTER `sinceVersion` and any live vector
    * (old or new), `id_a < id_b` — the embedding-space sibling of
    * [[nearDups]]' text pass, and EXACT: covered shards are scanned
    * linearly from their artifacts (a threshold join cannot ride a
    * top-k graph walk — a query may have more than k qualifying
    * partners in one shard; per-file shards are small, so the exact
    * pass costs little and recall is 1.0 by construction); uncovered or
    * DV-bearing files scan from parquet, alive rows only.
    *
    * The new batch rides a broadcast (the vectorSearch query-batch
    * contract) in BOUNDED chunks: the landing streams to the driver
    * `chunkRows` at a time (driver memory ∝ chunk, never ∝ landing),
    * each chunk scanning the artifacts once — against an unbounded
    * corpus whose bytes are never re-read beyond the index artifacts;
    * one task per shard, zero shuffles before the final pair dedup.
    * Covered shards are CAP-BOUND PRUNED (round 18): the routing
    * entry's angular radius ([[VectorIndex.Route]] minCos) plus the
    * spherical triangle inequality prove when a shard can hold no
    * qualifying partner for the chunk — those shards skip EXACTLY
    * ([[newspipe.ops.Hnsw.capExcludes]], soundness property-pinned), so
    * a cluster-local landing touches only the shards within threshold
    * reach instead of every covered artifact.
    * `maxLandingRows` refuses the pathological shape where an OPTIMIZE
    * between the versions rewrote every file (the "landing" is the
    * whole corpus): all-pairs semantic dedup over the WHOLE corpus is
    * a different shape (broadcast would not scale) — that remains the
    * cluster-bucketed SemDeDup path in [[newspipe.ops.Dedup]].
    *
    * EAGER: the landing streams at CALL time (unlike the lazy
    * `nearDups(eager = false)` TVF leg) — `lake_vector_near_dups` in an
    * EXPLAIN launches the landing jobs; documented trade for the
    * bounded-chunk loop.
    */
  def vectorNearDups(layer: String, sinceVersion: String,
      threshold: Double, indexName: Option[String] = None,
      maxLandingRows: Long = 2L * 1000 * 1000,
      chunkRows: Int = 65536): DataFrame = {
    import org.apache.spark.sql.functions.{col, greatest, least}
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    require(maxLandingRows >= 1 && chunkRows >= 1,
      s"maxLandingRows/chunkRows must be >= 1, got " +
        s"$maxLandingRows/$chunkRows")
    val meta = resolveVectorIndex(layer, indexName)
    val snap = latestSnapshot(layer).getOrElse(
      throw new IllegalStateException(
        s"layer '$layer' has no committed snapshot"))
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = snapshotInventory(layer, snap)
    val since = new Path(s"$base/_v/$sinceVersion")
    require(f.exists(new Path(since, "_COMMITTED")),
      s"layer '$layer' has no committed snapshot '$sinceVersion'")
    val oldInv = snapshotInventory(layer, since).toSet
    val newRels = inv.filterNot(oldInv)
    import spark.implicits._
    def emptyPairs: DataFrame = spark.emptyDataset[(Long, Long, Double)]
      .toDF("id_a", "id_b", "cos")
    if (newRels.isEmpty) return emptyPairs
    val dv = dvMapOf(snap)
    val schema = snapshotSchema(layer, snap)
    // the NEW side: the landing's alive vectors. BOUNDED-MEMORY (round
    // 18): the landing streams to the driver (toLocalIterator) in
    // fixed-size broadcast chunks instead of one unbounded collect —
    // driver memory is ∝ chunkRows regardless of landing size, and each
    // chunk runs the same exact per-shard scan (per-chunk artifact
    // re-reads are the honest trade; a daily batch is one chunk). The
    // maxLandingRows guard catches the pathological shape: an OPTIMIZE/
    // compaction between sinceVersion and head rewrites every file, so
    // the WHOLE corpus classifies as "new" — that is not an incremental
    // landing, and all-pairs whole-corpus dedup belongs to the
    // cluster-bucketed SemDeDup path in [[newspipe.ops.Dedup]].
    val newMetaed = readRelFiles(layer, newRels,
      schemaHint = Some(schema), withMeta = dv.nonEmpty)
    val newAlive = if (dv.isEmpty) newMetaed
      else dvFilter(newMetaed, dvPairs(base, snap, Some(newRels.toSet)))
    val newSel = newAlive
      .select(col(meta.idCol).cast("long"), col(meta.vecCol))
    val landingN = newSel.count()
    if (landingN == 0) return emptyPairs
    if (landingN > maxLandingRows) {
      val rewriteHint =
        if (newRels.size == inv.size)
          " Every live file postdates the since-version (an OPTIMIZE/" +
            "compaction rewrote the corpus): this is a whole-corpus " +
            "pass, not an incremental landing — use the SemDeDup path " +
            "(newspipe.ops.Dedup) or pick a post-rewrite sinceVersion."
        else ""
      throw new IllegalArgumentException(
        s"vectorNearDups('$layer'): the post-$sinceVersion landing " +
          s"holds $landingN vectors, above maxLandingRows " +
          s"($maxLandingRows).$rewriteHint")
    }
    val artifacts = reachableShardArtifacts(layer, meta.name, inv,
      vectorCompat(meta))
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val withDigest = inv.map(rel =>
      rel -> IndexArtifacts.digestOf(qualify(rel)))
    // pq artifacts hold lossy codes, not vectors — a threshold join must
    // stay exact, so under a pq index every file takes the exact parquet
    // leg (the index still accelerates top-k SEARCH; dedup correctness
    // beats reusing its bytes)
    val (covered, uncovered) = withDigest.partition { case (rel, d) =>
      meta.kind != "pq" && artifacts.contains(d) && !dv.contains(rel) }
    // EXACT cap-bound pruning over the covered shards (round 18): a
    // routing entry's minCos is the shard's angular radius around its
    // centroid, so a chunk whose CLOSEST query is still further from
    // the centroid than radius + acos(threshold) provably shares no
    // qualifying pair with the shard (spherical triangle inequality) —
    // skipped with recall 1.0 preserved. Shards without a sound radius
    // (unrouted, pq-backfilled, degenerate) always scan; a small slack
    // absorbs float rounding on the conservative side.
    val routes = reachableRoutingEntries(layer, meta, inv)
    // driver cost discipline: the tight per-query test is O(shards ×
    // chunk × dim) — fine for thousands of shards, a driver-killer at
    // 10⁶. Above the bound, the CHUNK itself is summarized as a
    // spherical cap (its mean + radius, one O(chunk·dim) pass) and each
    // shard gets ONE dot product: angle(chunkMean, shardMean) −
    // chunkRadius − shardRadius > acos(threshold) is sound by two
    // applications of the same triangle inequality — weaker (skips
    // less) but O(shards·dim), and still exact.
    val PerQueryBound = 4096
    def skipSetFor(chunk: Array[(Long, Array[Double])]): Set[String] = {
      if (routes.isEmpty) return Set.empty
      val qUnit = chunk.map(t => newspipe.ops.Hnsw.unitOrZero(t._2))
      def dotN(a: Array[Double], bF: Array[Float],
          bInv: Double): Double = {
        var s = 0.0
        var j = 0
        val m = math.min(a.length, bF.length)
        while (j < m) { s += a(j) * bF(j); j += 1 }
        s * bInv
      }
      def shardGeom(r: VectorIndex.Route): Option[Double] = {
        if (r.minCos <= -1f || r.centroid.isEmpty) return None
        var n2 = 0.0
        r.centroid.foreach(x => n2 += x.toDouble * x.toDouble)
        if (n2 == 0.0) None else Some(1.0 / math.sqrt(n2))
      }
      val tight = covered.size <= PerQueryBound
      // chunk cap for the cheap test
      val (qMeanRaw, qMinCos) = newspipe.ops.Hnsw.meanAndMinCos(qUnit)
      var qn2 = 0.0
      qMeanRaw.foreach(x => qn2 += x * x)
      val chunkCap: Option[(Array[Double], Double)] =
        if (qn2 == 0.0 || qMinCos <= -1.0) None
        else Some((qMeanRaw.map(_ / math.sqrt(qn2)),
          math.acos(math.max(-1.0, math.min(1.0, qMinCos)))))
      val acosT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
      covered.iterator.flatMap { case (_, d) =>
        routes.get(d).flatMap { r =>
          shardGeom(r).flatMap { inv2 =>
            val skip =
              if (tight) {
                var best = -1.0
                qUnit.foreach { q =>
                  val c = dotN(q, r.centroid, inv2)
                  if (c > best) best = c
                }
                // skip only when even the CLOSEST query is excluded
                newspipe.ops.Hnsw.capExcludes(best, r.minCos.toDouble,
                  threshold)
              } else chunkCap.exists { case (qC, qRad) =>
                val cosCC = math.max(-1.0, math.min(1.0,
                  dotN(qC, r.centroid, inv2)))
                val sRad = math.acos(math.max(-1.0,
                  math.min(1.0, r.minCos.toDouble)))
                math.acos(cosCC) - qRad - sRad > acosT + 1e-6
              }
            if (skip) Some(d) else None
          }
        }
      }.toSet
    }
    // one chunk's pairs: the chunk rides a broadcast through both legs
    // (the vectorSearch query-batch contract)
    def pairsFor(chunk: Array[(Long, Array[Double])]): DataFrame = {
      val qB = spark.sparkContext.broadcast(chunk)
      val skips = skipSetFor(chunk)
      val chunkCovered = covered.filterNot { case (_, d) =>
        skips.contains(d) }
      val fromArtifacts: DataFrame =
        if (chunkCovered.isEmpty) emptyPairs
        else {
          val confB = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sparkContext.hadoopConfiguration))
          val paths = chunkCovered.map { case (_, d) =>
            artifacts(d).toString }
          val nSlices = math.max(1, math.min(paths.size,
            spark.sparkContext.defaultParallelism * 2))
          val (t, kind) = (threshold, meta.kind)
          spark.sparkContext.parallelize(paths, nSlices)
            .mapPartitions { ps =>
              val hc = confB.value.value
              ps.flatMap { p =>
                val path = new org.apache.hadoop.fs.Path(p)
                val fsys = path.getFileSystem(hc)
                val bytes =
                  new Array[Byte](fsys.getFileStatus(path).getLen.toInt)
                val in = fsys.open(path)
                try in.readFully(bytes) finally in.close()
                kind match {
                  case "ivf" => newspipe.ops.IvfFlat.scanShardBytes(
                    bytes, qB.value, t)
                  case _ => newspipe.ops.Hnsw.scanGraphBytes(
                    bytes, qB.value, t)
                }
              }
            }.toDF("id_a", "id_b", "cos")
        }
      val fromScan: DataFrame =
        if (uncovered.isEmpty) emptyPairs
        else {
          val rels = uncovered.map(_._1)
          val metaed = readRelFiles(layer, rels, schemaHint = Some(schema),
            withMeta = dv.nonEmpty)
          val alive = if (dv.isEmpty) metaed
            else dvFilter(metaed, dvPairs(base, snap, Some(rels.toSet)))
          val t = threshold
          alive.select(col(meta.idCol).cast("long"), col(meta.vecCol)).rdd
            .mapPartitions { rows =>
              // normalize the broadcast batch ONCE per task; the corpus
              // row normalizes with the same unitOrZero the artifact
              // builder used, so both legs' cosines agree bit-for-bit
              val qs = qB.value.map { case (qid, qv) =>
                (qid, newspipe.ops.Hnsw.unitOrZero(qv)) }
              rows.flatMap { r =>
                val id = r.getLong(0)
                val v = newspipe.ops.Hnsw.unitOrZero(
                  newspipe.ops.Hnsw.toRaw(r.get(1)))
                qs.iterator.flatMap { case (qid, q) =>
                  var s = 0.0
                  var j = 0
                  val n = math.min(q.length, v.length)
                  while (j < n) { s += q(j) * v(j); j += 1 }
                  if (s >= t) Iterator.single((qid, id, s))
                  else Iterator.empty
                }
              }
            }.toDF("id_a", "id_b", "cos")
        }
      fromArtifacts.unionByName(fromScan)
    }
    // stream the landing into sorted fixed-size chunks; pair results
    // don't depend on the chunking (each query row is independent)
    val chunkDfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Double])]
    val rows = newSel.toLocalIterator()
    while (rows.hasNext) {
      val r = rows.next()
      buf += ((r.getLong(0), newspipe.ops.Hnsw.toRaw(r.get(1))))
      if (buf.length >= chunkRows) {
        chunkDfs += pairsFor(buf.toArray.sortBy(_._1))
        buf.clear()
      }
    }
    if (buf.nonEmpty) chunkDfs += pairsFor(buf.toArray.sortBy(_._1))
    chunkDfs.reduce(_.unionByName(_))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The layer root a cross-layer rel points into (None = the rel is
    * layer-local): `../<layer>/…` sibling refs resolve against the lake
    * base; `base:<root>//<rel>` refs carry their root explicitly. Used
    * to locate a SHALLOW CLONE source's index artifacts.
    */
  private def foreignLayerRootOfRel(base: String, rel: String)
      : Option[String] = {
    if (rel.startsWith(Lake.BaseRefPrefix))
      return Some(Lake.splitBaseRef(rel)._1)
    if (!rel.startsWith("../")) return None
    var b = base.stripSuffix("/")
    var r = rel
    while (r.startsWith("../")) {
      val cut = b.lastIndexOf('/')
      if (cut <= 0) return None
      b = b.substring(0, cut)
      r = r.substring(3)
    }
    val seg = r.indexOf('/')
    if (seg <= 0) None else Some(s"$b/${r.substring(0, seg)}")
  }

  /** Layer roots whose index `name` may serve this layer: the local
    * root always, plus each distinct foreign root the inventory
    * references (a shallow clone's rels) WHOSE `_INDEX.json` passes
    * `compatible` — borrowing is keyed by index NAME, and a source that
    * dropped and recreated the name with different parameters must be
    * refused, or the borrowed bytes stop meaning what the local meta
    * says (a kind swap crashes the deserializer; a different LSH split
    * silently misses near-dup pairs). A refused or missing foreign
    * declaration degrades the clone to exact scans / local rebuilds of
    * the shared files — cost, never correctness. One meta read per
    * distinct foreign root (clones reference few sources).
    */
  private def reachableIndexRoots(layer: String, name: String,
      inv: Seq[String], dirName: String,
      compatible: String => Boolean): Seq[String] = {
    val base = layerPath(layer)
    val foreign = inv.flatMap(foreignLayerRootOfRel(base, _)).distinct
      .filter { root =>
        val mf = new Path(IndexArtifacts.indexRoot(dirName, root, name),
          IndexArtifacts.MetaFile)
        try fs(mf).exists(mf) && compatible(readFully(mf))
        catch { case _: Exception => false }
      }
    base +: foreign
  }

  /** digest → artifact path for every shard of index `name` REACHABLE
    * from this layer: its own shards directory first (a locally built
    * artifact always wins), then — for each PARAMETER-COMPATIBLE foreign
    * layer root the inventory references ([[reachableIndexRoots]]) —
    * that root's shards directory for the same index name. Content
    * addressing makes borrowing sound: the digest keys the FS-qualified
    * DATA-file path, which a clone's rel resolves to, so the source's
    * artifact for a shared file is byte-identical to what a local
    * rebuild would produce — a clone searches the source's index with
    * ZERO artifact bytes copied, and maintenance skips shared files
    * entirely. One listing per distinct root; a source that drops (or
    * incompatibly recreates) its index degrades the clone's search to
    * exact scans of the shared files, never to a wrong answer.
    */
  private def reachableShardArtifacts(layer: String, name: String,
      inv: Seq[String], compatible: String => Boolean,
      dirName: String = VectorIndex.DirName,
      ext: String = ".ann"): Map[String, Path] = {
    val roots = reachableIndexRoots(layer, name, inv, dirName, compatible)
    roots.foldLeft(Map.empty[String, Path]) { (acc, root) =>
      val f = fs(new Path(root))
      val extra = IndexArtifacts.existingShards(dirName, ext, f, root, name)
        .iterator
        .filterNot(acc.contains)
        .map(d => d ->
          f.makeQualified(new Path(
            IndexArtifacts.shardsDir(dirName, root, name), s"$d$ext")))
        .toMap
      acc ++ extra
    }
  }

  /** [[reachableShardArtifacts]]' `compatible` check for a vector
    * index: the foreign declaration must bake the same artifact
    * parameters ([[VectorIndex.artifactCompatible]]).
    */
  private def vectorCompat(meta: VectorIndex.Meta): String => Boolean =
    json => VectorIndex.artifactCompatible(meta, VectorIndex.fromJson(json))

  /** The dedup-index sibling of [[vectorCompat]]. */
  private def dedupCompat(meta: DedupIndex.Meta): String => Boolean =
    json => DedupIndex.artifactCompatible(meta, DedupIndex.fromJson(json))

  /** Reclaim index artifacts (both families: `_vindex` shard graphs,
    * `_dindex` signature shards) no RETAINED snapshot's data file backs
    * any more (post-vacuum: rewritten-away or deleted files') — the
    * index-side leg of VACUUM, O(retained inventory + artifacts).
    */
  private def pruneIndexShards(layer: String): Unit = {
    val vMetas = vectorIndexes(layer)
    val dMetas = dedupIndexes(layer)
    if (vMetas.isEmpty && dMetas.isEmpty) return
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val live: Set[String] = committedVersions(layer).flatMap { snap =>
      snapshotInventory(layer, snap).map(rel => IndexArtifacts.digestOf(
        f.makeQualified(new Path(resolveRel(base, rel))).toString))
    }.toSet
    vMetas.foreach { meta =>
      (VectorIndex.existingShards(f, base, meta.name) -- live).foreach { d =>
        f.delete(new Path(VectorIndex.shardsDir(base, meta.name),
          s"$d.ann"), false)
      }
      // routing-segment compaction: fold every segment into ONE holding
      // only live digests (dead entries are harmless — search ignores
      // them — but segments would otherwise accumulate one per
      // maintenance call forever). Write-merged-then-delete-olds: a
      // racing reader that loses a segment mid-read just over-probes.
      val segs = VectorIndex.routingSegmentFiles(f, base, meta.name)
      if (segs.nonEmpty) {
        val entries = VectorIndex.readRoutingEntries(f, base, meta.name)
          .filter { case (d, _) => live.contains(d) }
          .map { case (d, r) => (d, r.count,
            r.centroid.map(_.toDouble), r.minCos.toDouble) }
          .toSeq
        val keep: Option[String] =
          if (entries.isEmpty) None
          else {
            val bytes = VectorIndex.serializeRouting(entries)
            VectorIndex.writeRoutingSegment(f, base, meta.name, bytes)
            val md = java.security.MessageDigest.getInstance("MD5")
            Some(md.digest(bytes).map("%02x".format(_)).mkString +
              VectorIndex.RoutingExt)
          }
        segs.filterNot(p => keep.contains(p.getName))
          .foreach(f.delete(_, false))
      }
    }
    dMetas.foreach { meta =>
      (DedupIndex.existingShards(f, base, meta.name) -- live).foreach { d =>
        f.delete(new Path(DedupIndex.shardsDir(base, meta.name),
          s"$d${DedupIndex.Ext}"), false)
      }
    }
  }

  // ---- persisted dedup index (MinHash near-dup) ---------------------------

  /** Declare + build a persisted near-dedup index over `textCol` (layout
    * and rationale: [[DedupIndex]]): one banded-MinHash signature
    * artifact per live data file, content-addressed by the file's
    * qualified path — the expensive shingle+hash pass over the text runs
    * ONCE per file ever. [[appendAtomic]] and the compaction family sign
    * their NEW files only (O(increment)); [[nearDups]] then finds
    * near-duplicate pairs by joining artifact against artifact and
    * re-reads text only to exact-verify candidates.
    *
    * `bands` defaults to the recall-heavy 16×4 shape (64 hashes): at the
    * default 0.8 threshold a true near-dup pair shares a band with
    * probability ≈ 0.9998. [[newspipe.ops.Dedup.lshParams]] documents
    * the S-curve when a different precision/recall trade is wanted.
    * Returns the number of signature shards built.
    */
  def createDedupIndex(layer: String, name: String, textCol: String,
      idCol: String, threshold: Double = 0.8, numHashes: Int = 64,
      bands: Int = 16, shingle: Int = 3): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"dedup index name '$name' must be alphanumeric/underscore")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(shingle >= 1, s"shingle must be >= 1, got $shingle")
    val snap = latestSnapshot(layer).getOrElse(throw new IllegalStateException(
      s"layer '$layer' has no committed snapshot — a dedup index " +
        "indexes committed data files (writeAtomic first)"))
    require(mappingOf(snap).isEmpty,
      s"createDedupIndex('$layer'): column-mapped layers are not " +
        "supported (shards key logical columns by name)")
    val schema = snapshotSchema(layer, snap)
    Seq(textCol, idCol).foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"createDedupIndex('$layer'): layer has no column '$c'"))
    require(dedupIndexes(layer).forall(_.name != name),
      s"layer '$layer' already has a dedup index '$name' — drop it first")
    val meta = DedupIndex.Meta(name, idCol, textCol, numHashes, bands,
      numHashes / bands, shingle, threshold)
    val root = DedupIndex.indexRoot(layerPath(layer), name)
    val f = fs(root)
    f.mkdirs(root)
    val out = f.create(new Path(root, DedupIndex.MetaFile), true)
    try out.write(DedupIndex.toJson(meta).getBytes("UTF-8"))
    finally out.close()
    maintainDedupIndexes(layer)
  }

  def dropDedupIndex(layer: String, name: String): Unit = {
    val root = DedupIndex.indexRoot(layerPath(layer), name)
    val f = fs(root)
    if (!f.exists(new Path(root, DedupIndex.MetaFile)))
      throw new NoSuchElementException(
        s"layer '$layer' has no dedup index '$name'")
    f.delete(root, true)
    ()
  }

  /** Declared dedup indexes of the layer (metadata-only listing). */
  def dedupIndexes(layer: String): Seq[DedupIndex.Meta] = {
    val dir = new Path(s"${layerPath(layer)}/${DedupIndex.DirName}")
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).iterator.filter(_.isDirectory).flatMap { st =>
      val mf = new Path(st.getPath, DedupIndex.MetaFile)
      if (f.exists(mf)) Some(DedupIndex.fromJson(readFully(mf))) else None
    }.toSeq.sortBy(_.name)
  }

  /** Per-index coverage against the CURRENT snapshot (meta, files with a
    * reachable signature artifact, total live files) — `SHOW DEDUP
    * INDEXES`' engine; metadata-only.
    *
    * DELIBERATE asymmetry with [[vectorIndexStatus]]: DV-bearing files
    * COUNT as covered here, because [[nearDups]] genuinely serves them
    * from their artifacts — a signature of a DV-deleted row only
    * produces candidates, and candidates exact-verify against the ALIVE
    * corpus, so stale ids verify away (LakeDedupIndexSpec pins it). A
    * vector search has no verification leg — its graphs would resurrect
    * deleted rows as neighbors, so its status excludes DV files exactly
    * as its search path does. Each status reports what its OWN search
    * path answers from the index.
    */
  def dedupIndexStatus(layer: String): Seq[(DedupIndex.Meta, Int, Int)] = {
    val metas = dedupIndexes(layer)
    if (metas.isEmpty) return Nil
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = latestSnapshot(layer).map(snapshotInventory(layer, _))
      .getOrElse(Nil)
    val digests = inv.map(rel => IndexArtifacts.digestOf(
      f.makeQualified(new Path(resolveRel(base, rel))).toString))
    metas.map { meta =>
      val reachable = reachableShardArtifacts(layer, meta.name, inv,
        dedupCompat(meta), DedupIndex.DirName, DedupIndex.Ext).keySet
      (meta, digests.count(reachable.contains), inv.size)
    }
  }

  /** Sign missing files for every declared dedup index — O(new files);
    * the post-commit hook's dedup leg. Idempotent; returns shards built.
    */
  def maintainDedupIndexes(layer: String): Int =
    dedupIndexes(layer).iterator.map(maintainDedupIndex(layer, _)).sum

  /** Rebuild coverage for ONE named dedup index (`REFRESH DEDUP
    * INDEX`) — the explicit trigger after a full overwrite or a foreign
    * writer's commits. O(uncovered files), idempotent.
    */
  def refreshDedupIndex(layer: String, name: String): Int = {
    val meta = dedupIndexes(layer).find(_.name == name).getOrElse(
      throw new NoSuchElementException(
        s"layer '$layer' has no dedup index '$name' (declared: " +
          s"${dedupIndexes(layer).map(_.name).mkString(", ")})"))
    maintainDedupIndex(layer, meta)
  }

  private def maintainDedupIndex(layer: String,
      meta: DedupIndex.Meta): Int = {
    val snap = latestSnapshot(layer).getOrElse(return 0)
    if (mappingOf(snap).nonEmpty) return 0 // mapped post-creation: fallback
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = snapshotInventory(layer, snap)
    val existing = reachableShardArtifacts(layer, meta.name, inv,
      dedupCompat(meta), DedupIndex.DirName, DedupIndex.Ext).keySet
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val missing = inv.map(rel => rel -> IndexArtifacts.digestOf(qualify(rel)))
      .filterNot { case (_, d) => existing.contains(d) }
    if (missing.isEmpty) return 0
    // same file-routing shape as the vector maintainer: rows reach their
    // file's signer via input_file_name, decoded-URI-path keyed (the two
    // sides render the same file differently; last segments alone are
    // not unique across hive partition dirs)
    val pathKeyOf: String => String = s =>
      try new java.net.URI(s).getPath catch { case _: Exception => s }
    val byPath: Map[String, String] = missing.map { case (rel, d) =>
      pathKeyOf(f.makeQualified(new Path(resolveRel(base, rel)))
        .toUri.toString) -> d
    }.toMap
    val targetRels = missing.map(_._1)
    val schema = snapshotSchema(layer, snap)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val bandsExpr = newspipe.ops.Dedup.lshBands(
      newspipe.ops.Dedup.minhashSignature(
        newspipe.ops.Dedup.shingles(col(meta.textCol), meta.shingle),
        meta.numHashes),
      meta.bands, meta.rows)
    val rows = readRelFiles(layer, targetRels, schemaHint = Some(schema))
      .select(input_file_name().as("__f"),
        col(meta.idCol).cast("long").as("__id"), bandsExpr.as("__bb"))
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val pathsB = spark.sparkContext.broadcast(byPath)
    val (mName, mBase) = (meta.name, base)
    val nParts = math.max(1, math.min(targetRels.size,
      spark.sparkContext.defaultParallelism * 2))
    import spark.implicits._
    val built = rows.repartition(nParts, col("__f"))
      .mapPartitions { it =>
        val keyOf: String => String = s =>
          try new java.net.URI(s).getPath catch { case _: Exception => s }
        val byFile = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]]
        it.foreach { r =>
          val buf = byFile.getOrElseUpdate(keyOf(r.getString(0)),
            scala.collection.mutable.ArrayBuffer.empty)
          // null id / null signature (null text) sign nothing — exactly
          // the rows the from-scratch pipeline's explode drops
          if (!r.isNullAt(1) && !r.isNullAt(2)) {
            val id = r.getLong(1)
            r.getSeq[org.apache.spark.sql.Row](2).foreach { bb =>
              if (!bb.isNullAt(0) && !bb.isNullAt(1))
                buf += ((id, bb.getInt(0), bb.getLong(1)))
            }
          }
        }
        val fsys = new org.apache.hadoop.fs.Path(mBase)
          .getFileSystem(confB.value.value)
        byFile.iterator.flatMap { case (pathKey, buf) =>
          pathsB.value.get(pathKey).map { digest =>
            DedupIndex.writeShard(fsys, mBase, mName, digest,
              DedupIndex.serialize(buf.toArray))
            digest
          }
        }
      }.collect()
    built.length
  }

  /** Near-duplicate pairs THROUGH the persisted index: candidates from
    * an artifact-against-artifact `(band, bucket)` join (document text
    * is NOT read), exact n-gram-Jaccard verification of the candidates
    * against the ALIVE corpus (rows a deletion vector removed verify
    * away, as do ids from stale artifacts), emitted as
    * `(id_a, id_b, jaccard)` with `jaccard >= threshold`, `id_a < id_b`.
    *
    * `sinceVersion`: INCREMENTAL dedup — only pairs with at least one
    * side in a file added AFTER that committed snapshot (the "dedup the
    * new batch against the whole corpus" production shape: cost is the
    * new files' signatures against the persisted ones; the corpus text
    * is never re-shingled). None = all corpus pairs.
    *
    * Files without an artifact (crash window, foreign writer, fresh
    * overwrite) have signatures computed inline — cost, never
    * correctness. `maxBucket` is the LSH skew guard: hotter buckets are
    * dropped (their members still meet through other bands), and in
    * incremental mode buckets holding no NEW member leave before the
    * join — old-old buckets cannot produce a wanted pair.
    *
    * Incremental reads are BUCKET-PRUNED (round 18): every v2 signature
    * artifact leads with a Bloom over its distinct `(band, bucket)`
    * keys, and the landing's key set is probed against each corpus
    * artifact's header — an artifact sharing no bucket with the landing
    * skips its body entirely, so the steady-state landing cost is ∝ the
    * batch and its bucket-mates, not corpus signature volume. Exact for
    * pair recall (no Bloom false negatives); the lazy TVF route and
    * over-sized probes skip pruning, never correctness.
    */
  private def resolveDedupIndex(layer: String,
      indexName: Option[String]): DedupIndex.Meta = {
    val metas = dedupIndexes(layer)
    require(metas.nonEmpty,
      s"layer '$layer' has no dedup index — createDedupIndex first")
    indexName match {
      case Some(n) => metas.find(_.name == n).getOrElse(
        throw new NoSuchElementException(s"layer '$layer' has no dedup " +
          s"index '$n' (declared: ${metas.map(_.name).mkString(", ")})"))
      case None =>
        require(metas.lengthCompare(1) == 0, s"layer '$layer' declares " +
          s"${metas.size} dedup indexes — name one " +
          s"(${metas.map(_.name).mkString(", ")})")
        metas.head
    }
  }

  /** The index's banded-signature expression — the ONE definition both
    * the artifact builder and every inline-signing path evaluate, so
    * persisted and computed signatures always agree.
    */
  private def dedupBandsExpr(meta: DedupIndex.Meta)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    newspipe.ops.Dedup.lshBands(
      newspipe.ops.Dedup.minhashSignature(
        newspipe.ops.Dedup.shingles(col(meta.textCol), meta.shingle),
        meta.numHashes), meta.bands, meta.rows)
  }

  /** The broadcast-size bound on a landing's distinct bucket-key set:
    * above it, incremental pruning is skipped (correct either way —
    * pruning only saves IO) rather than shipping an oversized probe.
    */
  private val MaxDedupProbeKeys = 4 * 1000 * 1000

  /** See [[LakeConfig.dedupPruneMinArtifacts]]. */
  private def dedupPruneMinArtifacts: Int = config.dedupPruneMinArtifacts

  /** `(id, band, bucket)` signature rows for `rels` (any subset of the
    * snapshot's inventory): persisted artifacts where they exist (text
    * not read), inline signing for uncovered files (cost, never
    * correctness). `probe`: the landing's bucket keys
    * ([[DedupIndex.bucketKey]]) — a v2 artifact whose bucket Bloom
    * proves no probe key can be a member is SKIPPED after its header
    * read, so an incremental pass costs ∝ artifacts sharing the
    * landing's buckets, not corpus signature volume. Exact for pair
    * recall (Blooms have no false negatives); v1 artifacts and
    * inline-signed files always read fully.
    */
  private def dedupSignaturesFor(layer: String, meta: DedupIndex.Meta,
      snap: Path, rels: Seq[String],
      probe: () => Option[Array[Long]] = () => None): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val base = layerPath(layer)
    val f = fs(new Path(base))
    // reachability spans the FULL inventory (clone roots), even when
    // rels is a subset of it
    val inv = snapshotInventory(layer, snap)
    val artifacts = reachableShardArtifacts(layer, meta.name, inv,
      dedupCompat(meta), DedupIndex.DirName, DedupIndex.Ext)
    def qualify(rel: String): String =
      f.makeQualified(new Path(resolveRel(base, rel))).toString
    val withDigest = rels.map(rel =>
      rel -> IndexArtifacts.digestOf(qualify(rel)))
    val (covered, uncovered) = withDigest.partition { case (_, d) =>
      artifacts.contains(d) }
    import spark.implicits._
    def emptySigs: DataFrame =
      spark.emptyDataset[(Long, Int, Long)].toDF("id", "band", "bucket")
    val fromArtifacts: DataFrame =
      if (covered.isEmpty) emptySigs
      else {
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        // the probe thunk runs a Spark job (distinct + collect on the
        // landing's signatures) — invoke it only when enough artifact
        // bodies could be skipped to pay for it (round 19; the
        // unconditional probe regressed q189 at small corpus sizes)
        val probeKeys =
          if (covered.size >= dedupPruneMinArtifacts) probe() else None
        val probeB = probeKeys.map(spark.sparkContext.broadcast(_))
        val paths = covered.map { case (_, d) => artifacts(d).toString }
        val nSlices = math.max(1, math.min(paths.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(paths, nSlices)
          .mapPartitions { ps =>
            val hc = confB.value.value
            val pr = probeB.map(_.value)
            ps.flatMap { p =>
              val path = new org.apache.hadoop.fs.Path(p)
              val fsys = path.getFileSystem(hc)
              // streaming read: a pruned artifact costs its header only
              val in = new java.io.DataInputStream(
                new java.io.BufferedInputStream(fsys.open(path), 1 << 16))
              try DedupIndex.readPruned(in, pr) match {
                case Some(triples) => triples.iterator
                case None => Iterator.empty
              } finally in.close()
            }
          }.toDF("id", "band", "bucket")
      }
    val schema = snapshotSchema(layer, snap)
    val fromScan: Option[DataFrame] =
      if (uncovered.isEmpty) None
      else Some(readRelFiles(layer, uncovered.map(_._1),
          schemaHint = Some(schema))
        .select(col(meta.idCol).cast("long").as("id"),
          explode(dedupBandsExpr(meta)).as("__bb"))
        .select(col("id"), col("__bb.band").as("band"),
          col("__bb.bucket").as("bucket")))
    (Seq(fromArtifacts) ++ fromScan).reduce(_.unionByName(_))
  }

  /** The landing side's distinct bucket keys, for artifact pruning —
    * None when the set exceeds [[MaxDedupProbeKeys]] (skip pruning
    * rather than broadcast an oversized probe).
    */
  private def dedupProbeKeysOf(sigs: DataFrame): Option[Array[Long]] = {
    import org.apache.spark.sql.functions.col
    val pairs = sigs.select(col("band"), col("bucket")).distinct()
      .limit(MaxDedupProbeKeys + 1).collect()
    if (pairs.length > MaxDedupProbeKeys) None
    else Some(pairs.map(r => DedupIndex.bucketKey(r.getInt(0),
      r.getLong(1))))
  }

  def nearDups(layer: String, indexName: Option[String] = None,
      sinceVersion: Option[String] = None, maxBucket: Int = 1000,
      eager: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, greatest, least,
      lit, max}
    val meta = resolveDedupIndex(layer, indexName)
    val snap = latestSnapshot(layer).getOrElse(
      throw new IllegalStateException(
        s"layer '$layer' has no committed snapshot"))
    val base = layerPath(layer)
    val f = fs(new Path(base))
    val inv = snapshotInventory(layer, snap)
    val newRels: Set[String] = sinceVersion match {
      case Some(v) =>
        val p = new Path(s"$base/_v/$v")
        require(f.exists(new Path(p, "_COMMITTED")),
          s"layer '$layer' has no committed snapshot '$v'")
        val oldInv = snapshotInventory(layer, p).toSet
        inv.filterNot(oldInv).toSet
      case None => Set.empty
    }
    // incremental + eager: read the LANDING's signatures first, then
    // prune corpus artifacts by the landing's bucket keys — a corpus
    // artifact sharing no (band, bucket) with the landing cannot
    // contribute a wanted pair, so its body is never read (cost ∝
    // batch, not corpus signature volume). The lazy TVF path keeps the
    // unpruned one-pass shape (collecting probe keys at plan build
    // would launch jobs under a bare EXPLAIN).
    val all: DataFrame = sinceVersion match {
      case None =>
        dedupSignaturesFor(layer, meta, snap, inv)
          .withColumn("is_new", lit(false))
      case Some(_) if eager =>
        // the landing's signatures are checkpointed ONLY if the probe
        // actually runs (it reads them twice: key collect + union leg);
        // when pruning is disarmed below the artifact threshold, the
        // lazy frame feeds the union once and no checkpoint job runs
        val newRaw = dedupSignaturesFor(layer, meta, snap,
          inv.filter(newRels))
        var newCk: Option[DataFrame] = None
        val oldSigs = dedupSignaturesFor(layer, meta, snap,
          inv.filterNot(newRels), () => {
            val ck = newspipe.StageBoundary.materialize(newRaw)
            newCk = Some(ck)
            dedupProbeKeysOf(ck)
          })
        newCk.getOrElse(newRaw).withColumn("is_new", lit(true))
          .unionByName(oldSigs.withColumn("is_new", lit(false)))
      case Some(_) =>
        dedupSignaturesFor(layer, meta, snap, inv.filter(newRels))
          .withColumn("is_new", lit(true))
          .unionByName(dedupSignaturesFor(layer, meta, snap,
            inv.filterNot(newRels)).withColumn("is_new", lit(false)))
    }
    val keptBuckets = all.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"), max(col("is_new")).as("__hasNew"))
      .filter(col("__n").between(2, maxBucket) &&
        (if (sinceVersion.isEmpty) lit(true) else col("__hasNew")))
      .select("band", "bucket")
    val kept = all.join(keptBuckets, Seq("band", "bucket"))
    val leftSide =
      (if (sinceVersion.isEmpty) kept else kept.filter(col("is_new")))
        .select(col("band"), col("bucket"), col("id").as("__l"))
    val cand = leftSide
      .join(kept.select(col("band"), col("bucket"), col("id").as("__r")),
        Seq("band", "bucket"))
      .filter(col("__l") =!= col("__r"))
      .select(least(col("__l"), col("__r")).as("id_a"),
        greatest(col("__l"), col("__r")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val alive = read(layer).select(
      col(meta.idCol).cast("long").as(meta.idCol), col(meta.textCol))
    newspipe.ops.Dedup.jaccardVerify(cand, alive, meta.idCol, meta.textCol,
      n = meta.shingle, threshold = meta.threshold, eager = eager)
  }

  /** Ingest-time near-dedup — the production primitive the dedup index
    * exists for: land ONLY the rows of `df` that are near-duplicates of
    * neither the existing corpus nor an earlier row of the batch itself.
    *
    * Two passes, both candidate-bounded: (1) intra-batch keep-min-id —
    * the batch's own signatures self-join on `(band, bucket)` and every
    * exact-verified pair sheds its LARGER id; (2) survivors' signatures
    * join the PERSISTED corpus signatures, and a survivor with any
    * exact-verified corpus partner is shed. Landing a batch therefore
    * costs [shingle the batch] + [signature joins] + [verify candidates
    * — the only time corpus text is read, and only the candidates'] +
    * [appendAtomic of the survivors, which signs their files for the
    * NEXT batch]. The corpus is never re-shingled: this is the
    * steady-state "dedup the daily landing against 100 TB" shape.
    *
    * The batch is materialized once (eager localCheckpoint) — the rows
    * signed are exactly the rows landed, the same one-evaluation
    * contract as the overwrite family. Ids must be corpus-unique (the
    * engine-wide id contract); an all-duplicate batch commits nothing
    * and returns `snapshot = None`.
    *
    * `txn`: the streaming (appId, batchId) ledger fence — a replayed
    * micro-batch with a RECORDED batch id is skipped whole (exactly-once
    * by id, before any dedup work), while content dedup handles the
    * same text arriving again under NEW ids. The two layers compose:
    * ledger for replays, signatures for re-crawls — and the ledger leg
    * matters because a same-ID replay is INVISIBLE to content dedup
    * (a row never pairs with itself). An all-duplicate batch commits
    * nothing and so records no ledger entry; its replay just re-noops.
    */
  def appendDeduped(df: DataFrame, layer: String,
      indexName: Option[String] = None, maxBucket: Int = 1000,
      txn: Option[(String, Long)] = None)
      : Lake.AppendDedupResult = {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val meta = resolveDedupIndex(layer, indexName)
    val snap = latestSnapshot(layer).getOrElse(
      throw new IllegalStateException(
        s"layer '$layer' has no committed snapshot — appendDeduped lands " +
          "increments against an existing corpus (writeAtomic first)"))
    txn.foreach { case (appId, batchId) =>
      if (txnVersion(layer, appId).exists(_ >= batchId))
        return Lake.AppendDedupResult(None, 0L, 0L, 0L)
    }
    val batch = df.stageBoundary()
    val batchN = batch.count()
    if (batchN == 0)
      return Lake.AppendDedupResult(None, 0L, 0L, 0L)
    val sigs = batch.select(col(meta.idCol).cast("long").as("id"),
        explode(dedupBandsExpr(meta)).as("__bb"))
      .select(col("id"), col("__bb.band").as("band"),
        col("__bb.bucket").as("bucket"))
      .stageBoundary() // three joins reuse it; batch-sized
    // (1) intra-batch: greedy keep-min-id over verified pairs. The same
    // between(2, maxBucket) skew guard as the corpus pass — a batch of
    // boilerplate clones would otherwise explode one hot bucket into
    // O(B²) candidate pairs, the exact job-killer maxBucket exists for
    // (capped members still meet through their other bands).
    val intraBuckets = sigs.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucket))
      .select("band", "bucket")
    val intraKept = sigs.join(intraBuckets, Seq("band", "bucket"))
    val intraCand = intraKept.select(col("band"), col("bucket"),
        col("id").as("__l"))
      .join(intraKept.select(col("band"), col("bucket"),
        col("id").as("__r")), Seq("band", "bucket"))
      .filter(col("__l") < col("__r"))
      .select(col("__l").as("id_a"), col("__r").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val batchKeyed = batch.select(
      col(meta.idCol).cast("long").as(meta.idCol), col(meta.textCol))
    val dropIntra = newspipe.ops.Dedup.jaccardVerify(intraCand, batchKeyed,
        meta.idCol, meta.textCol, n = meta.shingle,
        threshold = meta.threshold)
      .select(col("id_b").as("__drop")).distinct().stageBoundary()
    val nIntra = dropIntra.count()
    val surv = batch.join(dropIntra,
      col(meta.idCol).cast("long") === col("__drop"), "left_anti")
    val survSigs = sigs.join(dropIntra, col("id") === col("__drop"),
      "left_anti")
    // (2) vs corpus: survivors' signatures against the persisted ones —
    // BUCKET-PRUNED by the survivors' key set (a corpus artifact
    // sharing no bucket with the batch skips its body; cost ∝ batch,
    // not corpus signature volume); the skew cap drops only corpus-hot
    // buckets (other bands still carry their members)
    val corpusSigs = dedupSignaturesFor(layer, meta, snap,
      snapshotInventory(layer, snap), () => dedupProbeKeysOf(survSigs))
    val keptBuckets = corpusSigs.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "bucket")
    val crossCand = survSigs.select(col("band"), col("bucket"),
        col("id").as("id_b"))
      .join(corpusSigs.join(keptBuckets, Seq("band", "bucket"))
        .select(col("band"), col("bucket"), col("id").as("id_a")),
        Seq("band", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val combined = read(layer).select(
        col(meta.idCol).cast("long").as(meta.idCol), col(meta.textCol))
      .unionByName(surv.select(
        col(meta.idCol).cast("long").as(meta.idCol), col(meta.textCol)))
    val dropCross = newspipe.ops.Dedup.jaccardVerify(crossCand, combined,
        meta.idCol, meta.textCol, n = meta.shingle,
        threshold = meta.threshold)
      .select(col("id_b").as("__drop2")).distinct().stageBoundary()
    val nCross = dropCross.count()
    val landedDf = surv.join(dropCross,
      col(meta.idCol).cast("long") === col("__drop2"), "left_anti")
    val landedN = batchN - nIntra - nCross
    val snapOut =
      if (landedN == 0L) None
      else Some(appendAtomic(landedDf, layer, txn = txn).snapshot)
    Lake.AppendDedupResult(snapOut, landedN, nIntra, nCross)
  }

  /** Reclaim snapshot storage: keep the newest `keep` committed snapshots;
    * delete older committed ones always, and UNCOMMITTED directories only
    * when untouched for `orphanGraceMs` (default 24 h) — an uncommitted dir
    * is indistinguishable from an IN-FLIGHT writer's snapshot (a writer
    * that started before the newest commit looks "old" by version id while
    * its save is still running, so a positional rule is not enough; recency
    * of the files themselves is the honest signal). With the grace period,
    * vacuum is safe to run concurrently with writers; crashed-writer debris
    * is reclaimed one grace period later. Callers own the retention
    * window — a reader still scanning a snapshot that vacuum deletes will
    * fail mid-scan, exactly Delta's VACUUM contract.
    */
  def vacuum(layer: String, keep: Int = 2,
      orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    vacuumKeeping(layer,
      committed => committed.take(keep).map(_.getName).toSet, orphanGraceMs)
  }

  /** What count-based [[vacuum]] WOULD reclaim, without deleting (Delta's
    * `VACUUM … DRY RUN`): the version-dir names slated for removal.
    */
  def vacuumDryRun(layer: String, keep: Int = 2,
      orphanGraceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    vacuumPlan(layer,
      committed => committed.take(keep).map(_.getName).toSet, orphanGraceMs)
      .map(_.getName)
  }

  /** [[vacuumOlderThan]]'s dry run. */
  def vacuumOlderThanDryRun(layer: String, retentionMs: Long,
      orphanGraceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(retentionMs >= 0, s"retentionMs must be >= 0, got $retentionMs")
    val cutoff = System.currentTimeMillis() - retentionMs
    vacuumPlan(layer, committed =>
      (committed.take(1) ++ committed.filter(
        _.getName.take(16).toLong >= cutoff)).map(_.getName).toSet,
      orphanGraceMs).map(_.getName)
  }

  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS` form):
    * reclaim committed snapshots whose commit instant (the version-id
    * millis prefix) is older than `retentionMs`, ALWAYS keeping the newest
    * committed snapshot — a quiet layer never vacuums itself unreadable —
    * and, as with count-based [[vacuum]], every version dir a kept
    * manifest references. Same orphan grace rule.
    */
  def vacuumOlderThan(layer: String, retentionMs: Long,
      orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    require(retentionMs >= 0, s"retentionMs must be >= 0, got $retentionMs")
    val cutoff = System.currentTimeMillis() - retentionMs
    vacuumKeeping(layer, committed =>
      (committed.take(1) ++ committed.filter(
        _.getName.take(16).toLong >= cutoff)).map(_.getName).toSet,
      orphanGraceMs)
  }

  /** Shared reclamation body: `keepOf` names the committed snapshots to
    * keep; every version dir any KEPT MANIFEST references is pinned too —
    * row ops carry untouched files by reference across version dirs, so
    * deleting a referenced dir would gut a snapshot we promised to keep.
    * No transitive walk is needed: a manifest lists fully-resolved
    * data-file paths, not other manifests. Superseded committed snapshots
    * outside the keep set delete immediately; UNCOMMITTED dirs only after
    * the age grace (an uncommitted dir is indistinguishable from an
    * in-flight writer's snapshot).
    */
  private def vacuumKeeping(layer: String,
      keepOf: Seq[Path] => Set[String], orphanGraceMs: Long): Unit = {
    val f = fs(new Path(s"${layerPath(layer)}/_v"))
    vacuumPlan(layer, keepOf, orphanGraceMs).foreach { p =>
      // COPY INTO ledger survival: the loaded-file ledger lives as
      // `_COPY` markers inside version dirs — reclaiming one would
      // forget its loads, and a retried COPY INTO against a still-extant
      // staging dir would silently RE-INGEST those files. Relocate the
      // marker into the root ledger dir (`_v/_COPY_LEDGER/<version>`,
      // immutable once written) BEFORE the version dir goes, so vacuum
      // reclaims the data bytes while the idempotence contract holds
      // forever. Crash-safe: copy-then-delete — a crash between the two
      // leaves the version in place and the next vacuum re-copies
      // (create-overwrite of identical content).
      val cm = new Path(p, Lake.CopyMarker)
      if (f.exists(cm)) {
        val dst = new Path(copyLedgerDir(layer), p.getName)
        f.mkdirs(dst.getParent)
        val out = f.create(dst, true)
        try out.write(readFully(cm).getBytes("UTF-8")) finally out.close()
      }
      f.delete(p, true)
    }
    // index-side leg: artifacts whose data file no retained snapshot
    // references any more (rewritten-away/deleted files) are debris now
    pruneIndexShards(layer)
  }

  /** Root dir holding relocated COPY INTO ledgers of vacuumed versions
    * (one immutable file per reclaimed ledger-bearing version). */
  private def copyLedgerDir(layer: String): Path =
    new Path(s"${layerPath(layer)}/_v/${Lake.CopyLedgerDirName}")

  /** The version dirs a vacuum pass with these parameters would delete —
    * the shared planning body of [[vacuumKeeping]] and the DRY RUN forms.
    */
  private def vacuumPlan(layer: String,
      keepOf: Seq[Path] => Set[String], orphanGraceMs: Long): Seq[Path] = {
    val vdir = new Path(s"${layerPath(layer)}/_v")
    val f = fs(vdir)
    if (!f.exists(vdir)) return Nil
    val now = System.currentTimeMillis()
    val committed = committedVersions(layer)
    val committedSet = committed.map(_.getName).toSet
    val kept = keepOf(committed)
    val pinned = committed.filter(p => kept.contains(p.getName))
      .flatMap { p =>
        // pin every version dir a kept manifest references — data files
        // AND dv payload documents (a reclaimed payload would resurrect
        // its file's deleted rows)
        manifestOf(p).map(m => (m.files ++ m.dvs.values)
          .flatMap(_.split('/') match {
            case Array("_v", v, _*) => Some(v)
            case _ => None
          })).getOrElse(Nil)
      }.toSet
    // pin every version dir a kept INCREMENTAL commit's fold chain walks
    // through (the delta/checkpoint documents live there — without the
    // chain the kept snapshot's inventory can no longer be resolved);
    // [[checkpoint]] materializes the head and releases these pins
    val chainPinned = committed.filter(p => kept.contains(p.getName))
      .flatMap { p =>
        val buf = Seq.newBuilder[String]
        var cur = p
        var steps = 0
        while (steps < 1000000 && isDeltaOnly(cur)) {
          val parent = deltaDocOf(cur).get.parent
          buf += parent
          cur = new Path(cur.getParent, parent)
          steps += 1
        }
        buf.result()
      }.toSet
    // cross-layer pins: a shallow [[clone]] references this layer's
    // version dirs from SIBLING layers' manifests (`../<layer>/_v/<v>/…`);
    // reclaiming such a version would break every reader of the clone.
    // Only siblings whose `_CLONE_SOURCES` marker names this layer are
    // walked (clone() writes it), so a lake with no clones pays one
    // sibling listing and zero manifest reads; for actual clones every
    // committed snapshot pins (not just the clone's kept set) — the
    // clone's own vacuum retires superseded snapshots first, after which
    // a LATER source vacuum can reclaim.
    val clonePrefix = s"../$layer/"
    val basePath = new Path(config.basePath.stripSuffix("/"))
    val cloned: Set[String] =
      if (!f.exists(basePath)) Set.empty
      else f.listStatus(basePath).iterator
        .filter(s => s.isDirectory && s.getPath.getName != layer)
        .filter { s =>
          val mk = new Path(s.getPath, "_CLONE_SOURCES")
          f.exists(mk) && readFully(mk).split("\n").contains(layer)
        }
        .flatMap(s => committedVersions(s.getPath.getName))
        .flatMap(p => manifestOf(p).map(m => m.files ++ m.dvs.values)
          .getOrElse(Nil))
        .filter(_.startsWith(clonePrefix))
        .flatMap(_.stripPrefix(clonePrefix).split('/') match {
          case Array("_v", v, _*) => Some(v)
          case _ => None // flat-adopted source file: not a version dir
        })
        .toSet
    // cross-BASE pins: clones under OTHER lake bases registered
    // themselves in this layer's `_CLONE_PINS/` at clone time
    // ([[cloneFrom]]); walk each registered clone's committed manifests
    // and pin every version dir it still references here. A pin whose
    // clone was deleted wholesale resolves to nothing (and keeps nothing
    // pinned); a lake never cross-base-cloned pays one existence check.
    val layerRoot = layerPath(layer)
    val pinsDir = new Path(layerRoot, "_CLONE_PINS")
    val crossBase: Set[String] =
      if (!f.exists(pinsDir)) Set.empty
      else f.listStatus(pinsDir).iterator.filter(_.isFile).flatMap { st =>
        val clonePath = new Path(readFully(st.getPath).trim)
        val cfs = fs(clonePath)
        if (!cfs.exists(clonePath)) Nil
        else {
          val cloneLake = new Lake(spark, config.copy(
            basePath = clonePath.getParent.toString))
          val pfx = s"${Lake.BaseRefPrefix}$layerRoot//"
          cloneLake.committedVersions(clonePath.getName)
            .flatMap(p => cloneLake.manifestOf(p)
              .map(m => m.files ++ m.dvs.values).getOrElse(Nil))
            .filter(_.startsWith(pfx))
            .flatMap(_.stripPrefix(pfx).split('/') match {
              case Array("_v", v, _*) => Some(v)
              case _ => None
            })
        }
      }.toSet
    val keepSet = kept ++ pinned ++ chainPinned ++ cloned ++ crossBase
    f.listStatus(vdir).filter(_.isDirectory).map(_.getPath)
      // underscore dirs are PROTOCOL metadata, never version candidates
      // (`_COPY_LEDGER` holds relocated COPY INTO ledgers — reclaiming
      // it would re-ingest on retried COPY INTO)
      .filterNot(_.getName.startsWith("_"))
      .filterNot(p => keepSet.contains(p.getName))
      .filter { p =>
        if (committedSet.contains(p.getName)) true // superseded snapshot
        else now - newestMtimeUnder(p) >= orphanGraceMs
      }.toSeq
  }

  /** Newest modification time of any FILE under `dir`, recursively. The
    * directory's own mtime is NOT the recency signal: object-store "dirs"
    * report epoch-0 mtimes, and a partitioned save lands files in nested
    * subdirs without touching the top-level dir — an in-flight writer whose
    * save outlives the orphan grace would look stale by dir mtime alone and
    * be vacuumed out from under it. An empty dir (save hasn't landed a file
    * yet) and an mtime of 0 (store reports nothing trustworthy) both resolve
    * to "now", i.e. never reclaimable this pass — losing a racing writer's
    * snapshot is strictly worse than re-visiting debris next vacuum.
    */
  private def newestMtimeUnder(dir: Path): Long = {
    val f = fs(dir)
    val newest = FsListing.filesRecursive(f, dir)
      .foldLeft(0L)((m, s) => math.max(m, s.getModificationTime))
    if (newest <= 0L) System.currentTimeMillis() else newest
  }

  /** Ref _lib:198-233: lake write + catalog publish. The reference writes the
    * data TWICE (delta `save` + hive `saveAsTable`, recomputing the plan);
    * here the second copy is a metastore-managed table written once from the
    * (already narrow) frame. Works against Hive or the in-memory catalog.
    * Overwrite mode routes the path copy through the atomic snapshot
    * protocol, so layer readers never see a partial publish.
    */
  def writeAndPublish(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil, mode: String = "overwrite"): String = {
    // case-insensitive like DataFrameWriter.mode — "Overwrite" must not
    // silently fall through to the non-atomic flat path
    val path =
      if (mode.equalsIgnoreCase("overwrite")) writeAtomic(df, layer, partitionBy)
      else write(df, layer, partitionBy, mode)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${config.database}")
    df.write.format(config.format).mode(SaveMode.valueOf(mode.capitalize))
      .saveAsTable(s"${config.database}.$table")
    path
  }
}

object Lake {
  /** Layer property holding the declared clustering keys (csv). */
  val ClusterByProp = "lake.clusterBy"

  /** Marker text of the REPLACE WHERE per-row write gate's assert — the
    * catch in [[Lake.overwriteWhere]] keys on it to re-surface a task
    * failure as the loud contract refusal.
    */
  private[io] val ReplaceWhereGateMarker: String =
    "REPLACE WHERE write gate: a written row violates the replace predicate"

  /** The exception's cause chain (self first), cycle-safe. */
  private[io] def causeChain(e: Throwable): Seq[Throwable] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var cur = e
    while (cur != null && !buf.exists(_ eq cur)) {
      buf += cur; cur = cur.getCause
    }
    buf.toSeq
  }

  /** `col(name) IN (values…)` with SQL-correct null handling: null
    * membership becomes an `isNull` disjunct (a plain IN never matches
    * null), an all-null value set is just the `isNull`, an empty set is
    * `false`. Both shapes evaluate against per-file stats
    * ([[FileStats.matches]] handles In/InSet and IsNull).
    */
  private[io] def inSetPredicate(name: String,
      values: Seq[Any]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val nonNull = values.filter(_ != null)
    val in = if (nonNull.isEmpty) lit(false) else col(name).isin(nonNull: _*)
    if (values.exists(_ == null)) in || col(name).isNull else in
  }

  /** Deterministic tuple digest over `cols` as a Column — md5 over
    * length-prefixed string renderings (`len:value`, null → `~`; the
    * length prefix makes the concatenation injective, so distinct tuples
    * can never collide textually). Used for composite-key tuple
    * membership as ONE `isin` instead of an N-term OR chain; both sides
    * of a membership test must compute it with THIS expression so the
    * string rendering agrees by construction.
    */
  private[io] def tupleDigestExpr(
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, length,
      lit, md5}
    md5(concat(cols.map { c =>
      val s = col(c).cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("~"))
    }: _*))
  }

  /** JVM-global positive cache of committed snapshot dirs (absolute path
    * string → known committed). Sound because committedness, once true, is
    * immutable — and version names are millis+uuid, so a dropped-and-
    * recreated layer can never mint a colliding path. LRU-bounded; shared
    * across [[Lake]] instances (the catalog mints one per call, so an
    * instance-level cache would never warm).
    */
  private val committedCache = new LruCache[String, java.lang.Boolean](65536)

  private[io] def committedCacheContains(key: String): Boolean =
    committedCache.contains(key)

  private[io] def committedCacheAdd(key: String): Unit =
    committedCache.put(key, java.lang.Boolean.TRUE)

  /** JVM-global incremental COPY INTO ledger: layer root → (version names
    * already scanned for a `_COPY` marker, union of loaded staging
    * files). Sound because a committed version's `_COPY` content is
    * immutable (written inside the snapshot dir BEFORE the marker), so a
    * scanned version never needs re-reading — a steady ingestion loop
    * pays O(new versions) marker probes per call instead of O(history).
    * Bounded; eviction only costs a rescan.
    */
  private val copyLedgerCache =
    new LruCache[String, (Set[String], Set[String])](256)

  private[io] def copyLedgerGet(layerKey: String): (Set[String], Set[String]) =
    copyLedgerCache.get(layerKey)
      .getOrElse((Set.empty[String], Set.empty[String]))

  private[io] def copyLedgerPut(layerKey: String,
      scanned: Set[String], loaded: Set[String]): Unit =
    copyLedgerCache.put(layerKey, (scanned, loaded))

  /** Dropping a layer must drop its cached ledger — a table recreated at
    * the same path starts with a blank loading history. */
  private[io] def copyLedgerInvalidate(layerKey: String): Unit =
    copyLedgerCache.remove(layerKey)

  /** Serialized `_METRICS` commit document (DESCRIBE HISTORY's
    * operationMetrics + operationParameters + commit instant): file
    * deltas and the wall-clock commit time always, row count only when
    * the stats harvest supplied it, operation parameters (predicate
    * text, merge keys, …) when the operation declared any. The wall
    * clock is recorded separately from the version id because the
    * ordering-floored mint may deliberately name a version AHEAD of the
    * writer's clock — history should still report when the commit
    * actually happened.
    */
  private[io] def metricsJson(addedFiles: Int, removedFiles: Int,
      addedRows: Option[Long],
      params: Map[String, String] = Map.empty): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val p =
      if (params.isEmpty) ""
      else params.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(""","params":{""", ",", "}")
    s"""{"numAddedFiles":$addedFiles,"numRemovedFiles":$removedFiles""" +
      s""","commitTimeMs":${System.currentTimeMillis()}""" +
      addedRows.map(r => s""","numAddedRows":$r""").getOrElse("") + p + "}"
  }

  /** Parse of [[metricsJson]]; None on absent/garbled fields (foreign
    * writers) — history shows null, never a wrong number. The params
    * object is surfaced as its RAW JSON text (display/audit payload,
    * not re-parsed into typed fields).
    */
  private[io] def parseMetrics(body: String)
      : (Option[Long], Option[Long], Option[Long], Option[Long],
        Option[String]) = {
    def field(name: String): Option[Long] =
      (s""""$name"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(body))
        .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)
    val params = """"params"\s*:\s*(\{.*\})\s*\}\s*$""".r
      .findFirstMatchIn(body).map(_.group(1))
    (field("numAddedFiles"), field("numRemovedFiles"),
      field("numAddedRows"), field("commitTimeMs"), params)
  }

  /** Layer property naming WRITER features every committer must support
    * (see `Lake.requireWriterFeatures`). */
  val WriterFeaturesProp = "lake.requiredWriterFeatures"

  /** Writer features THIS build understands — everything its commit gates
    * implement. A future build adding a property-borne write-side
    * semantic declares it in [[WriterFeaturesProp]] so older engines
    * refuse to commit instead of silently skipping the rule.
    */
  val SupportedWriterFeatures: Set[String] = Set(
    "constraints", "generated", "defaults", "identity", "clusterBy",
    "bloomIndex", "rowTracking", "deletionVectors", "columnMapping",
    "variant", "copyLedger", "txnLedger")

  /** Manifest-rel prefix of a CROSS-BASE file reference (see
    * [[Lake.resolveRel]]): `base:<source layer root>//<within-layer rel>`.
    */
  val BaseRefPrefix = "base:"

  /** Table property recording a layer's declared vector clustering —
    * written by [[Lake.clusterByVector]]; plain [[Lake.compact]]
    * re-applies the clustered layout when it is set (liquid
    * clustering's declaration role, embedding-space edition).
    */
  val ClusterByVectorProp = "lake.clusterByVector"

  /** Snapshot-dir marker listing the staging files a [[Lake.copyInto]]
    * commit loaded (newline-joined qualified paths) — the idempotency
    * ledger, committed atomically with the data.
    */
  val CopyMarker = "_COPY"

  /** Dir under `_v/` holding relocated COPY INTO ledgers of vacuumed
    * versions (see `Lake.vacuumKeeping`). */
  val CopyLedgerDirName = "_COPY_LEDGER"

  /** Split a cross-base ref (`base:<root>//<rel>`, prefix optional) at
    * the LAST `//`. The within-layer rel never holds an empty path
    * segment, while a scheme-qualified root (`file:///tmp/lake`,
    * `hdfs://nn/lake`, `s3a://bucket/lake`) contains `//` right after
    * its scheme — splitting on the FIRST occurrence would land inside
    * the scheme and mangle every resolved path (and register vacuum
    * pins under a bogus root). Returns (source layer root, rel).
    */
  def splitBaseRef(ref: String): (String, String) = {
    val body =
      if (ref.startsWith(BaseRefPrefix)) ref.substring(BaseRefPrefix.length)
      else ref
    val cut = body.lastIndexOf("//")
    require(cut > 0, s"malformed cross-base ref '$ref' (no `//` split)")
    (body.substring(0, cut), body.substring(cut + 2))
  }

  /** The stable row-id column row tracking surfaces (and the hidden
    * physical column rewrites materialize) — Delta's `_metadata.row_id`
    * role. Reserved on row-tracking layers.
    */
  val RowIdCol = "_row_id"

  /** An IDENTITY column declaration (Delta's
    * `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY (START WITH start
    * INCREMENT BY step)`).
    */
  final case class Identity(start: Long, step: Long,
      allowExplicitInsert: Boolean)

  /** Smallest start-aligned value STRICTLY beyond `seen` in step
    * direction (the identity watermark re-seed after explicit values):
    * `start + k*step` with k minimal such that the result passes `seen`.
    */
  def alignBeyond(seen: Long, start: Long, step: Long): Long =
    if (step > 0) {
      if (seen < start) start
      else start + ((seen - start) / step + 1) * step
    } else {
      if (seen > start) start
      else start + ((seen - start) / step + 1) * step
    }

  /** Prefix under which [[Lake.mergeApply]] exposes SOURCE columns to
    * matched-clause conditions and UPDATE assignments (target columns
    * keep their own names): `srcCol("price")` is the programmatic
    * `s.price`. The prefix is reserved on merge sources.
    */
  val SrcColPrefix = "__src_"

  /** The merge source's `name` column, for use inside
    * [[Lake.mergeApply]] matched-clause conditions/assignments. */
  def srcCol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(SrcColPrefix + name)

  /** One action of [[Lake.mergeApply]]'s clause matrix (Delta's MERGE
    * WHEN clauses). Update/insert assignment maps are target-column →
    * value; matched-context values may reference source columns via
    * [[srcCol]]; insert values evaluate against the source frame (plain
    * source column names); by-source actions evaluate against target
    * rows only (plain target column names).
    */
  sealed trait MergeAction
  /** UPDATE SET <assignments> (matched or not-matched-by-source). */
  final case class MergeUpdate(
      set: Map[String, org.apache.spark.sql.Column]) extends MergeAction
  /** UPDATE SET * — every target column takes the source's value. */
  case object MergeUpdateStar extends MergeAction
  /** DELETE (matched or not-matched-by-source). */
  case object MergeDelete extends MergeAction
  /** INSERT (cols) VALUES (exprs) — unlisted target columns get NULL. */
  final case class MergeInsert(
      values: Map[String, org.apache.spark.sql.Column]) extends MergeAction
  /** INSERT * — the whole source row. */
  case object MergeInsertStar extends MergeAction

  /** A WHEN clause: optional AND-condition + action. Clauses of a group
    * apply FIRST-MATCH-WINS in declaration order (Delta semantics); only
    * the last clause of a group may omit its condition.
    */
  final case class MergeClause(
      condition: Option[org.apache.spark.sql.Column], action: MergeAction)

  /** Is this manifest rel a reference into ANOTHER layer (same-lake
    * sibling `../…` or cross-base `base:…`)? Foreign rels opt out of DV
    * commits and bloom indexing, and route stats/scan paths through
    * [[Lake.resolveRel]].
    */
  def isForeignRel(rel: String): Boolean =
    rel.startsWith("../") || rel.startsWith(BaseRefPrefix)

  /** [[Lake.pruneInfo]] result: how much of the layer a predicate's
    * sidecar pruning keeps (row counts are upper bounds from file stats,
    * not the filtered result size).
    */
  final case class PruneInfo(keptFiles: Int, totalFiles: Int,
      keptRows: Long, totalRows: Long)

  /** [[Lake.deleteWhere]]/[[Lake.updateWhere]] outcome: how many files the
    * predicate forced through the rewrite vs rode the manifest by
    * reference. `noop` = stats proved no file could match, so no new
    * snapshot was committed (`snapshot` is then the UNCHANGED current one).
    */
  final case class RowOpResult(snapshot: String, rewrittenFiles: Int,
      carriedFiles: Int, noop: Boolean = false)

  /** [[Lake.appendDeduped]] outcome: `snapshot` is None when every batch
    * row was a near-duplicate (nothing landed, no commit);
    * `droppedInBatch` counts rows shed by the intra-batch keep-min-id
    * pass, `droppedVsCorpus` rows shed against the existing corpus.
    */
  final case class AppendDedupResult(snapshot: Option[String],
      landed: Long, droppedInBatch: Long, droppedVsCorpus: Long)

  /** [[Lake.rowLevelSnapshot]] result — everything a v2 group-based
    * row-level scan/write pair needs, pinned at scan-build time:
    * `affectedSizes` = (layer-relative path, byte size) of every file the
    * scan reads whole and the commit replaces; `readSchema` = logical
    * data columns (declared order) with partition columns moved to the
    * end (the order the parquet reader emits); `physicalDataSchema` = the
    * same data columns under their physical (column-mapping) names.
    */
  final case class RowLevelSnapshot(parent: String, base: String,
      inventory: Seq[String], affectedSizes: Seq[(String, Long)],
      logicalSchema: org.apache.spark.sql.types.StructType,
      physicalDataSchema: org.apache.spark.sql.types.StructType,
      readSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String], mapping: Map[String, String],
      constraints: Seq[(String, String)],
      generated: Seq[(String, String)] = Nil) {
    def affected: Seq[String] = affectedSizes.map(_._1)
  }

  /** [[Lake.describeDetail]] result — Delta's `DESCRIBE DETAIL` shape:
    * physical metadata of the CURRENT snapshot. `createdAtMs` /
    * `lastModifiedMs` come from the oldest / newest committed version ids
    * (zero-padded epoch millis) for snapshot layers, file mtimes for flat
    * ones; `numVersions` is 0 for flat layers.
    */
  final case class LayerDetail(format: String, location: String,
      numFiles: Long, sizeInBytes: Long, partitionColumns: Seq[String],
      numVersions: Int, numDeletionVectors: Int, createdAtMs: Long,
      lastModifiedMs: Long, properties: Map[String, String])
}

/** Raw landing-zone put — ref S8 (`dbutils.fs.put` of the raw API JSON,
  * docs/pipeline_overview.md:36): write the unparsed payload beside the
  * bronze table for replay/audit.
  */
object RawLanding {
  def put(basePath: String, name: String, body: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(basePath, "raw")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(name), body)
  }
}

/** Bronze-shaped JSON source — the fixture-file stand-in for the reference's
  * NewsAPI fetch (01_bronze_ingestion_news_articles.py:16-23). Reading with
  * an EXPLICIT schema (never inferred) mirrors the reference's hand-written
  * StructType and is null-safe for missing keys.
  */
object JsonSource {
  def readArticles(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.bronzeRaw).json(path)

  /** In-memory variant for tests / driver-side API payloads: JSON lines
    * already fetched (the reference materializes the API page on the driver;
    * same crossing, then distributed parse).
    */
  def fromJsonLines(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.bronzeRaw).json(lines.toDS())
  }
}
