package newspipe.io

import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Inventory of a MANIFEST (row-op) snapshot: the explicit list of data
  * files the snapshot consists of, paths RELATIVE TO THE LAYER ROOT — a
  * row-level delete rewrites only the files holding matching rows, so the
  * snapshot's untouched files keep living in OLDER version directories and
  * a directory walk of the snapshot dir would see only the rewritten
  * fraction. The recorded schema (as Catalyst DDL) makes the zero-files
  * snapshot (every row deleted) readable as an empty frame instead of a
  * schema-inference failure.
  *
  * Written as `_MANIFEST.json` beside `_STATS.json` inside the version
  * directory, BEFORE the `_COMMITTED` marker — same commit discipline as
  * the stats sidecar, so a committed snapshot either has a complete
  * manifest or none (self-contained). The `_` prefix hides it from Spark's
  * file listing and from [[Lake]]'s own inventory walks.
  *
  * === Sharding ===
  *
  * Up to `shardSize` paths the inventory is INLINE in `_MANIFEST.json`
  * (one read, the overwhelmingly common case). Beyond it, the head
  * document records `{"shards": N, "count": …}` and the paths land in
  * `_MANIFEST-00000.json … _MANIFEST-0000(N-1).json`, `shardSize` paths
  * each — so no single driver-side JSON parse ever exceeds ~`shardSize` ×
  * ~100 bytes regardless of layer size. At 10⁶ files (a 128 TB layer at
  * 128 MB/file) that is ~31 bounded parses of ~3 MB instead of one
  * ~100 MB string, and the shard files are written before the head (a
  * head naming N shards implies all N exist — same
  * complete-or-absent commit discipline). The driver still holds the
  * materialized path list (~100 bytes/file) while operating on a
  * snapshot; [[Lake.compact]] is the escape hatch that keeps file counts
  * (and with them this list) bounded — see SCALE.md for the budget table.
  *
  * This is the lake's delta-log-lite: Delta records add/remove actions per
  * commit and replays the log; here each manifest IS the fully-resolved
  * file set (no replay, one-plus-shards JSON reads), trading log
  * compaction machinery for a driver-side file list.
  */
/** @param dvs deletion vectors: data-file rel path → the DV payload
  *   document (also layer-root-relative, inside some version dir) that
  *   holds the file's deleted row positions. Absent for files with no
  *   deleted rows — the overwhelmingly common case; the map lives inline
  *   in the head document because its size is bounded by DV discipline
  *   (compaction materializes DVs and empties the map), not by layer size.
  * @param mapping COLUMN MAPPING (Delta's columnMapping.mode=name shape):
  *   logical (user-facing, in `schemaDdl`) column name → the PHYSICAL
  *   name the data files carry. Populated by [[Lake.renameColumn]];
  *   unmapped columns have physical == logical. Size bounded by schema
  *   width, lives in the head.
  * @param dropped physical names of columns removed by
  *   [[Lake.dropColumn]] that may still exist inside carried data files —
  *   schema evolution refuses to re-add a column under one of these names
  *   (the old files would resurrect stale values instead of reading
  *   null); compaction rewrites the files and clears the list.
  */
/** @param rowBases ROW TRACKING (Delta's row-tracking feature): data-file
  *   rel path → the file's base row id. A row's stable id is
  *   `base + ordinal-in-file` for freshly written files, or the
  *   materialized hidden `_row_id` column a rewrite carried (rewrites
  *   reorder rows, so position-derived ids must be pinned physically).
  *   Serialized as an array ALIGNED with `files` (and per-shard in the
  *   sharded form) so a 10⁶-file checkpoint pays ~10 bytes/entry, not a
  *   repeated path key; absent entries encode as -1. Empty map = row
  *   tracking off.
  * @param rowWatermark first UNALLOCATED row id — the next commit's
  *   fresh files allocate `[watermark, watermark + rows)` ranges from
  *   here, which is what makes ids unique across the layer's whole
  *   history without coordination.
  * @param idHighs IDENTITY column high watermarks: column name → the
  *   next UNALLOCATED identity value (start+step-aligned). Bounded by
  *   the number of identity columns (O(1)), recorded in full in every
  *   commit document like mapping/dropped; advanced at commit time from
  *   the added files' column stats, so explicit inserts (BY DEFAULT
  *   mode) bump it too and can never cause a future collision.
  */
/** @param features protocol features a reader MUST understand to serve
  *   this snapshot correctly (Delta's readerFeatures role). The writer
  *   derives the content-borne ones automatically at serialization
  *   ([[ProtocolFeatures.derive]]); this field carries any EXTRA declared
  *   features, and parsing REFUSES a document naming a feature outside
  *   [[ProtocolFeatures.Supported]] — an older build reading a
  *   newer-featured layer fails loudly at the protocol layer instead of
  *   silently misreading (resurrecting DV'd rows, reading physical column
  *   names, double-allocating row ids).
  */
final case class SnapshotManifest(files: Seq[String], schemaDdl: String,
    dvs: Map[String, String] = Map.empty,
    mapping: Map[String, String] = Map.empty,
    dropped: Seq[String] = Nil,
    rowBases: Map[String, Long] = Map.empty,
    rowWatermark: Long = 0L,
    idHighs: Map[String, Long] = Map.empty,
    features: Seq[String] = Nil) {
  /** Read schema (LOGICAL names) for the empty-manifest case. */
  def schema: StructType = StructType.fromDDL(schemaDdl)
}

/** Protocol feature gates (Delta's minReader/readerFeatures role, on the
  * feature-set model): every commit document records which protocol
  * features its content requires of a reader; parsing any document that
  * names a feature this build does not know refuses loudly. Existing
  * feature-free layers record nothing and are unaffected.
  */
object ProtocolFeatures {
  /** Reader features THIS build understands. */
  val Supported: Set[String] = Set(
    "columnMapping",   // logical→physical name mapping + dropped ghosts
    "deletionVectors", // soft-deleted row positions filtered at read
    "rowTracking",     // stable row ids (bases + materialized _row_id)
    "identity",        // identity high watermarks (write-side, but a
                       //   reader-visible manifest field)
    "variant")         // VARIANT columns in the recorded schema

  /** The features a manifest's CONTENT requires — derived, so every
    * construction site stays feature-oblivious. */
  def derive(m: SnapshotManifest): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (m.mapping.nonEmpty || m.dropped.nonEmpty) b += "columnMapping"
    if (m.dvs.nonEmpty) b += "deletionVectors"
    if (m.rowBases.nonEmpty || m.rowWatermark > 0L) b += "rowTracking"
    if (m.idHighs.nonEmpty) b += "identity"
    if (ddlHasVariant(m.schemaDdl)) b += "variant"
    b.result()
  }

  def derive(d: DeltaDoc): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (d.mapping.nonEmpty || d.dropped.nonEmpty) b += "columnMapping"
    if (d.dvSet.nonEmpty) b += "deletionVectors"
    if (d.addBases.nonEmpty || d.rowWatermark > 0L) b += "rowTracking"
    if (d.idHighs.nonEmpty) b += "identity"
    if (ddlHasVariant(d.schemaDdl)) b += "variant"
    b.result()
  }

  /** VARIANT detection by PARSING the DDL (a backquoted column literally
    * named VARIANT must not trip it). Nested variants count — any reader
    * that can't decode the type misreads the file. */
  private def ddlHasVariant(ddl: String): Boolean = {
    def has(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f => has(f.dataType))
      case org.apache.spark.sql.types.ArrayType(e, _) => has(e)
      case org.apache.spark.sql.types.MapType(k, v, _) => has(k) || has(v)
      case other => other == org.apache.spark.sql.types.VariantType
    }
    try has(StructType.fromDDL(ddl))
    catch { case scala.util.control.NonFatal(_) => false }
  }

  def refuseUnknown(feats: Seq[String], where: String): Unit = {
    val unknown = feats.filterNot(Supported)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"$where requires protocol feature(s) ${unknown.mkString(", ")} " +
        s"this build does not support (supported: " +
        s"${Supported.toSeq.sorted.mkString(", ")}) — upgrade the engine " +
        "to read this table")
  }

  private[io] def featuresOf(root: JValue): Seq[String] =
    (root \ "features") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }

  private[io] def featuresField(feats: Seq[String]): List[(String, JValue)] =
    if (feats.isEmpty) Nil
    else List("features" -> JArray(
      feats.distinct.sorted.toList.map(s => JString(s): JValue)))
}

object SnapshotManifest {
  val FileName = "_MANIFEST.json"

  /** Default paths-per-shard: keeps every single JSON document ≲ 3 MB. */
  val DefaultShardSize = 32 * 1024

  def shardName(i: Int): String = f"_MANIFEST-$i%05d.json"

  private def filesArray(files: Seq[String]): JValue =
    JArray(files.toList.map(JString(_)))

  private def dvsObject(dvs: Map[String, String]): List[(String, JValue)] =
    if (dvs.isEmpty) Nil
    else List("dvs" -> JObject(
      dvs.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }))

  private def mappingFields(m: SnapshotManifest): List[(String, JValue)] = {
    val mp = if (m.mapping.isEmpty) Nil
      else List("mapping" -> JObject(
        m.mapping.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }))
    val dr = if (m.dropped.isEmpty) Nil
      else List("dropped" -> JArray(m.dropped.toList.map(JString(_))))
    mp ++ dr
  }

  /** `rowBases` aligned with a files group (-1 = no base recorded). */
  private def basesArray(files: Seq[String],
      bases: Map[String, Long]): JValue =
    JArray(files.toList.map(f => JInt(BigInt(bases.getOrElse(f, -1L)))))

  private def trackingFields(m: SnapshotManifest): List[(String, JValue)] = {
    val wm = if (m.rowBases.isEmpty && m.rowWatermark == 0L) Nil
      else List("rowWatermark" -> (JInt(m.rowWatermark): JValue))
    val ih = if (m.idHighs.isEmpty) Nil
      else List("idHighs" -> (JObject(m.idHighs.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JInt(BigInt(v)): JValue) }): JValue))
    wm ++ ih
  }

  /** Serialize as (head document, shard documents). Inline (no shards)
    * up to `shardSize` paths; sharded head carries the shard count and
    * total for integrity instead of the list. The dv map stays in the
    * head in both forms.
    */
  def toJsonSharded(m: SnapshotManifest,
      shardSize: Int = DefaultShardSize): (String, Seq[String]) = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val tracked = m.rowBases.nonEmpty
    val feats = ProtocolFeatures.featuresField(
      m.features ++ ProtocolFeatures.derive(m))
    if (m.files.size <= shardSize)
      (JsonMethods.compact(JsonMethods.render(JObject(List(
        "version" -> JInt(1),
        "schemaDdl" -> JString(m.schemaDdl),
        "files" -> filesArray(m.files)) ++ feats ++
        (if (tracked) List("rowBases" -> basesArray(m.files, m.rowBases))
         else Nil) ++ trackingFields(m) ++ dvsObject(m.dvs)
        ++ mappingFields(m)))), Nil)
    else {
      val groups = m.files.grouped(shardSize).toSeq
      val head = JsonMethods.compact(JsonMethods.render(JObject(List(
        "version" -> JInt(2),
        "schemaDdl" -> JString(m.schemaDdl),
        "count" -> JInt(m.files.size),
        "shards" -> JInt(groups.size)) ++ feats ++ trackingFields(m)
        ++ dvsObject(m.dvs) ++ mappingFields(m))))
      (head, groups.map(g =>
        JsonMethods.compact(JsonMethods.render(JObject(List(
          "files" -> filesArray(g)) ++
          (if (tracked) List("rowBases" -> basesArray(g, m.rowBases))
           else Nil))))))
    }
  }

  /** Inline-form serialization (tests / tooling); sharded writes go
    * through [[toJsonSharded]].
    */
  def toJson(m: SnapshotManifest): String = toJsonSharded(m, Int.MaxValue)._1

  private def filesOf(root: JValue, where: String): List[String] =
    (root \ "files") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case other => throw new IllegalArgumentException(
        s"$where missing files array (got $other)")
    }

  /** Parse a head document, pulling shard bodies through `readShard` when
    * the head is the sharded form. Verifies the reassembled count against
    * the head's recorded total — a missing/truncated shard fails loudly,
    * never silently narrows the inventory (which would make [[Lake.diff]]
    * report phantom deletes and vacuum reclaim LIVE files).
    */
  /** Aligned rowBases array of one document, zipped back over its files
    * (-1 entries drop out). Empty when the document carries none.
    */
  private def basesOf(root: JValue,
      files: Seq[String]): Map[String, Long] = (root \ "rowBases") match {
    case JArray(xs) =>
      require(xs.size == files.size,
        s"rowBases array (${xs.size}) does not align with files " +
          s"(${files.size}) — corrupted manifest document")
      files.zip(xs).collect {
        case (f, JInt(b)) if b >= 0 => f -> b.toLong
      }.toMap
    case _ => Map.empty
  }

  def read(headJson: String, readShard: Int => String): SnapshotManifest = {
    val root = JsonMethods.parse(headJson)
    // feature gate FIRST: refuse before interpreting any other field
    val features = ProtocolFeatures.featuresOf(root)
    ProtocolFeatures.refuseUnknown(features, FileName)
    val ddl = (root \ "schemaDdl") match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"$FileName missing schemaDdl (got $other)")
    }
    val dvs: Map[String, String] = (root \ "dvs") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
    val mapping: Map[String, String] = (root \ "mapping") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
    val dropped: Seq[String] = (root \ "dropped") match {
      case JArray(xs) => xs.collect { case JString(v) => v }
      case _ => Nil
    }
    val watermark: Long = (root \ "rowWatermark") match {
      case JInt(w) => w.toLong
      case _ => 0L
    }
    val idHighs: Map[String, Long] = (root \ "idHighs") match {
      case JObject(fields) => fields.collect {
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => Map.empty
    }
    (root \ "shards") match {
      case JInt(n) =>
        val expected = (root \ "count") match {
          case JInt(c) => c.toLong
          case _ => throw new IllegalArgumentException(
            s"sharded $FileName missing count")
        }
        val parts = (0 until n.toInt).map { i =>
          val shardRoot = JsonMethods.parse(readShard(i))
          val fs = filesOf(shardRoot, shardName(i))
          (fs, basesOf(shardRoot, fs))
        }
        val files = parts.flatMap(_._1)
        require(files.size.toLong == expected,
          s"sharded $FileName reassembled ${files.size} paths but the head " +
            s"records $expected — a shard is missing or truncated")
        SnapshotManifest(files, ddl, dvs, mapping, dropped,
          parts.flatMap(_._2).toMap, watermark, idHighs, features)
      case _ =>
        val files = filesOf(root, FileName)
        SnapshotManifest(files, ddl, dvs, mapping, dropped,
          basesOf(root, files), watermark, idHighs, features)
    }
  }

  /** Inline-form parse (legacy + tooling). */
  def fromJson(json: String): SnapshotManifest =
    read(json, _ => throw new IllegalStateException(
      "fromJson cannot read sharded manifests — use read(head, readShard)"))
}

/** INCREMENTAL commit document (`_DELTA.json`) — Delta's add/remove-action
  * log entry re-expressed on the manifest protocol: a commit that changes
  * a small fraction of a large inventory records only the CHANGE against
  * its parent, making commit cost O(increment) instead of O(total files).
  * Readers fold the chain: walk `parent` pointers down to the nearest
  * CHECKPOINT (a version with a full `_MANIFEST.json` — or a
  * self-contained snapshot, whose directory is its inventory), then apply
  * each delta's remove/add (and dvUnset/dvSet) oldest-first. Schema,
  * column mapping, and dropped-columns are recorded IN FULL in every
  * delta (bounded by schema width, so they cost O(1), and the fold never
  * depends on older schema state). [[Lake]] writes a checkpoint whenever
  * the chain would exceed the layer's `lake.checkpointInterval` (bounding
  * fold depth) or the change touches a large fraction of the inventory
  * (OPTIMIZE/overwrite/restore — a delta would be bigger than the full
  * list).
  *
  * @param parent version id the delta applies to (also recorded in
  *   `_COMMITTED`, but kept here so the fold works on the staged doc and
  *   survives commit-marker ordering)
  * @param chain  number of consecutive delta commits since the last
  *   checkpoint, THIS one included — the writer's O(1) cadence counter
  * @param count  folded inventory size — integrity check: a truncated or
  *   mis-parented fold fails loudly instead of silently narrowing the
  *   inventory (vacuum would reclaim live files)
  */
/** @param addBases row-tracking base ids of THIS commit's added files
  *   (aligned with `add` in serialized form); carried files keep their
  *   checkpoint/fold entries. Empty when tracking is off.
  * @param rowWatermark post-commit first unallocated row id (0 = off).
  */
final case class DeltaDoc(parent: String, chain: Int, count: Int,
    schemaDdl: String, add: Seq[String], remove: Seq[String],
    dvSet: Map[String, String] = Map.empty, dvUnset: Seq[String] = Nil,
    mapping: Map[String, String] = Map.empty, dropped: Seq[String] = Nil,
    addBases: Map[String, Long] = Map.empty, rowWatermark: Long = 0L,
    idHighs: Map[String, Long] = Map.empty)

object DeltaDoc {
  val FileName = "_DELTA.json"

  private def arr(xs: Seq[String]): JValue = JArray(xs.toList.map(JString(_)))
  private def obj(m: Map[String, String]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })

  def toJson(d: DeltaDoc): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "version" -> JInt(1),
      "parent" -> JString(d.parent),
      "chain" -> JInt(d.chain),
      "count" -> JInt(d.count),
      "schemaDdl" -> JString(d.schemaDdl),
      "add" -> arr(d.add),
      "remove" -> arr(d.remove)) ++
      ProtocolFeatures.featuresField(ProtocolFeatures.derive(d)) ++
      (if (d.dvSet.isEmpty) Nil else List("dvSet" -> obj(d.dvSet))) ++
      (if (d.dvUnset.isEmpty) Nil else List("dvUnset" -> arr(d.dvUnset))) ++
      (if (d.mapping.isEmpty) Nil else List("mapping" -> obj(d.mapping))) ++
      (if (d.dropped.isEmpty) Nil
       else List("dropped" -> arr(d.dropped))) ++
      (if (d.addBases.isEmpty && d.rowWatermark == 0L) Nil
       else List(
         "addBases" -> (JArray(d.add.toList.map(f =>
           JInt(BigInt(d.addBases.getOrElse(f, -1L))))): JValue),
         "rowWatermark" -> (JInt(d.rowWatermark): JValue))) ++
      (if (d.idHighs.isEmpty) Nil
       else List("idHighs" -> (JObject(d.idHighs.toList.sortBy(_._1)
         .map { case (k, v) => k -> (JInt(BigInt(v)): JValue) }): JValue))))))

  def fromJson(json: String): DeltaDoc = {
    val root = JsonMethods.parse(json)
    // feature gate FIRST: refuse before interpreting any other field
    ProtocolFeatures.refuseUnknown(ProtocolFeatures.featuresOf(root),
      FileName)
    def str(k: String): String = (root \ k) match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"$FileName missing $k (got $other)")
    }
    def int(k: String): Int = (root \ k) match {
      case JInt(n) => n.toInt
      case other => throw new IllegalArgumentException(
        s"$FileName missing $k (got $other)")
    }
    def strs(k: String): Seq[String] = (root \ k) match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def strMap(k: String): Map[String, String] = (root \ k) match {
      case JObject(fields) => fields.collect {
        case (n, JString(v)) => n -> v
      }.toMap
      case _ => Map.empty
    }
    val add = strs("add")
    val addBases: Map[String, Long] = (root \ "addBases") match {
      case JArray(xs) =>
        require(xs.size == add.size,
          s"$FileName addBases (${xs.size}) does not align with add " +
            s"(${add.size})")
        add.zip(xs).collect {
          case (f, JInt(b)) if b >= 0 => f -> b.toLong
        }.toMap
      case _ => Map.empty
    }
    val watermark: Long = (root \ "rowWatermark") match {
      case JInt(w) => w.toLong
      case _ => 0L
    }
    val idHighs: Map[String, Long] = (root \ "idHighs") match {
      case JObject(fields) => fields.collect {
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => Map.empty
    }
    DeltaDoc(str("parent"), int("chain"), int("count"), str("schemaDdl"),
      add, strs("remove"), strMap("dvSet"), strs("dvUnset"),
      strMap("mapping"), strs("dropped"), addBases, watermark, idHighs)
  }
}
