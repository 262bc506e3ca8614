package newspipe.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The vector index family ([[IndexArtifacts]] holds the shared layout,
  * content addressing and coverage contract): one ANN shard per data
  * file under `layer/_vindex/<name>/shards/<digest>.ann`, plus routing
  * segments (below). Searches read only the artifacts, one task per
  * shard with the queries broadcast; a file without an artifact, or
  * carrying deletion vectors, is searched by an exact scan of that file.
  */
object VectorIndex extends IndexArtifacts {

  /** A declared index. `kind` is `hnsw` (per-file graphs; `m` /
    * `efConstruction` are the build parameters), `ivf` (per-file
    * IVF-Flat cells — [[newspipe.ops.IvfFlat]]; `nlist` cells at build,
    * `nprobe` probed at search), or `pq` (per-file product-quantization
    * codes — [[newspipe.ops.PqShard]]; `pqM` subspaces × `pqK ≤ 256`
    * centroids; search = ADC shortlist + exact refine). Parameters are
    * baked into every shard — changing them means a new index.
    */
  final case class Meta(name: String, kind: String, idCol: String,
      vecCol: String, m: Int, efConstruction: Int,
      nlist: Int = 64, nprobe: Int = 8, pqM: Int = 8, pqK: Int = 256)

  val Kinds: Set[String] = Set("hnsw", "ivf", "pq")

  val Family = "vector"
  val DirName = "_vindex"
  val Ext = ".ann"

  def nameOf(m: Meta): String = m.name
  def keyedColumns(m: Meta): Seq[String] = Seq(m.idCol, m.vecCol)

  /** Excluded: a search has no verification leg, so a graph would
    * resurrect deleted rows as neighbors.
    */
  val dvFilesCovered = false

  /** An hnsw→ivf swap crashes the deserializer mid-task and a different
    * `m`/`efConstruction` silently changes recall; `nprobe` is
    * search-time-only (a clone may probe differently over the same
    * cells).
    */
  def artifactCompatible(local: Meta, foreign: Meta): Boolean =
    local.kind == foreign.kind && local.idCol == foreign.idCol &&
      local.vecCol == foreign.vecCol && local.m == foreign.m &&
      local.efConstruction == foreign.efConstruction &&
      (local.kind != "ivf" || local.nlist == foreign.nlist) &&
      (local.kind != "pq" ||
        (local.pqM == foreign.pqM && local.pqK == foreign.pqK))

  def toJson(m: Meta): String = {
    val q = IndexArtifacts.quote _
    s"""{"name": ${q(m.name)}, "kind": ${q(m.kind)}, """ +
      s""""idCol": ${q(m.idCol)}, "vecCol": ${q(m.vecCol)}, """ +
      s""""m": ${m.m}, "efConstruction": ${m.efConstruction}, """ +
      s""""nlist": ${m.nlist}, "nprobe": ${m.nprobe}, """ +
      s""""pqM": ${m.pqM}, "pqK": ${m.pqK}}"""
  }

  def fromJson(s: String): Meta = {
    def str(k: String) = IndexArtifacts.jsonString(Family, s, k)
    def num(k: String, default: Option[Int] = None): Int = {
      val re = ("\"" + k + "\"\\s*:\\s*(\\d+)").r
      re.findFirstMatchIn(s).map(_.group(1).toInt)
        .orElse(default)
        .getOrElse(throw new IllegalStateException(
          s"vector index metadata missing '$k': $s"))
    }
    Meta(str("name"), str("kind"), str("idCol"), str("vecCol"),
      num("m"), num("efConstruction"),
      nlist = num("nlist", Some(64)), nprobe = num("nprobe", Some(8)),
      pqM = num("pqM", Some(8)), pqK = num("pqK", Some(256)))
  }

  /** The per-file builder: one shard's bytes (ascending-id insertion
    * over immutable rows, so deterministic per data file) and its
    * routing summary — row count, mean of the shard's unit vectors and
    * the angular radius (min member cosine to the normalized mean). The
    * builder holds the true vectors, so the radius is a sound pruning
    * bound for every kind.
    */
  def buildShard(m: Meta, rows: Array[(Long, Array[Double])])
      : (Array[Byte], (Int, Array[Double], Double)) = {
    val bytes = m.kind match {
      case "ivf" => newspipe.ops.IvfFlat.buildShardBytes(rows, m.nlist)
      case "pq" => newspipe.ops.PqShard.buildShardBytes(rows, m.pqM, m.pqK)
      case _ => newspipe.ops.Hnsw.buildGraphBytes(rows, m.m,
        m.efConstruction)
    }
    val unit = rows.map(r => newspipe.ops.Hnsw.unitOrZero(r._2))
    val (mean, minCos) = newspipe.ops.Hnsw.meanAndMinCos(unit)
    (bytes, (unit.length, mean, minCos))
  }

  // ---- coarse shard routing ------------------------------------------------
  //
  // layer/_vindex/<name>/routing/<segId>.rtc — ROUTING SEGMENTS: tiny
  // (digest, rowCount, centroid) summaries of shard artifacts, one
  // segment per maintenance call (the FAISS-IVF / Lucene-segment idea
  // applied at the shard level). A top-k search ranks covered shards by
  // query·centroid and probes only the best `shardProbe` fraction —
  // at 10⁶ files the alternative is touching every artifact per query
  // batch. Segments are summaries, never truth: a covered shard WITHOUT
  // a routing entry is always probed (degrade = more work, never a
  // wrong base set), entries for dead digests are ignored, and a reader
  // that races a compaction just falls back to probing the shards it
  // lost entries for. Centroids are float32 (routing is approximate by
  // design; 2× smaller segments).

  val RoutingDirName = "routing"
  val RoutingExt = ".rtc"
  private val RoutingMagic = 0x4c4b5232 // "LKR2"

  /** One shard's routing summary: live row count, the UNNORMALIZED mean
    * of the shard's unit vectors (norm ≈ cluster tightness; scoring
    * normalizes), and `minCos` — the smallest cosine between any member
    * and the normalized centroid, i.e. the shard's ANGULAR RADIUS
    * (acos(minCos)). The radius makes EXACT pruning possible for
    * threshold scans: every member lies within the cap, so a query
    * whose angle to the centroid exceeds radius + acos(threshold)
    * provably has no qualifying partner in the shard (spherical
    * triangle inequality) — recall 1.0 preserved. `minCos = -1` means
    * "unknown/unbounded" (pq-kind reconstructions are lossy, so their
    * radius is not a sound bound; degenerate shards likewise) — such
    * shards are never pruned. A zero-norm centroid is treated as
    * unrouted — always probed.
    */
  final case class Route(count: Int, centroid: Array[Float],
      minCos: Float = -1f)

  def routingDir(layerPath: String, name: String): Path =
    new Path(indexRoot(layerPath, name), RoutingDirName)

  /** Serialize routing entries, digest-sorted so identical entry sets
    * produce identical bytes (concurrent maintainers of the same
    * increment write the same segment — benign race, same contract as
    * shard artifacts).
    */
  def serializeRouting(
      entries: Seq[(String, Int, Array[Double], Double)]): Array[Byte] = {
    val sorted = entries.sortBy(_._1)
    val bos = new java.io.ByteArrayOutputStream(
      16 + sorted.map(e => 44 + e._3.length * 4).sum)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(RoutingMagic)
    out.writeInt(sorted.length)
    sorted.foreach { case (digest, count, centroid, minCos) =>
      out.writeUTF(digest)
      out.writeInt(count)
      out.writeFloat(minCos.toFloat)
      out.writeInt(centroid.length)
      centroid.foreach(v => out.writeFloat(v.toFloat))
    }
    out.flush()
    bos.toByteArray
  }

  def deserializeRouting(bytes: Array[Byte]): Seq[(String, Route)] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val magic = in.readInt()
    require(magic == RoutingMagic,
      f"not a routing segment (magic 0x$magic%08x)")
    val n = in.readInt()
    Seq.fill(n) {
      val digest = in.readUTF()
      val count = in.readInt()
      val minCos = in.readFloat()
      val dim = in.readInt()
      val c = new Array[Float](dim)
      var j = 0
      while (j < dim) { c(j) = in.readFloat(); j += 1 }
      digest -> Route(count, c, minCos)
    }
  }

  /** Write one routing segment crash-safely. The segment id is the md5
    * of its bytes — identical entry sets from racing maintainers land
    * on the SAME file name with the SAME content (the rename race is
    * benign), and distinct sets never collide.
    */
  def writeRoutingSegment(f: FileSystem, layerPath: String, name: String,
      bytes: Array[Byte]): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val segId = md.digest(bytes).map("%02x".format(_)).mkString
    val dir = routingDir(layerPath, name)
    f.mkdirs(dir)
    Lake.putViaRename(f, new Path(dir, s"$segId$RoutingExt"), bytes)
  }

  /** All routing entries under one index root (digest → route; one dir
    * listing + one small read per segment). A segment deleted mid-read
    * by a racing compaction is skipped — its shards degrade to
    * always-probed, never to a missing result.
    */
  def readRoutingEntries(f: FileSystem, layerPath: String,
      name: String): Map[String, Route] = {
    val dir = routingDir(layerPath, name)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).iterator
      .filter(_.getPath.getName.endsWith(RoutingExt))
      .flatMap { st =>
        try {
          val bytes = new Array[Byte](st.getLen.toInt)
          val in = f.open(st.getPath)
          try in.readFully(bytes) finally in.close()
          deserializeRouting(bytes)
        } catch {
          // a vanished/garbled/older-format segment degrades its shards
          // to always-probed, never to a missing result
          case scala.util.control.NonFatal(_) => Nil
        }
      }.toMap
  }

  /** Segment file names under one index root (compaction's input). */
  def routingSegmentFiles(f: FileSystem, layerPath: String,
      name: String): Seq[Path] = {
    val dir = routingDir(layerPath, name)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).iterator.map(_.getPath)
      .filter(_.getName.endsWith(RoutingExt)).toSeq
  }
}
