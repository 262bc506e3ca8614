package newspipe.io

/** The near-dedup index family ([[IndexArtifacts]] holds the shared
  * layout, content addressing and coverage contract): one banded-MinHash
  * signature artifact per data file under
  * `layer/_dindex/<name>/shards/<digest>.sig`.
  *
  * Each artifact holds `(id, band, bucket)` triples, where bucket is the
  * xxhash64 of the band's signature slice ([[newspipe.ops.Dedup.lshBands]]).
  * Shingling + hashing — the expensive pass over the text — therefore
  * runs ONCE per file ever, and [[Lake.nearDups]] joins artifact against
  * artifact on `(band, bucket)` without re-reading a byte of text;
  * document text is touched again only to exact-verify the candidate
  * pairs. Signatures are ~3 orders of magnitude smaller than the text
  * they summarize, so landing a batch costs [sign the batch] + [join its
  * signatures against the persisted ones] + [verify candidates].
  */
object DedupIndex extends IndexArtifacts {

  /** A declared index. `numHashes`/`bands`/`rows` are the LSH S-curve
    * parameters (rows = numHashes / bands), `shingle` the n-gram size,
    * `threshold` the exact-Jaccard verification floor — all baked into
    * every artifact's semantics; changing them means a new index.
    */
  final case class Meta(name: String, idCol: String, textCol: String,
      numHashes: Int, bands: Int, rows: Int, shingle: Int,
      threshold: Double)

  val Family = "dedup"
  val DirName = "_dindex"
  val Ext = ".sig"

  def nameOf(m: Meta): String = m.name
  def keyedColumns(m: Meta): Seq[String] = Seq(m.idCol, m.textCol)

  /** Included: a signature of a deleted row only produces candidates,
    * and candidates exact-verify against the ALIVE corpus, so stale ids
    * verify away — [[Lake.nearDups]] genuinely serves these files from
    * their artifacts.
    */
  val dvFilesCovered = true

  /** A different `numHashes`/`bands` split makes the `(band, bucket)`
    * join silently miss true near-dup pairs; `threshold` is
    * verification-time-only (artifacts hold band signatures, not
    * verdicts).
    */
  def artifactCompatible(local: Meta, foreign: Meta): Boolean =
    local.idCol == foreign.idCol && local.textCol == foreign.textCol &&
      local.numHashes == foreign.numHashes &&
      local.bands == foreign.bands && local.rows == foreign.rows &&
      local.shingle == foreign.shingle

  private val Magic = 0x44534731 // "DSG1"

  def toJson(m: Meta): String = {
    val q = IndexArtifacts.quote _
    s"""{"name": ${q(m.name)}, "idCol": ${q(m.idCol)}, """ +
      s""""textCol": ${q(m.textCol)}, "numHashes": ${m.numHashes}, """ +
      s""""bands": ${m.bands}, "rows": ${m.rows}, """ +
      s""""shingle": ${m.shingle}, "threshold": ${m.threshold}}"""
  }

  def fromJson(s: String): Meta = {
    def str(k: String) = IndexArtifacts.jsonString(Family, s, k)
    def num(k: String): String = {
      val re = ("\"" + k + "\"\\s*:\\s*([0-9.eE+-]+)").r
      re.findFirstMatchIn(s).map(_.group(1))
        .getOrElse(throw new IllegalStateException(
          s"dedup index metadata missing '$k': $s"))
    }
    Meta(str("name"), str("idCol"), str("textCol"),
      num("numHashes").toInt, num("bands").toInt, num("rows").toInt,
      num("shingle").toInt, num("threshold").toDouble)
  }

  // ---- bucket-Bloom header (v2 artifacts) ---------------------------------
  //
  // A v2 artifact LEADS with a Bloom filter over its distinct
  // (band, bucket) keys, so an incremental reader holding the landing's
  // bucket set can read the (small) header of a corpus artifact and
  // SKIP its body when no bucket can intersect — per-landing read cost
  // becomes ∝ artifacts sharing the landing's buckets, not corpus
  // signature volume. Pruning is EXACT for pair recall: a shared
  // (band, bucket) is a Bloom member by construction (no false
  // negatives); false positives only cost an extra body read. v1
  // artifacts (no header) are readable and simply unprunable.

  private val Magic2 = 0x44534732 // "DSG2"
  private val BloomProbes = 4

  /** The 64-bit key of one `(band, bucket)` pair — the ONE definition
    * the Bloom writer and every pruning probe share (splitmix64 over
    * the mixed pair).
    */
  def bucketKey(band: Int, bucket: Long): Long = {
    var z = bucket ^ (band.toLong * 0x9e3779b97f4a7c15L)
    z += 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bloomSet(words: Array[Long], mBits: Int, key: Long): Unit = {
    val h2 = (key >>> 32) * 2 + 1 // odd → full-period stepping
    var i = 0
    while (i < BloomProbes) {
      val bit = java.lang.Long.remainderUnsigned(key + i * h2, mBits)
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  private def bloomHas(words: Array[Long], mBits: Int, key: Long): Boolean = {
    val h2 = (key >>> 32) * 2 + 1
    var i = 0
    while (i < BloomProbes) {
      val bit = java.lang.Long.remainderUnsigned(key + i * h2, mBits)
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Serialize one file's `(id, band, bucket)` triples (v2: bucket-Bloom
    * header + triples). Sorted before writing so the artifact bytes are
    * DETERMINISTIC for a given data file — the property that makes a
    * lost maintenance rename race benign (both writers produced the
    * same bytes).
    */
  def serialize(triples: Array[(Long, Int, Long)]): Array[Byte] = {
    val sorted = triples.sortBy { case (id, band, _) => (id, band) }
    val keys = sorted.iterator
      .map { case (_, band, bucket) => bucketKey(band, bucket) }
      .toSet
    // ~10 bits/key (next power of two): <1% false-positive at 4 probes
    var mBits = 64
    while (mBits < keys.size * 10) mBits <<= 1
    val words = new Array[Long](mBits >>> 6)
    keys.foreach(bloomSet(words, mBits, _))
    val bos = new java.io.ByteArrayOutputStream(
      24 + words.length * 8 + 20 * sorted.length)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Magic2)
    out.writeInt(words.length)
    words.foreach(out.writeLong)
    out.writeInt(sorted.length)
    sorted.foreach { case (id, band, bucket) =>
      out.writeLong(id); out.writeInt(band); out.writeLong(bucket)
    }
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Array[(Long, Int, Long)] =
    readPruned(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)), None).getOrElse(
      Array.empty)

  /** Streaming read with optional bucket pruning: parse the header from
    * `in`; if `probe` is given and the v2 Bloom proves NO probe key can
    * be a member, return None WITHOUT reading the body (the caller
    * skips the rest of the stream — on a filesystem stream that is the
    * saved IO). v1 artifacts have no Bloom and always read fully.
    */
  def readPruned(in: java.io.DataInputStream,
      probe: Option[Array[Long]]): Option[Array[(Long, Int, Long)]] = {
    val magic = in.readInt()
    require(magic == Magic || magic == Magic2,
      f"not a dedup-index artifact (magic 0x$magic%08x)")
    if (magic == Magic2) {
      val nWords = in.readInt()
      val words = new Array[Long](nWords)
      var i = 0
      while (i < nWords) { words(i) = in.readLong(); i += 1 }
      val mBits = nWords << 6
      probe match {
        case Some(keys) if !keys.exists(bloomHas(words, mBits, _)) =>
          return None
        case _ => ()
      }
    }
    val n = in.readInt()
    Some(Array.fill(n)((in.readLong(), in.readInt(), in.readLong())))
  }
}
