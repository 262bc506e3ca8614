package newspipe.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The contract of a persisted index family — one artifact per data file,
  * content-addressed and reused across appends. [[VectorIndex]]
  * (`_vindex`/`.ann`: HNSW, IVF or PQ shards) and [[DedupIndex]]
  * (`_dindex`/`.sig`: banded MinHash signatures) are the two families;
  * [[Lake]] runs one set of index operations (declare, drop, list,
  * resolve, maintain, coverage, vacuum pruning, clone borrowing) over
  * this contract and asks a family only for its per-file builder.
  *
  * {{{
  * layer/<DirName>/<name>/_INDEX.json          — the declaration (Meta)
  * layer/<DirName>/<name>/shards/<digest><Ext> — one artifact PER DATA
  *                                               FILE, digest =
  *                                               md5(qualified file path)
  * }}}
  *
  * Content addressing is the load-bearing idea: lake data files are
  * immutable, so an artifact never invalidates — appends add artifacts
  * for their new files only (O(increment)), rewrites leave the inputs'
  * artifacts as debris VACUUM reclaims, time travel reads a carried
  * file's artifact unchanged, and a SHALLOW CLONE borrows the source's
  * artifacts byte-for-byte (the digest keys the qualified DATA-file
  * path, which the clone's rels resolve to). Borrowing is keyed by index
  * name and gated by [[artifactCompatible]]. A file without an artifact
  * (crashed maintenance, a fresh rewrite, a foreign writer) is answered
  * by an exact scan of that file: a missing artifact costs work, never
  * correctness. Underscore-prefixed dirs, so data listings and
  * partition discovery never see an index.
  *
  * Family objects are captured by build tasks, hence `Serializable`.
  */
trait IndexArtifacts extends Serializable {

  /** The family's declaration, stored as `_INDEX.json`. */
  type Meta

  /** The family's word in statements and messages (`vector`, `dedup`). */
  def Family: String
  def DirName: String
  def Ext: String

  def toJson(m: Meta): String
  def fromJson(s: String): Meta

  /** May a FOREIGN index's artifacts serve `local`'s declaration? A
    * clone borrows by index NAME, and a source may drop and recreate a
    * same-named index with different parameters; equality covers every
    * parameter baked into artifact bytes and nothing search-time-only.
    */
  def artifactCompatible(local: Meta, foreign: Meta): Boolean

  def nameOf(m: Meta): String

  /** Columns whose logical names the artifacts key — renaming or
    * dropping one would strand every artifact, so the layer refuses it.
    */
  def keyedColumns(m: Meta): Seq[String]

  /** Does a file carrying a deletion vector count as covered? Only when
    * the family's read path drops deleted rows downstream of the
    * artifact; coverage reports what the family's own reads answer from
    * the index.
    */
  def dvFilesCovered: Boolean

  final val MetaFile = "_INDEX.json"

  def indexRoot(layerPath: String, name: String): Path =
    new Path(s"$layerPath/$DirName/$name")

  def shardsDir(layerPath: String, name: String): Path =
    new Path(indexRoot(layerPath, name), "shards")

  /** Digests of the artifacts currently present (one listing). */
  def existingShards(f: FileSystem, layerPath: String,
      name: String): Set[String] = {
    val dir = shardsDir(layerPath, name)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(Ext)).map(_.stripSuffix(Ext)).toSet
  }

  /** Write one artifact crash-safely: temp file + rename. Artifact
    * content is DETERMINISTIC for a given data file (a pure function of
    * immutable bytes), so a lost rename race with a concurrent
    * maintainer is benign — whoever wins wrote the same bytes; the
    * loser just drops its temp.
    */
  def writeShard(f: FileSystem, layerPath: String, name: String,
      digest: String, bytes: Array[Byte]): Unit = {
    val dir = shardsDir(layerPath, name)
    f.mkdirs(dir)
    Lake.putViaRename(f, new Path(dir, s"$digest$Ext"), bytes)
  }
}

object IndexArtifacts {

  /** Every index family a layer may declare, in reporting order. */
  lazy val families: Seq[IndexArtifacts] = Seq(VectorIndex, DedupIndex)

  /** Content address of a data file's artifact, the same in every
    * family: md5 of the FS-qualified absolute path (stable across
    * snapshots — a carried file keeps its path; scheme+authority
    * qualified so two lakes on different stores never alias).
    */
  def digestOf(qualifiedPath: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(qualifiedPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** An artifact's bytes, read whole. */
  def readArtifact(f: FileSystem, p: Path): Array[Byte] = {
    val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(bytes) finally in.close()
    bytes
  }

  /** JSON string literal, as both families' `_INDEX.json` codecs write it. */
  private[io] def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The string field `k` of an `_INDEX.json` document. */
  private[io] def jsonString(family: String, s: String, k: String): String = {
    val re = ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    re.findFirstMatchIn(s).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse(throw new IllegalStateException(
        s"$family index metadata missing '$k': $s"))
  }
}
