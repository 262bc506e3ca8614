package newspipe.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** File-level min/max statistics for data skipping — the Delta/Iceberg
  * manifest idea on top of the lake's snapshot protocol (the reference reads
  * `format("delta")`, whose engine does exactly this file pruning under
  * every filtered read).
  *
  * Stats come from the parquet FOOTERS the write already produced — no
  * second pass over the data. At commit time [[Lake]] reads each file's
  * footer (row count, per-column min/max/nullCount merged across row
  * groups) and lands them as a `_STATS.json` sidecar inside the snapshot
  * directory, BEFORE the `_COMMITTED` marker — so a committed snapshot
  * either has its stats or (stats collection soft-failed) none, never a
  * torn sidecar. Readers ([[Lake.readWhere]]) evaluate a predicate against
  * the sidecar and hand Spark the explicit list of files that can possibly
  * match.
  *
  * Why this matters at 100 TB: Spark's own parquet row-group skipping
  * still has to LIST and OPEN every file to see its footer — a 10⁵-file
  * layer pays 10⁵ opens to answer a point query. Sidecar pruning answers
  * the same question with ONE small JSON read on the driver, which is the
  * entire architectural content of Delta's stats-in-transaction-log and
  * Iceberg's manifest files. Combined with [[newspipe.ops.ZOrder]]
  * clustering, multi-column predicates prune most of the layer.
  *
  * === Soundness contract ===
  *
  * Pruning is TRI-STATE and conservative: a file is dropped only when the
  * stats PROVE no row can satisfy the predicate. Unknown columns, missing
  * stats, unsupported expression shapes, and type mismatches all resolve
  * to "keep". The caller always re-applies the full predicate to the
  * surviving rows, so pruning can never change a result — only the set of
  * files opened. Two parquet-level subtleties the evaluator respects:
  *
  *  - Binary (string) min/max may be TRUNCATED by the writer; parquet
  *    truncates min downward and max upward, so interval checks stay sound.
  *  - float/double stats are omitted by parquet-mr when NaN values were
  *    seen; a NaN literal never prunes (kept — comparison semantics give
  *    false anyway after the residual filter).
  */
object FileStats {

  /** Per-column stats of one file. min/max are in a type-tagged string
    * encoding (see [[ColStats.tag]]); None = not recorded (unknown).
    * nullCount None = unknown.
    */
  final case class ColStats(tag: String, min: Option[String],
      max: Option[String], nullCount: Option[Long])

  /** One data file: path RELATIVE to the snapshot dir (the sidecar must
    * survive a directory move), row count, column stats by top-level name,
    * and hive partition values parsed from the relative path (`k=v`
    * segments; empty for unpartitioned layouts).
    */
  final case class FileStat(path: String, rows: Long,
      cols: Map[String, ColStats], partitionValues: Map[String, String])

  val SidecarName = "_STATS.json"

  /** Per-batch sidecar of a flat [[Lake.writeBatchIdempotent]] layer —
    * zero-padded so a listing sorts in batch order.
    */
  val BatchSidecarPrefix = "_STATS_batch_"
  def batchSidecarName(batchId: Long): String =
    f"$BatchSidecarPrefix$batchId%020d.json"

  // ---------------------------------------------------------------- collect

  /** Read footers of every parquet data file under `dir` (recursively, so
    * hive-partitioned snapshots work) and merge row-group stats per file.
    * Footer reads are metadata-only (tail bytes of each file) and run on a
    * small thread pool — at the file counts a byte-sized [[Lake.compact]]
    * maintains this is milliseconds; a 10⁶-file un-compacted layer should
    * run the same loop as a Spark job over the path list instead (the
    * Iceberg `add_files` shape), which the sidecar format already permits.
    */
  def collect(conf: Configuration, dir: String): Seq[FileStat] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = {
      val buf = Vector.newBuilder[Path]
      FsListing.filesRecursive(fs, root).foreach { s =>
        val n = s.getPath.getName
        if (s.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          n.endsWith(".parquet")) buf += s.getPath
      }
      // directory order varies by filesystem; the sidecar must not
      buf.result().sortBy(_.toString)
    }
    if (files.isEmpty) return Nil
    // listFiles yields fs-qualified paths; qualify the root the same way
    // so the relative-path strip is exact on every scheme
    val rootPrefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      val tasks = files.map { p =>
        pool.submit(new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat = statFile(conf, rootPrefix, p)
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** [[collect]] for an EXPLICIT file list (paths relative to `base`) —
    * the manifest-snapshot form, where a snapshot's inventory spans
    * several version directories and a directory walk would see either
    * too much or too little. Same footer-only cost and thread pool.
    */
  def collectFiles(conf: Configuration, base: String,
      relPaths: Seq[String]): Seq[FileStat] = {
    if (relPaths.isEmpty) return Nil
    val root = new Path(base)
    val fs = root.getFileSystem(conf)
    val rootPrefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, relPaths.size))
    try {
      val tasks = relPaths.map { rel =>
        pool.submit(new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat =
            statFile(conf, rootPrefix, new Path(rootPrefix + rel))
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** [[collectFiles]] for rels whose physical location is NOT `base/rel`
    * — the cross-layer (shallow-clone) refs a manifest records as
    * `../<layer>/…`: the caller pre-resolves each rel to its canonical
    * absolute path ([[Lake.resolveRel]] collapses the `..` textually) and
    * the recorded stat keeps the MANIFEST rel as its key, so sidecar
    * entries keep matching the inventory while the filesystem never sees
    * a literal `..` segment (HDFS rejects those path components).
    */
  def collectResolved(conf: Configuration,
      files: Seq[(String, Path)]): Seq[FileStat] = {
    if (files.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      val tasks = files.map { case (rel, p) =>
        pool.submit(new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat = statFileAs(conf, rel, p)
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** Slices for a Spark job of one task per file over `n` driver-listed
    * files: one file per slice up to twice the default parallelism.
    */
  private[io] def slicesFor(spark: org.apache.spark.sql.SparkSession,
      n: Int): Int =
    math.max(1, math.min(n, spark.sparkContext.defaultParallelism * 2))

  /** Exact per-file row counts from parquet footers as a SPARK JOB over
    * the file list — the 100 TB form of [[collectResolved]]'s count-only
    * use ([[Lake.enableRowTracking]]'s one-time backfill): at 10⁶ files a
    * driver thread pool is the bottleneck, so each task opens its slice's
    * footers and ships back only (rel, rows) pairs. Driver memory stays
    * O(files) — the same class as the manifest itself. Footer-only reads:
    * no row group is decoded.
    */
  def rowCountsDistributed(spark: org.apache.spark.sql.SparkSession,
      files: Seq[(String, String)]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files, slicesFor(spark, files.size))
      .map { case (rel, p) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p), conf.value))
        try rel ->
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }.collect().toMap
  }

  private def statFile(conf: Configuration,
      rootPrefix: String, file: Path): FileStat = {
    require(file.toString.startsWith(rootPrefix),
      s"file $file not under stats root $rootPrefix")
    statFileAs(conf, file.toString.stripPrefix(rootPrefix), file)
  }

  /** Stat one parquet footer, recording `rel` verbatim as the stat key
    * (which may differ from the physical path's own suffix for resolved
    * cross-layer refs).
    */
  private def statFileAs(conf: Configuration,
      rel: String, file: Path): FileStat = {
    val partVals = rel.split('/').dropRight(1).toSeq
      .filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        val raw = java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
        seg.substring(0, i) -> raw
      }.toMap
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // merge row-group chunk stats per top-level column; any group with
      // missing/empty stats poisons that column to unknown for the file
      val merged = scala.collection.mutable.Map[String, Option[ColStats]]()
      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val dotted = chunk.getPath.toDotString
        if (!dotted.contains('.')) { // top-level atomics only
          val next = chunkStats(chunk.getPrimitiveType, chunk.getStatistics)
          merged.get(dotted) match {
            case None => merged(dotted) = next
            case Some(prev) => merged(dotted) = mergeCol(prev, next)
          }
        }
      }
      FileStat(rel, rows, merged.collect { case (k, Some(v)) => k -> v }.toMap,
        partVals)
    } finally reader.close()
  }

  /** One column chunk's stats in tagged-string form; None when anything
    * about them is untrustworthy.
    */
  private def chunkStats(pt: PrimitiveType,
      s: org.apache.parquet.column.statistics.Statistics[_]): Option[ColStats] = {
    import PrimitiveType.PrimitiveTypeName._
    if (s == null || s.isEmpty) return None
    val tag: Option[String] = pt.getPrimitiveTypeName match {
      case BOOLEAN => Some("boolean")
      case INT32 => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
        case _ => Some("long")
      }
      case INT64 => pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some("ts_millis")
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some("ts_micros")
            case LogicalTypeAnnotation.TimeUnit.NANOS => Some("ts_nanos")
          }
        case _ => Some("long")
      }
      case FLOAT | DOUBLE => Some("double")
      case BINARY => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("string")
        case _ => None // raw binary / decimal: not pruned
      }
      case _ => None // INT96 timestamps, fixed-len decimals: no sound stats
    }
    tag.map { t =>
      val nulls = if (s.isNumNullsSet) Some(s.getNumNulls) else None
      if (!s.hasNonNullValue) ColStats(t, None, None, nulls)
      else ColStats(t, Some(encode(t, s.genericGetMin)),
        Some(encode(t, s.genericGetMax)), nulls)
    }
  }

  private def encode(tag: String, v: Any): String = v match {
    case b: Binary if tag == "string" => b.toStringUsingUTF8
    case f: java.lang.Float => f.doubleValue().toString
    case other => other.toString
  }

  private def mergeCol(a: Option[ColStats], b: Option[ColStats]): Option[ColStats] =
    (a, b) match {
      case (Some(x), Some(y)) if x.tag == y.tag =>
        def pick(l: Option[String], r: Option[String],
            want: Int): Option[String] =
          for (lv <- l; rv <- r)
            yield if (Integer.signum(compareTagged(x.tag, lv, rv)) == want) lv else rv
        Some(ColStats(x.tag, pick(x.min, y.min, -1), pick(x.max, y.max, 1),
          for (ln <- x.nullCount; rn <- y.nullCount) yield ln + rn))
      case _ => None
    }

  /** Total order within one tag's string encoding. Strings compare as
    * UTF8String (unsigned byte order — the comparator parquet used to
    * compute the min/max, NOT Java's UTF-16 code-unit order).
    */
  private def compareTagged(tag: String, a: String, b: String): Int = tag match {
    case "string" => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "boolean" => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _ => java.lang.Long.compare(a.toLong, b.toLong)
  }

  // ------------------------------------------------------------------ JSON

  def toJson(stats: Seq[FileStat]): String = {
    def col(c: ColStats): JObject = JObject(List(
      "t" -> JString(c.tag),
      "min" -> c.min.map(JString).getOrElse(JNull),
      "max" -> c.max.map(JString).getOrElse(JNull),
      "nulls" -> c.nullCount.map(JLong(_)).getOrElse(JNull)))
    val files = stats.map { f =>
      JObject(List(
        "path" -> JString(f.path),
        "rows" -> JLong(f.rows),
        "cols" -> JObject(f.cols.toList.sortBy(_._1).map { case (k, v) => k -> (col(v): JValue) }),
        "parts" -> JObject(f.partitionValues.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JString(v): JValue) })))
    }
    JsonMethods.compact(JsonMethods.render(
      JObject(List("version" -> JInt(1), "files" -> JArray(files.toList)))))
  }

  def fromJson(json: String): Seq[FileStat] = {
    val root = JsonMethods.parse(json)
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s); case _ => None
    }
    def lng(v: JValue): Option[Long] = v match {
      case JLong(n) => Some(n); case JInt(n) => Some(n.toLong); case _ => None
    }
    (root \ "files") match {
      case JArray(files) => files.flatMap { f =>
        for {
          path <- str(f \ "path")
          rows <- lng(f \ "rows")
        } yield {
          val cols = (f \ "cols") match {
            case JObject(fields) => fields.flatMap { case (name, v) =>
              str(v \ "t").map { tag =>
                name -> ColStats(tag, str(v \ "min"), str(v \ "max"),
                  lng(v \ "nulls"))
              }
            }.toMap
            case _ => Map.empty[String, ColStats]
          }
          val parts = (f \ "parts") match {
            case JObject(fields) =>
              fields.flatMap { case (k, v) => str(v).map(k -> _) }.toMap
            case _ => Map.empty[String, String]
          }
          FileStat(path, rows, cols, parts)
        }
      }
      case _ => Nil
    }
  }

  // ----------------------------------------------------------------- prune

  /** Files of `stats` that can possibly hold a row satisfying `predicate`
    * (a Catalyst boolean expression over the layer's columns, literals on
    * one side). Conservative: anything unprovable keeps the file.
    */
  def prune(stats: Seq[FileStat], predicate: Expression): Seq[FileStat] =
    stats.filter(f => canMatch(f, predicate))

  /** Per-file form of [[prune]]: can this file hold a matching row? */
  def matches(f: FileStat, predicate: Expression): Boolean =
    canMatch(f, predicate)

  /** Column name behind an (optionally cast-wrapped) attribute. Unwrapping
    * a Cast is sound because [[compareLit]] then compares in the CAST's
    * type against the stats' native type — cross-numeric compares route
    * through doubles with a magnitude guard, everything else refuses to
    * prune.
    */
  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case c: Cast => attrName(c.child)
    case _ => None
  }

  /** false ONLY when provably no row in the file satisfies `e`. */
  private def canMatch(f: FileStat, e: Expression): Boolean = e match {
    case And(l, r) => canMatch(f, l) && canMatch(f, r)
    case Or(l, r) => canMatch(f, l) || canMatch(f, r)
    case Not(EqualTo(a, Literal(v, dt))) if attrName(a).isDefined =>
      canMatchNotEqual(f, attrName(a).get, v, dt)
    case Not(EqualTo(Literal(v, dt), a)) if attrName(a).isDefined =>
      canMatchNotEqual(f, attrName(a).get, v, dt)
    case EqualTo(a, Literal(v, dt)) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = 0, maxSide = 0)
    case EqualTo(Literal(v, dt), a) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = 0, maxSide = 0)
    case GreaterThan(a, Literal(v, dt)) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = -2, maxSide = 1)
    case GreaterThan(Literal(v, dt), a) if attrName(a).isDefined => // v > col ⇔ col < v
      cmpBounds(f, attrName(a).get, v, dt, minSide = 1, maxSide = 2)
    case GreaterThanOrEqual(a, Literal(v, dt)) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = -2, maxSide = 0)
    case GreaterThanOrEqual(Literal(v, dt), a) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = 0, maxSide = 2)
    case LessThan(a, Literal(v, dt)) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = 1, maxSide = 2)
    case LessThan(Literal(v, dt), a) if attrName(a).isDefined => // v < col ⇔ col > v
      cmpBounds(f, attrName(a).get, v, dt, minSide = -2, maxSide = 1)
    case LessThanOrEqual(a, Literal(v, dt)) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = 0, maxSide = 2)
    case LessThanOrEqual(Literal(v, dt), a) if attrName(a).isDefined =>
      cmpBounds(f, attrName(a).get, v, dt, minSide = -2, maxSide = 0)
    case In(a, list) if attrName(a).isDefined &&
        list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, dt) =>
        cmpBounds(f, attrName(a).get, v, dt, minSide = 0, maxSide = 0)
      }
    case InSet(a, hset) if attrName(a).isDefined => // OptimizeIn's large form
      hset.exists(v =>
        cmpBounds(f, attrName(a).get, v, a.dataType, minSide = 0, maxSide = 0))
    case IsNull(a) if attrName(a).isDefined =>
      lookup(f, attrName(a).get) match {
        case Lookup.Stats(c) => c.nullCount.forall(_ > 0)
        case Lookup.Partition(v) => v == null
        case Lookup.Unknown => true
      }
    case IsNotNull(a) if attrName(a).isDefined =>
      lookup(f, attrName(a).get) match {
        case Lookup.Stats(c) => c.nullCount.forall(_ < f.rows)
        case Lookup.Partition(v) => v != null
        case Lookup.Unknown => true
      }
    case StartsWith(a, Literal(v, org.apache.spark.sql.types.StringType))
        if attrName(a).isDefined && v != null =>
      canMatchPrefix(f, attrName(a).get, v.asInstanceOf[UTF8String])
    case _ => true // unsupported shape: keep
  }

  /** col != lit is unsatisfiable only when every non-null row provably
    * equals lit (a constant column) — null rows never satisfy != either,
    * so an all-null file also prunes. min/max encoding equality implies an
    * untruncated constant (parquet truncates min down and max up, so a
    * truncated pair can't collide).
    */
  private def canMatchNotEqual(f: FileStat, name: String, litVal: Any,
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    if (litVal == null) return false // x != null is never true
    lookup(f, name) match {
      case Lookup.Unknown => true
      case Lookup.Partition(null) => false
      case Lookup.Partition(pv) =>
        !compareLit(litVal, dt, "part", pv).contains(0)
      case Lookup.Stats(c) =>
        if (c.nullCount.contains(f.rows)) false
        else (c.min, c.max) match {
          case (Some(mn), Some(mx)) if mn == mx =>
            !compareLit(litVal, dt, c.tag, mn).contains(0)
          case _ => true
        }
    }
  }

  private sealed trait Lookup
  private object Lookup {
    final case class Stats(c: ColStats) extends Lookup
    final case class Partition(value: String) extends Lookup // null = default part
    case object Unknown extends Lookup
  }

  private def lookup(f: FileStat, name: String): Lookup =
    f.cols.get(name).map(Lookup.Stats(_): Lookup).getOrElse {
      f.partitionValues.get(name) match {
        case Some("__HIVE_DEFAULT_PARTITION__") => Lookup.Partition(null)
        case Some(v) => Lookup.Partition(v)
        case None => Lookup.Unknown
      }
    }

  /** Interval test against [min, max]. The survive-condition of every
    * comparison reduces to a requirement on cmp(lit, min) and/or
    * cmp(lit, max):
    *
    *  - col =  lit → cmp(lit,min) >= 0  AND  cmp(lit,max) <= 0
    *  - col >  lit →                         cmp(lit,max) <  0
    *  - col >= lit →                         cmp(lit,max) <= 0
    *  - col <  lit → cmp(lit,min) >  0
    *  - col <= lit → cmp(lit,min) >= 0
    *
    * `minSide` encodes the min-bound requirement (±2 = none, 0 = ">=",
    * 1 = ">"), `maxSide` the max-bound one (±2 = none, 0 = "<=",
    * 1 = "<"); reversed-operand forms flip to the dual row above.
    */
  private def cmpBounds(f: FileStat, name: String, litVal: Any,
      dt: org.apache.spark.sql.types.DataType,
      minSide: Int, maxSide: Int): Boolean = {
    if (litVal == null) return false // comparison with null: never true
    lookup(f, name) match {
      case Lookup.Unknown => true
      case Lookup.Partition(null) => false // only nulls: no comparison matches
      case Lookup.Partition(pv) =>
        compareLit(litVal, dt, "part", pv) match {
          case None => true
          case Some(c) => boundOk(c, minSide, isMin = true) &&
            boundOk(c, maxSide, isMin = false)
        }
      case Lookup.Stats(c) =>
        if (c.nullCount.contains(f.rows)) return false // all-null column
        (c.min, c.max) match {
          case (Some(mn), Some(mx)) =>
            (compareLit(litVal, dt, c.tag, mn), compareLit(litVal, dt, c.tag, mx)) match {
              case (Some(cmpMin), Some(cmpMax)) =>
                boundOk(cmpMin, minSide, isMin = true) &&
                  boundOk(cmpMax, maxSide, isMin = false)
              case _ => true
            }
          case _ => true
        }
    }
  }

  /** Decode the side encoding: for the MIN bound, `side` is the minimum
    * allowed sign of cmp(lit, min) (-2 = unconstrained; 0 = lit must be
    * >= min; -1 means lit must be > min i.e. sign >= ... ). For the MAX
    * bound symmetric with maximum allowed sign. Strictness: side values
    * ±1 mean the STRICT relation is required.
    */
  private def boundOk(cmp: Int, side: Int, isMin: Boolean): Boolean = side match {
    case -2 | 2 => true
    case 0 => if (isMin) cmp >= 0 else cmp <= 0
    case 1 => if (isMin) cmp > 0 else cmp < 0
    case _ => true
  }

  /** sign of compare(literal, statsValue) within a compatible type pair;
    * None = incompatible (no pruning). `tag` "part" = hive partition
    * string, parsed to the literal's type.
    */
  private def compareLit(litVal: Any,
      dt: org.apache.spark.sql.types.DataType,
      tag: String, stat: String): Option[Int] = {
    import org.apache.spark.sql.types._
    def num(l: Double, r: String): Option[Int] =
      if (l.isNaN) None
      else scala.util.Try(r.toDouble).toOption.map(java.lang.Double.compare(l, _))
    // long↔double CROSS-type compares go through doubles; beyond 2^52 a
    // long is not exactly representable and a rounded tie could prune a
    // file whose true bound matches — refuse instead (keep the file)
    def numX(l: Double, r: String): Option[Int] =
      num(l, r).filter(_ => math.abs(l) <= (1L << 52) &&
        scala.util.Try(math.abs(r.toDouble) <= (1L << 52)).getOrElse(false))
    def lng(l: Long, r: String): Option[Int] =
      scala.util.Try(r.toLong).toOption.map(java.lang.Long.compare(l, _))
    (dt, tag) match {
      case (StringType, "string") =>
        Some(litVal.asInstanceOf[UTF8String]
          .compareTo(UTF8String.fromString(stat)))
      case (StringType, "part") =>
        Some(litVal.asInstanceOf[UTF8String]
          .compareTo(UTF8String.fromString(stat)))
      case (ByteType | ShortType | IntegerType | LongType, "long") =>
        lng(litVal.asInstanceOf[Number].longValue(), stat)
      case (ByteType | ShortType | IntegerType | LongType, "double") =>
        numX(litVal.asInstanceOf[Number].doubleValue(), stat)
      case (ByteType | ShortType | IntegerType | LongType, "part") =>
        lng(litVal.asInstanceOf[Number].longValue(), stat)
      case (FloatType | DoubleType, "long") =>
        numX(litVal.asInstanceOf[Number].doubleValue(), stat)
      case (FloatType | DoubleType, "double") =>
        num(litVal.asInstanceOf[Number].doubleValue(), stat)
      case (FloatType | DoubleType, "part") =>
        num(litVal.asInstanceOf[Number].doubleValue(), stat)
      case (BooleanType, "boolean") =>
        Some(java.lang.Boolean.compare(litVal.asInstanceOf[Boolean],
          stat.toBoolean))
      case (DateType, "date") => lng(litVal.asInstanceOf[Int].toLong, stat)
      case (DateType, "part") => // hive encodes date partitions as yyyy-MM-dd
        scala.util.Try(java.time.LocalDate.parse(stat).toEpochDay).toOption
          .map(d => java.lang.Long.compare(litVal.asInstanceOf[Int].toLong, d))
      case (TimestampType | TimestampNTZType, t) if t.startsWith("ts_") =>
        // both types compare micros-to-micros against the file's own
        // written values; TZ columns are UTC-adjusted on both sides, NTZ
        // columns local on both sides — consistent within a lake
        val micros = litVal.asInstanceOf[Long] // catalyst internal: micros
        scala.util.Try(stat.toLong).toOption.map { raw =>
          val statMicros = t match {
            case "ts_millis" => raw * 1000L // epoch millis: no overflow risk
            case "ts_micros" => raw
            case _ => raw / 1000L // nanos, floor: bound widens by <1us, sound
          }
          java.lang.Long.compare(micros, statMicros)
        }
      case _ => None
    }
  }

  /** col STARTSWITH p: the file survives iff [min,max] intersects
    * [p, next(p)) — max >= p and min < next(p); when p has no successor
    * (all 0xFF bytes) the upper check degrades to keep.
    */
  private def canMatchPrefix(f: FileStat, name: String, p: UTF8String): Boolean =
    lookup(f, name) match {
      case Lookup.Unknown => true
      case Lookup.Partition(null) => false
      case Lookup.Partition(v) =>
        val pv = UTF8String.fromString(v)
        pv.startsWith(p) || (pv.compareTo(p) >= 0 &&
          nextPrefix(p).forall(n => pv.compareTo(n) < 0))
      case Lookup.Stats(c) =>
        if (c.nullCount.contains(f.rows)) false
        else (c.min, c.max) match {
          case (Some(mn), Some(mx)) =>
            val lo = UTF8String.fromString(mn)
            val hi = UTF8String.fromString(mx)
            hi.compareTo(p) >= 0 &&
              nextPrefix(p).forall(n => lo.compareTo(n) < 0)
          case _ => true
        }
    }

  /** Smallest string strictly greater than every string with prefix `p`:
    * increment the last non-0xFF byte, drop the tail. None when all bytes
    * are 0xFF (no successor).
    */
  private def nextPrefix(p: UTF8String): Option[UTF8String] = {
    val bytes = p.getBytes.clone()
    var i = bytes.length - 1
    while (i >= 0 && bytes(i) == -1) i -= 1
    if (i < 0) None
    else {
      bytes(i) = (bytes(i) + 1).toByte
      Some(UTF8String.fromBytes(java.util.Arrays.copyOf(bytes, i + 1)))
    }
  }
}
