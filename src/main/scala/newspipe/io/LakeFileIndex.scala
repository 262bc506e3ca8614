package newspipe.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over a lake snapshot's explicit inventory — the Delta
  * `TahoeFileIndex` role: the scan's file list comes from the MANIFEST,
  * not from directory discovery, and Spark hands every query's filters to
  * [[listFiles]], where hive partition values and the `_STATS.json` /
  * `_BLOOM.json` sidecars prune files BEFORE any task launches.
  *
  * What this buys over directory discovery:
  *
  *  1. ONE scan node. A manifest inventory spans `_v/<version>` dirs;
  *     Spark's partition discovery demands a single root per load, so a
  *     list-based read has to union one sub-frame per version dir (a plan
  *     whose shape follows the version count). The index bypasses
  *     discovery entirely — the plan is a single FileSourceScan however
  *     many versions the inventory references.
  *  2. AUTOMATIC skipping. ANY filter — DataFrame, SQL over the
  *     `lake_read` TVF, a join's pushed-down bound — reaches `listFiles`:
  *     partition filters select partitions exactly, data filters skip
  *     files by min/max stats ([[FileStats.matches]]) and Bloom filters
  *     ([[BloomIndex.mayMatch]]), both tri-state conservative, so pruning
  *     can only shrink the file set, never the answer.
  *
  * At 100 TB the no-discovery property is also the metadata win: the file
  * listing is one driver-side manifest read (sharded past 32k paths), not
  * an object-store LIST per directory — the same reason Delta/Iceberg
  * scans plan from the log, not the store.
  *
  * Scope: every parquet snapshot, manifest and self-contained, flat or
  * hive-partitioned. `partitions` holds one entry per partition-value
  * tuple (a single `InternalRow.empty` entry when [[partitionSchema]] is
  * empty); the values are parsed from each file's `k=v` path segments by
  * the caller. Only `read(layer, mergeSchema = true)` on self-contained
  * snapshots keeps discovery, for its footer-union schema.
  */
final class LakeFileIndex(
    partitions: Seq[(InternalRow, Seq[FileStatus])],
    override val partitionSchema: StructType,
    statsByPath: Map[String, FileStats.FileStat],
    root: Path,
    bloomByPath: Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] =
      Map.empty) extends FileIndex {

  private val statuses: Seq[FileStatus] = partitions.flatMap(_._2)

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    selected(partitionFilters).map { case (values, files) =>
      PartitionDirectory(values, keep(files, dataFilters).toArray)
    }

  /** The partitions `partitionFilters` accept, evaluated EXACTLY against
    * each partition's values: FileSourceStrategy does not re-apply
    * partition filters after the scan, so this is where they hold.
    */
  private def selected(partitionFilters: Seq[Expression])
      : Seq[(InternalRow, Seq[FileStatus])] =
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
    else {
      val names = partitionSchema.fieldNames.map(_.toLowerCase)
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(org.apache.spark.sql.catalyst.expressions.And)
          .transform { case a: AttributeReference =>
            val i = names.indexOf(a.name.toLowerCase)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
      partitions.filter { case (values, _) => bound.eval(values) }
    }

  private def keep(files: Seq[FileStatus],
      dataFilters: Seq[Expression]): Seq[FileStatus] =
    if (dataFilters.isEmpty || (statsByPath.isEmpty && bloomByPath.isEmpty))
      files
    else files.filter { s =>
      // unknown-to-stats files are always kept (conservative), and a
      // file survives only if EVERY filter can match it (filters are
      // conjunctive at this point in planning); per-file blooms prune
      // the point predicates min/max can't ([[BloomIndex.mayMatch]],
      // same tri-state posture)
      val p = s.getPath.toString
      statsByPath.get(p).forall(st =>
        dataFilters.forall(FileStats.matches(st, _))) &&
      bloomByPath.get(p).forall(b =>
        dataFilters.forall(BloomIndex.mayMatch(b, _)))
    }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  /** Total rows across the inventory when the sidecar covers EVERY file —
    * the metadata-only `count(*)` answer ([[LakeCountStarShortcut]]);
    * None with any stats-unknown file (the shortcut must never guess).
    */
  private[newspipe] def completeRowCount: Option[Long] =
    if (statuses.isEmpty) Some(0L)
    else if (statuses.forall(s => statsByPath.contains(s.getPath.toString)))
      Some(statuses.iterator
        .map(s => statsByPath(s.getPath.toString).rows).sum)
    else None

  override def refresh(): Unit = () // snapshot inventories are immutable

  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}
