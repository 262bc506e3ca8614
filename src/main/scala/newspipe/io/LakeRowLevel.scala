package newspipe.io

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences,
  BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Group-based row-level operations for PURE-v2 sessions — the
  * [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
  * contract that lets a session with nothing but
  * `spark.sql.catalog.lake` configured run `UPDATE` / `MERGE INTO` /
  * arbitrary-predicate `DELETE` through Spark's OWN rewrite rules
  * (RewriteUpdateTable / RewriteMergeIntoTable / RewriteDeleteFromTable),
  * completing the DML triangle that `SupportsDelete` alone covers only
  * for metadata-translatable deletes. Sessions WITH NewspipeExtensions
  * keep their existing path (the injected parser routes lake DML to
  * [[LakeSql]]); this class is the extension-less road.
  *
  * Spark's group-based model: the operation's SCAN defines the groups —
  * it must return every row of each group it reads — and the WRITE
  * replaces exactly those groups with the rewritten rows. Here a group is
  * one lake data file:
  *
  *  - the scan prunes the affected file set with the same stats-sidecar
  *    machinery as every other row op (the command condition arrives via
  *    filter pushdown, used for GROUP PRUNING ONLY — all filters are
  *    returned as residuals so row semantics stay with Spark's rewrite
  *    plan), then reads those files whole through Spark's own vectorized
  *    parquet reader factory;
  *  - the write streams replacement rows straight into a staging snapshot
  *    dir — one parquet file per (task, hive partition), hive layout
  *    preserved, CHECK constraints enforced per row IN the tasks — and
  *    the commit is (parent inventory − affected, by manifest reference)
  *    + staged files, with the usual OCC parent check.
  *
  * Scale: O(affected files) read + shuffle-free write; untouched files
  * ride the manifest by reference exactly as in [[Lake.updateWhere]]. No
  * driver-side row movement anywhere — the driver sees only file names.
  *
  * Bounds (refused loudly at plan time): affected files carrying
  * deletion vectors (a group rewrite would resurrect DV'd rows — compact
  * first, or use the extensions path which reads through DVs) and
  * time-travel relations.
  */
final class LakeRowLevelOperation(spark: SparkSession, base: String,
    layer: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  @transient private lazy val lake =
    new Lake(spark, LakeConfig(basePath = base))

  /** Set when the scan builds (optimizer time); read by the write's
    * commit (execution time). One operation instance serves one command
    * execution — Spark constructs it per rewrite.
    */
  @volatile private[io] var pinned: Option[Lake.RowLevelSnapshot] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"lake row-level $cmd on $base/$layer"

  /** Declaring a required metadata attribute is what makes Spark hand the
    * write PROJECTED rows: ReplaceDataExec only applies its row projection
    * through DataAndMetadataWritingSparkTask — with no metadata attrs it
    * falls back to the plain task and the writer would receive raw rewrite
    * rows (leading `__row_operation` int included), misaligned with
    * `LogicalWriteInfo.schema()`. `_file` (the Iceberg-parity source-file
    * column, [[LakeTable.metadataColumns]]) is the natural choice: the
    * scan produces it for free from the group it's reading.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      LakeTable.FileMetadataCol))

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var accepted: Array[sources.Filter] = Array.empty
      override def pushFilters(filters: Array[sources.Filter])
          : Array[sources.Filter] = {
        // group-pruning hints only: accept what translates to a Column
        // (file skipping can use it), return EVERYTHING as residual —
        // the scan must emit whole groups, the rewrite plan owns row
        // semantics
        accepted = filters.filter(f => LakeTable.filterToColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[sources.Filter] = accepted
      override def build(): Scan = {
        val cond = accepted.toSeq.flatMap(LakeTable.filterToColumn(_))
          .reduceOption(_ && _)
        val ctx = lake.rowLevelSnapshot(layer, cond)
        pinned = Some(ctx)
        new LakeRowLevelScan(spark, ctx)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new LakeRowLevelWrite(spark, base, layer,
          LakeRowLevelOperation.this, info)
    }
}

object LakeRowLevelOperation {
  /** The builder [[LakeTable.newRowLevelOperationBuilder]] hands Spark. */
  def builder(spark: SparkSession, base: String, layer: String,
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new LakeRowLevelOperation(spark, base, layer, info.command)
    }
}

/** The GROUP scan of a row-level operation: the stats-pruned affected
  * files, read whole (no row filtering — residual semantics live in the
  * rewrite plan) through [[ParquetPartitionReaderFactory]], Spark's own
  * vectorized reader. Partition values are parsed+cast from the hive
  * path segments; column-mapped layers read under physical names with
  * positional alignment back to logical (order is preserved by
  * construction in [[Lake.rowLevelSnapshot]]).
  */
final class LakeRowLevelScan(spark: SparkSession,
    ctx: Lake.RowLevelSnapshot) extends Scan with Batch {

  /** Hive partition columns PLUS the `_file` metadata column — both are
    * per-file constants, so both ride the reader factory's
    * partition-values mechanism (appended to every row of the file).
    */
  private val partSchema = StructType(
    ctx.partCols.map(c => ctx.logicalSchema(c)) :+
      org.apache.spark.sql.types.StructField(LakeTable.FileMetadataCol,
        StringType, nullable = false))

  override def readSchema(): StructType = StructType(
    ctx.readSchema.fields :+
      org.apache.spark.sql.types.StructField(LakeTable.FileMetadataCol,
        StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"LakeRowLevelScan(affected ${ctx.affected.size} of " +
      s"${ctx.inventory.size} files)"

  override def planInputPartitions(): Array[InputPartition] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val files = ctx.affectedSizes.map { case (rel, size) =>
      PartitionedFile(partValuesOf(rel, zone),
        SparkPath.fromPathString(s"${ctx.base}/$rel"), 0, size,
        Array.empty, 0L, size, Map.empty)
    }
    // Spark's standard split sizing: pack small files up to
    // maxPartitionBytes, floor at openCostInBytes, spread across cores
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val total = files.map(_.length + openCost).sum
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, total / cores))
    FilePartition.getFilePartitions(spark,
      files.sortBy(-_.length), maxSplit).toArray
  }

  /** hive `k=v` path segments → typed partition values (null for the
    * default-partition marker), cast through the declared column types;
    * the trailing `_file` slot carries the file's layer-relative path.
    */
  private def partValuesOf(rel: String, zone: String): InternalRow = {
    val kv = rel.split('/').dropRight(1).toSeq.filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i).toLowerCase -> seg.substring(i + 1)
      }.toMap
    InternalRow.fromSeq(partSchema.map { f =>
      if (f.name == LakeTable.FileMetadataCol)
        UTF8String.fromString(s"${ctx.base}/$rel")
      else kv.get(f.name.toLowerCase) match {
        case Some("__HIVE_DEFAULT_PARTITION__") | None => null
        case Some(raw) =>
          val s = ExternalCatalogUtils.unescapePathName(raw)
          Cast(Literal(UTF8String.fromString(s), StringType), f.dataType,
            Option(zone)).eval(null)
      }
    })
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the exact conf recipe ParquetScan.createReaderFactory uses — the
    // reader-side ParquetReadSupport initializes from the hadoop conf
    val conf = spark.sessionState.conf
    val hc = spark.sessionState.newHadoopConf()
    hc.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hc.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      ctx.physicalDataSchema.json)
    hc.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, ctx.physicalDataSchema.json)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hc.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hc.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hc.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      conf.isParquetBinaryAsString)
    hc.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hc.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hc.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(hc))
    ParquetPartitionReaderFactory(conf, bc, ctx.physicalDataSchema,
      ctx.physicalDataSchema, partSchema, Array.empty, None,
      new ParquetOptions(Map.empty[String, String], conf))
  }
}

/** The REPLACE write of a row-level operation: tasks stream replacement
  * rows into a staging snapshot dir as parquet (hive layout preserved,
  * physical column names under mapping, CHECK constraints enforced per
  * row), the driver commits (carried-by-reference + staged) through
  * [[Lake.rowLevelCommit]] with OCC. Only commit-message-vouched files
  * enter the manifest — speculative/failed attempts are swept.
  */
final class LakeRowLevelWrite(spark: SparkSession, base: String,
    layer: String, op: LakeRowLevelOperation, info: LogicalWriteInfo)
    extends Write {

  override def description(): String =
    s"lake row-level write on $base/$layer"

  override def toBatch: BatchWrite = new BatchWrite {
    private val lake = new Lake(spark, LakeConfig(basePath = base))
    private val ctx = op.pinned.getOrElse(throw new IllegalStateException(
      s"row-level write on '$layer' planned without its scan — the " +
        "group-based rewrite always builds the scan first"))
    private val newSnap = lake.rowLevelStagingDir(layer)

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
        : DataWriterFactory =
      LakeTaskWrite.factory(spark, layer, newSnap, info.schema(),
        ctx.partCols, ctx.mapping, ctx.logicalSchema,
        ctx.constraints, ctx.generated)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val keep = messages.iterator.flatMap {
        case m: LakeRowLevelCommitMessage => m.files
        case _ => Nil
      }.toSet
      lake.rowLevelCommit(layer, ctx.parent, ctx.affected.toSet, newSnap,
        keep, op.command().toString)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val f = newSnap.getFileSystem(
        spark.sessionState.newHadoopConf())
      f.delete(newSnap, true)
      ()
    }
  }

  /** CHECK constraints compiled ONCE on the driver — parsed by the
    * session's parser, analyzed (type coercion included) against the
    * write schema, bound to row ordinals — then evaluated per row in the
    * tasks. Same SQL-standard semantics as the batch gate
    * ([[Lake.validateConstraints]]): violated iff the predicate is FALSE
    * (null passes).
    */
}

/** Driver-side task-writer setup shared by the row-level write and the
  * dynamic-partition-overwrite write: both stream hive-partitioned
  * parquet task files into a staging version dir through
  * [[LakeRowLevelWriterFactory]], with CHECK constraints and GENERATED
  * expressions compiled once here and evaluated per row in the tasks.
  */
private[io] object LakeTaskWrite {

  def factory(spark: SparkSession, layer: String, stagingDir: Path,
      rowSchema: StructType, partCols: Seq[String],
      mapping: Map[String, String], logicalSchema: StructType,
      constraints: Seq[(String, String)],
      generated: Seq[(String, String)]): DataWriterFactory = {
    val conf = spark.sessionState.conf
    val resolve = (n: String) => rowSchema.fieldNames
      .indexWhere(_.equalsIgnoreCase(n))
    val partIdx = partCols.map { c =>
      val i = resolve(c)
      require(i >= 0, s"partition column '$c' missing from the " +
        s"staged write schema ${rowSchema.fieldNames.mkString(",")}")
      i
    }.toArray
    // Spark 4's rewrite plans prepend metadata columns (e.g.
    // __row_operation on ReplaceData rows — every row of a group-based
    // write is a WRITE, so its value is noise here). Data columns are
    // resolved BY NAME against the table schema; an unresolvable
    // non-metadata column fails loudly rather than landing misaligned.
    val tableCols = logicalSchema.fieldNames
      .map(_.toLowerCase).toSet
    val dataIdx = rowSchema.fieldNames.indices.filter { i =>
      val n = rowSchema.fieldNames(i)
      val isTableCol = tableCols.contains(n.toLowerCase)
      require(isTableCol || n.startsWith("__"),
        s"staged write column '$n' is neither a table column of " +
          s"'$layer' (${logicalSchema.fieldNames.mkString(",")}) " +
          "nor Spark rewrite metadata")
      isTableCol && !partIdx.contains(i)
    }.toArray
    // staged files carry PHYSICAL names (column mapping), logical order
    val fileSchema = StructType(dataIdx.map { i =>
      val f = rowSchema(i)
      f.copy(name = mapping.getOrElse(f.name, f.name))
    })
    val zone = conf.sessionLocalTimeZone
    // hive path fragment rendering: value cast to string, then escaped
    val partStr: Array[Expression] = partIdx.map(i =>
      Cast(BoundReference(i, rowSchema(i).dataType, nullable = true),
        StringType, Option(zone)))
    val hc = spark.sessionState.newHadoopConf()
    // the four keys SparkToParquetSchemaConverter(Configuration) reads
    // unguarded (ParquetWriteSupport.init constructs it from the conf)
    hc.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      conf.writeLegacyParquetFormat.toString)
    hc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      conf.parquetOutputTimestampType.toString)
    hc.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      conf.parquetFieldIdWriteEnabled.toString)
    hc.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      conf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, zone)
    ParquetWriteSupport.setSchema(fileSchema, hc)
    val codec = new ParquetOptions(Map.empty[String, String], conf)
      .compressionCodecClassName
    new LakeRowLevelWriterFactory(new SerializableConfiguration(hc),
      stagingDir.toString, rowSchema, partIdx, partStr,
      partCols.toArray, dataIdx, codec,
      boundConstraints(spark, rowSchema, constraints),
      boundGenerated(spark, rowSchema, generated), layer)
  }

  private def boundConstraints(spark: SparkSession, schema: StructType,
      constraints: Seq[(String, String)])
      : Array[(String, String, Expression)] = {
    val attrs = DataTypeUtils.toAttributes(schema)
    constraints.map { case (name, sql) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer
        .execute(Filter(parsed, LocalRelation(attrs)))
      val cond = analyzed.collectFirst {
        case Filter(c, _) => c
      }.getOrElse(throw new IllegalStateException(
        s"constraint '$name' CHECK ($sql) did not analyze to a predicate"))
      (name, sql, BindReferences.bindReference(cond, attrs))
    }.toArray
  }

  /** GENERATED ALWAYS AS expressions compiled once on the driver and
    * RECOMPUTED per row in the tasks — the batch row-op path's recompute
    * mode, so a v2 UPDATE/MERGE that touches a source column keeps the
    * invariant without the statement ever mentioning the generated
    * column. Analyzed against the write schema with a cast to the
    * column's declared type, bound to row ordinals.
    */
  private def boundGenerated(spark: SparkSession, schema: StructType,
      generated: Seq[(String, String)]): Array[(Int, Expression)] =
    generated.flatMap { case (name, sql) =>
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (idx < 0) None
      else {
        val attrs = DataTypeUtils.toAttributes(schema)
        val parsed = spark.sessionState.sqlParser.parseExpression(sql)
        val analyzed = spark.sessionState.analyzer.execute(Project(
          Seq(Alias(Cast(parsed, schema(idx).dataType), name)()),
          LocalRelation(attrs)))
        val e = analyzed.collectFirst {
          case Project(Seq(a: Alias), _) => a.child
        }.getOrElse(throw new IllegalStateException(
          s"generated column '$name' AS ($sql) did not analyze to an " +
            "expression"))
        Some(idx -> BindReferences.bindReference(e, attrs))
      }
    }.toArray
}

/** The v2 write behind `INSERT OVERWRITE` (and
  * `df.writeTo(t).overwritePartitions()`) under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`: stage the
  * increment as hive-partitioned parquet task files, then in ONE
  * parent-checked commit replace exactly the partitions the staged
  * files landed in — every untouched partition rides the manifest by
  * reference. The touched set derives from the staged `k=v` path
  * fragments at COMMIT time (no pre-scan of the query), and the commit
  * reuses the row-level funnel ([[Lake.rowLevelCommit]]): stray-task
  * sweep, metrics, OCC parent check, rebase-free strict conflict.
  * Zero staged rows = zero partitions replaced (the Hive contract).
  * Identity layers refuse (dense allocation needs the batch funnel —
  * use [[Lake.overwritePartitionsDynamic]]); DV/row-tracking refusals
  * ride [[Lake.rowLevelSnapshot]] like every v2 write.
  */
private[io] final class LakeDynamicOverwriteWrite(spark: SparkSession,
    base: String, layer: String, info: LogicalWriteInfo) extends Write {

  override def description(): String =
    s"lake dynamic partition overwrite on $base/$layer"

  override def toBatch: BatchWrite = new BatchWrite {
    private val lake = new Lake(spark, LakeConfig(basePath = base))
    private val ctx = lake.rowLevelSnapshot(layer, None)
    require(ctx.partCols.nonEmpty,
      s"INSERT OVERWRITE in dynamic mode on '$layer': the table is not " +
        "partitioned — dynamic overwrite has no partitions to derive " +
        "(static mode replaces the whole table)")
    require(lake.identityColumns(layer).isEmpty,
      s"dynamic partition overwrite on '$layer': the layer declares " +
        "IDENTITY columns — dense allocation needs the batch funnel; " +
        "use Lake.overwritePartitionsDynamic")
    private val newSnap = lake.rowLevelStagingDir(layer)

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
        : DataWriterFactory =
      LakeTaskWrite.factory(spark, layer, newSnap, info.schema(),
        ctx.partCols, ctx.mapping, ctx.logicalSchema,
        ctx.constraints, ctx.generated)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val keep = messages.iterator.flatMap {
        case m: LakeRowLevelCommitMessage => m.files
        case _ => Nil
      }.toSet
      // touched partitions = the ordered k=v fragment tuples of the
      // staged rels; head files matching a touched tuple are replaced.
      // Both sides render fragments through the same hive escaping
      // (Spark's layout writes and LakeRowLevelWriterFactory.partDirOf),
      // so tuple equality is exact string equality.
      val prefixes = ctx.partCols.map(c =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(c) + "=")
      def tupleOf(rel: String): Seq[String] =
        rel.split('/').iterator
          .filter(seg => prefixes.exists(seg.startsWith)).toSeq
      val touched = keep.map(tupleOf)
      val affected = ctx.inventory
        .filter(rel => touched.contains(tupleOf(rel))).toSet
      lake.rowLevelCommit(layer, ctx.parent, affected, newSnap, keep,
        "DYNAMIC OVERWRITE")
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val f = newSnap.getFileSystem(spark.sessionState.newHadoopConf())
      f.delete(newSnap, true)
      ()
    }
  }
}

private[io] final case class LakeRowLevelCommitMessage(files: Seq[String])
  extends WriterCommitMessage

/** Per-task writer: one parquet file per hive partition encountered,
  * streamed through Spark's own [[ParquetWriteSupport]] (the identical
  * row→parquet kernel the v1 write path uses) — no buffering beyond
  * parquet's row groups, no driver involvement. Commit message = the
  * staging-relative files this attempt produced.
  */
private[io] final class LakeRowLevelWriterFactory(
    conf: SerializableConfiguration, stagingDir: String,
    rowSchema: StructType, partIdx: Array[Int],
    partStr: Array[Expression], partNames: Array[String],
    dataIdx: Array[Int], codec: String,
    checks: Array[(String, String, Expression)],
    gens: Array[(Int, Expression)], layer: String)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {

    private val writers =
      mutable.LinkedHashMap.empty[String, (String, ParquetWriter[InternalRow])]
    private val dataProj = UnsafeProjection.create(dataIdx.map(i =>
      BoundReference(i, rowSchema(i).dataType, nullable = true)
        .asInstanceOf[Expression]))
    // full-row projection with generated ordinals replaced by their
    // recomputed expressions — identity when the layer declares none
    private val genProj: InternalRow => InternalRow =
      if (gens.isEmpty) identity
      else {
        val byIdx = gens.toMap
        val p = UnsafeProjection.create(rowSchema.indices.map(i =>
          byIdx.getOrElse(i, BoundReference(i, rowSchema(i).dataType,
            nullable = true): Expression)).toArray)
        r => p(r)
      }
    private var closed = false

    override def write(row0: InternalRow): Unit = {
      val row = genProj(row0)
      var i = 0
      while (i < checks.length) {
        val (name, sql, e) = checks(i)
        if (java.lang.Boolean.FALSE.equals(e.eval(row)))
          throw new IllegalArgumentException(
            s"row op on '$layer' violates CHECK constraint $name " +
              s"CHECK ($sql)")
        i += 1
      }
      writers.getOrElseUpdate(partDirOf(row), open(partDirOf(row)))
        ._2.write(dataProj(row))
    }

    private def partDirOf(row: InternalRow): String = {
      if (partIdx.isEmpty) return ""
      val segs = new Array[String](partIdx.length)
      var i = 0
      while (i < partIdx.length) {
        val v = partStr(i).eval(row)
        val s =
          if (v == null || v.toString.isEmpty) "__HIVE_DEFAULT_PARTITION__"
          else ExternalCatalogUtils.escapePathName(v.toString)
        segs(i) = s"${ExternalCatalogUtils.escapePathName(partNames(i))}=$s"
        i += 1
      }
      segs.mkString("/")
    }

    private def open(dir: String): (String, ParquetWriter[InternalRow]) = {
      val ext = codec.toLowerCase match {
        case "uncompressed" => ""
        case c => s".$c"
      }
      val name = f"part-$partitionId%05d-$taskId-" +
        s"${UUID.randomUUID().toString.take(8)}$ext.parquet"
      val rel = if (dir.isEmpty) name else s"$dir/$name"
      val builder = new LakeRowLevelWriterFactory.InternalRowWriterBuilder(
        new Path(s"$stagingDir/$rel"))
      val w = builder.withConf(conf.value)
        .withCompressionCodec(CompressionCodecName.fromConf(codec))
        .build()
      (rel, w)
    }

    override def commit(): WriterCommitMessage = {
      close()
      LakeRowLevelCommitMessage(writers.values.map(_._1).toSeq)
    }

    override def abort(): Unit = {
      close()
      val f = new Path(stagingDir).getFileSystem(conf.value)
      writers.values.foreach { case (rel, _) =>
        f.delete(new Path(s"$stagingDir/$rel"), false)
      }
    }

    override def close(): Unit = if (!closed) {
      closed = true
      writers.values.foreach(_._2.close())
    }
  }
}

private[io] object LakeRowLevelWriterFactory {
  /** parquet-hadoop builder plumbing: the write support is Spark's own
    * [[ParquetWriteSupport]], initialized from the hadoop conf (schema
    * set driver-side via `ParquetWriteSupport.setSchema`).
    */
  final class InternalRowWriterBuilder(path: Path)
      extends ParquetWriter.Builder[InternalRow, InternalRowWriterBuilder](
        path) {
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
    override def self(): InternalRowWriterBuilder = this
  }
}
