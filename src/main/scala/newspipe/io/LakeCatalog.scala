package newspipe.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, NewspipeSqlBridge, Row,
  SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Cast, EqualTo, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable,
  StagingTableCatalog, SupportsDelete, SupportsNamespaces,
  SupportsPartitionManagement, SupportsRead, SupportsWrite, Table,
  TableCapability, TableCatalog, TableChange, NamespaceChange,
  Column => V2Column}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation,
  PrunedFilteredScan, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `TableCatalog` over [[Lake]] layers — the surface that
  * makes the lake a first-class SQL citizen, the way the reference's gold
  * layer is published to a metastore for BI consumption (ref
  * `03_gold_modeling_news_articles.py:84-103`):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.lake", "newspipe.io.LakeCatalog")
  * spark.conf.set("spark.sql.catalog.lake.basePath", "/lake/root") // optional
  *
  * SELECT * FROM lake.docs                              -- basePath form
  * SELECT * FROM lake.`/lake/root`.docs                 -- explicit base
  * SELECT * FROM lake.docs VERSION AS OF 3              -- history ordinal
  * SELECT * FROM lake.docs TIMESTAMP AS OF '2026-…'     -- time travel
  * INSERT INTO lake.docs SELECT …                       -- appendAtomic
  * INSERT OVERWRITE lake.docs SELECT …                  -- writeAtomic
  * DELETE FROM lake.docs WHERE lang = 'zh'              -- deleteWhere
  * CREATE TABLE lake.t2 (id BIGINT, text STRING)        -- empty snapshot
  * }}}
  *
  * Identifier → layer mapping: the namespace element is either an absolute
  * path (backticked, it carries slashes) or a name joined under the
  * catalog's `basePath` option; an EMPTY namespace means `basePath` itself
  * — so `lake.docs`, `lake.gold.docs` and `lake.`/abs/path`.docs` all
  * resolve. `VERSION AS OF` accepts a history ordinal (1-based, the
  * DESCRIBE HISTORY numbering) or a full snapshot version id.
  *
  * Read path: with [[newspipe.NewspipeExtensions]] registered, the
  * [[LakeV2ReadRewrite]] resolution rule substitutes the catalog relation
  * with [[Lake.read]]'s v1 plan — the manifest-backed [[LakeFileIndex]]
  * scan (vectorized parquet, pushdown, stats skipping, DV filtering), so
  * catalog SQL and the Scala API produce the SAME physical plan. Without
  * extensions the table still reads through a [[V1Scan]] fallback
  * (correct, not file-skipping). Writes always route through
  * [[Lake.appendAtomic]]/[[Lake.writeAtomic]] via the V1 write fallback, so
  * every commit-protocol guarantee (parent check, commit lock, constraint
  * enforcement, schema-evolution arbitration) holds identically for SQL.
  *
  * DML beyond DELETE (UPDATE / MERGE / OPTIMIZE / VACUUM / RESTORE /
  * DESCRIBE HISTORY) stays on the [[LakeSql]] statement surface — those
  * need the row-op rewrite machinery, not a catalog hook.
  *
  * Streaming: with extensions registered,
  * `spark.readStream.table("lake.….docs")` resolves to the V1 change
  * source as a rows-only insert stream (initial snapshot + per-commit
  * appends; delete/update commits skipped) — see
  * [[LakeTable.toV1StreamingPlan]].
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catName: String = "lake"
  private var defaultBase: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    defaultBase = Option(options.get("basePath")).map(_.stripSuffix("/"))
  }

  override def name(): String = catName

  /** Opt into Spark's `GENERATED ALWAYS AS (expr)` column syntax: the
    * parser only admits generation expressions for catalogs declaring
    * this capability, and hands them to [[createTable]] on the V2Column
    * (`generationExpression()`); enforcement is ours from there (the
    * lake.generated.* property + every commit path's fill/validate gate).
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Namespace → layer base directory (see class doc). RENAME targets
    * arrive with the catalog name still prefixed to the namespace
    * (RenameTableExec passes the user's multipart name as-is) — strip it.
    */
  private def baseOf(ns0: Seq[String]): String = {
    val ns = if (ns0.headOption.exists(_.equalsIgnoreCase(catName)))
      ns0.tail else ns0
    baseOfStripped(ns)
  }

  private def baseOfStripped(ns: Seq[String]): String = ns.toList match {
    case Nil => defaultBase.getOrElse(throw new IllegalArgumentException(
      s"catalog '$catName' has no default base path — set " +
        s"spark.sql.catalog.$catName.basePath or qualify the table as " +
        s"$catName.`/base/path`.layer"))
    case first :: rest if first.startsWith("/") =>
      (first :: rest).mkString("/")
    case parts => defaultBase match {
      case Some(b) => (b :: parts).mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog '$catName': relative namespace ${parts.mkString(".")} " +
          s"needs spark.sql.catalog.$catName.basePath")
    }
  }

  private def layerExists(base: String, layer: String): Boolean = {
    val lp = new Path(s"$base/$layer")
    val f = fsOf(lp)
    f.exists(lp) && {
      // O(1) fast path: a verified `_LAST` head pointer proves a committed
      // snapshot without listing `_v` (the pointer is written inside the
      // commit lock right after the marker — see Lake.latestSnapshot)
      val pointed = new Lake(spark, LakeConfig(basePath = base))
        .headVersion(layer).isDefined
      pointed || {
        val vdir = new Path(lp, "_v")
        val hasCommit = f.exists(vdir) && f.listStatus(vdir).exists(s =>
          s.isDirectory && f.exists(new Path(s.getPath, "_COMMITTED")))
        hasCommit ||
          f.listStatus(lp).exists(!_.getPath.getName.startsWith("_"))
      }
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = baseOf(namespace.toSeq)
    val bp = new Path(base)
    val f = fsOf(bp)
    if (!f.exists(bp)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    f.listStatus(bp).filter(_.isDirectory).map(_.getPath.getName)
      .filter(l => layerExists(base, l))
      .sorted
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    layerExists(baseOf(ident.namespace.toSeq), ident.name)

  override def loadTable(ident: Identifier): Table = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    LakeTable(spark, base, ident.name, None, catName)
  }

  /** `VERSION AS OF <v>`: a 1-based history ordinal (DESCRIBE HISTORY
    * numbering — commit 1 is the oldest) or a full snapshot version id.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    val lake = new Lake(spark, LakeConfig(basePath = base))
    val resolved =
      if (version.forall(_.isDigit) && version.length <= 9) {
        val all = lake.listVersions(ident.name).sorted // ids sort by commit ms
        val ord = version.toInt
        require(ord >= 1 && ord <= all.size,
          s"${ident.name}: VERSION AS OF $ord out of range 1..${all.size}")
        all(ord - 1)
      } else version
    LakeTable(spark, base, ident.name, Some(resolved), catName)
  }

  /** `TIMESTAMP AS OF …`: Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    val lake = new Lake(spark, LakeConfig(basePath = base))
    LakeTable(spark, base, ident.name, catName = catName,
      pinnedVersion =
      Some(lake.resolveVersionAt(ident.name, timestampMicros / 1000L)))
  }

  override def createTable(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    createFromDecl(ident, deriveDecl(columns, partitions, properties))

  /** TableInfo form — the one Spark's exec nodes call; carries TABLE
    * CONSTRAINTS (`CREATE TABLE … (…, CONSTRAINT c CHECK (…))`) that the
    * Column[] delegation would silently drop.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val decl = deriveDecl(info.columns(), info.partitions(),
      info.properties())
    val cProps = info.constraints().map(LakeConstraints.toProperty).toMap
    createFromDecl(ident, decl.copy(props = decl.props ++ cProps))
  }

  private def createFromDecl(ident: Identifier,
      decl: LakeTableDecl): Table = {
    val base = baseOf(ident.namespace.toSeq)
    if (layerExists(base, ident.name))
      throw new TableAlreadyExistsException(ident)
    val lake = new Lake(spark, LakeConfig(basePath = base))
    // Properties land BEFORE the first commit (the layer dir can carry
    // _PROPERTIES.json ahead of any snapshot): a concurrent INSERT INTO —
    // or a crash between the two steps — never observes a table missing
    // its declared partition layout or constraint enforcement.
    if (decl.props.nonEmpty) lake.setProperties(ident.name, decl.props)
    // an empty-but-schema-carrying first commit: Spark writes one empty
    // parquet footer for a zero-partition frame, so reads resolve the
    // declared schema immediately (and CTAS appends land as commit 2)
    lake.writeAtomic(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], decl.schema),
      ident.name, partitionBy = decl.partCols)
    LakeTable(spark, base, ident.name, None, catName)
  }

  /** Schema + partition layout + property-set derivation shared by
    * [[createTable]] and the staged atomic paths ([[stageCreate]] /
    * [[stageReplace]] / [[stageCreateOrReplace]]).
    */
  private def deriveDecl(columns: Array[V2Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): LakeTableDecl = {
    // identity transforms only (hive partitioning); bucket/days/etc. have
    // no lake layout to land in. CREATE TABLE … CLUSTER BY arrives as a
    // ClusterByTransform — split it out into the clustering declaration.
    val clusterCols = partitions.collectFirst {
      case org.apache.spark.sql.connector.expressions
          .ClusterByTransform(refs) =>
        refs.map { r =>
          require(r.fieldNames.length == 1,
            s"lake CLUSTER BY takes top-level columns; got ${r.describe}")
          r.fieldNames.head
        }
    }.getOrElse(Nil)
    val partCols = partitions.filterNot(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions
        .ClusterByTransform]).map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case other => throw new IllegalArgumentException(
        s"lake catalog supports PARTITIONED BY (col, …) — identity " +
          s"transforms only; got: $other")
    }
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType,
        c.nullable)))
    partCols.foreach(pc => require(schema.fieldNames.contains(pc),
      s"PARTITIONED BY column '$pc' is not in the table schema"))
    clusterCols.foreach(cc => require(schema.fieldNames.contains(cc),
      s"CLUSTER BY column '$cc' is not in the table schema"))
    require(clusterCols.intersect(partCols.toSeq).isEmpty,
      "CLUSTER BY and PARTITIONED BY columns must be disjoint (a hive " +
        "partition column is constant within its files)")
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, "transient_lastDdlTime")
    val user = properties.asScala.filter { case (k, _) => !reserved(k) }
    // the declared layout survives the empty first commit via the
    // lake.partitionBy property — appendAtomic consults it when the
    // inventory carries no k=v dirs yet
    val withPart = {
      val p = if (partCols.isEmpty) user.toMap
        else user.toMap + ("lake.partitionBy" -> partCols.mkString(","))
      if (clusterCols.isEmpty) p
      else p + (Lake.ClusterByProp -> clusterCols.mkString(","))
    }
    // NOT NULL column declarations become CHECK constraints (Delta's
    // enforcement shape): every subsequent commit validates its increment
    // through the same gate as user CHECKs — reads still normalize to
    // nullable (file-source contract), the WRITE side is what enforces.
    // Key carries a short md5 of the RAW name so sanitized collisions
    // (`a b` vs `a_b`) keep distinct constraints.
    val notNullChecks = columns.filterNot(_.nullable).map { c =>
      val sanitized =
        c.name.map(ch => if (ch.isLetterOrDigit) ch else '_')
      val tag =
        if (sanitized == c.name) ""
        else "_" + java.security.MessageDigest.getInstance("MD5")
          .digest(c.name.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(6)
      s"lake.constraint.notnull_$sanitized$tag" ->
        s"`${c.name}` IS NOT NULL"
    }.toMap
    // GENERATED ALWAYS AS columns: one property per declaration. The
    // reference rules are Delta's — no self-reference, no reference to
    // another generated column — checked here so a bad declaration fails
    // the CREATE, not the first INSERT. Partitioning ON a generated
    // column is the headline use (date(ts) layouts; see
    // Lake.augmentGenerated for the ts-predicate pruning derivation).
    val genNames = columns.filter(_.generationExpression() != null)
      .map(_.name()).toSet
    val genProps = columns.filter(_.generationExpression() != null).map { c =>
      val genSql = c.generationExpression()
      val refs = spark.sessionState.sqlParser.parseExpression(genSql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.head
        }.distinct
      require(!refs.exists(_.equalsIgnoreCase(c.name())),
        s"generated column '${c.name()}' cannot reference itself")
      val bad = refs.filter(r => genNames.exists(g =>
        g.equalsIgnoreCase(r) && !g.equalsIgnoreCase(c.name())))
      require(bad.isEmpty, s"generated column '${c.name()}' cannot " +
        s"reference other generated column(s) ${bad.mkString(", ")}")
      s"lake.generated.${c.name()}" -> genSql
    }.toMap
    // IDENTITY columns: `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY
    // (START WITH s INCREMENT BY k)` — one property per declaration;
    // allocation/enforcement is the commit gate's (Lake.applyIdentity).
    val idProps = columns.filter(_.identityColumnSpec() != null).map { c =>
      val sp = c.identityColumnSpec()
      require(Seq("tinyint", "smallint", "int", "bigint")
          .contains(c.dataType.simpleString),
        s"identity column '${c.name()}' must be integral; found " +
          c.dataType.simpleString)
      require(c.generationExpression() == null,
        s"column '${c.name()}' cannot be both IDENTITY and GENERATED " +
          "ALWAYS AS (expr)")
      s"lake.identity.${c.name()}" ->
        s"${sp.getStart},${sp.getStep},${sp.isAllowExplicitInsert}"
    }.toMap
    // DEFAULT column values: `CREATE TABLE … (c T DEFAULT expr)` — one
    // property per declaration; the commit gate (Lake.applyDefaults)
    // fills increments that omit the column, and Spark's own INSERT
    // analysis fills column-list statements through the defaults
    // LakeTable.columns() reports back. ANSI constant rule checked here
    // so a bad declaration fails the CREATE, not the first INSERT.
    val defProps = columns.filter(_.defaultValue() != null).map { c =>
      val sql = c.defaultValue().getSql
      require(sql != null && sql.trim.nonEmpty,
        s"column '${c.name()}' DEFAULT must carry its SQL text")
      val refs = spark.sessionState.sqlParser.parseExpression(sql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.head
        }.distinct
      require(refs.isEmpty,
        s"column '${c.name()}' DEFAULT must be a constant expression; " +
          s"'$sql' references ${refs.mkString(", ")}")
      require(c.generationExpression() == null &&
          c.identityColumnSpec() == null,
        s"column '${c.name()}' cannot combine DEFAULT with " +
          "GENERATED/IDENTITY")
      s"lake.defaultValue.${c.name()}" -> sql
    }.toMap
    val allProps = withPart ++ notNullChecks ++ genProps ++ idProps ++
      defProps
    LakeTableDecl(schema, partCols.toSeq, allProps)
  }

  // ---- atomic CREATE OR REPLACE / RTAS (StagingTableCatalog) --------------
  //
  // Spark plans REPLACE TABLE [AS SELECT] through the Atomic*Exec nodes
  // when the catalog stages: the query writes into a [[StagedLakeTable]]
  // that touches NOTHING visible, and `commitStagedChanges()` lands the
  // whole replacement — declaration swap + data — with the data flip
  // riding [[Lake.writeAtomic]]'s one-marker commit. Readers see the old
  // incarnation until that marker exists; history (time travel, CDF)
  // keeps every pre-replace version, Delta's REPLACE semantics.

  override def stageCreate(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val base = baseOf(ident.namespace.toSeq)
    if (layerExists(base, ident.name))
      throw new TableAlreadyExistsException(ident)
    new StagedLakeTable(spark, base, ident.name,
      deriveDecl(columns, partitions, properties),
      requireNoParent = true, catName)
  }

  override def stageReplace(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val base = baseOf(ident.namespace.toSeq)
    // ANSI: REPLACE (without OR CREATE) on a missing table refuses at
    // stage time — nothing is written before the refusal
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    new StagedLakeTable(spark, base, ident.name,
      deriveDecl(columns, partitions, properties),
      requireNoParent = false, catName)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[V2Column], partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val base = baseOf(ident.namespace.toSeq)
    new StagedLakeTable(spark, base, ident.name,
      deriveDecl(columns, partitions, properties),
      requireNoParent = false, catName)
  }

  /** TableInfo staged forms: keep the TABLE CONSTRAINTS the Column[]
    * delegation would drop (same role as the createTable TableInfo
    * override). */
  private def declOf(info: org.apache.spark.sql.connector.catalog.TableInfo)
      : LakeTableDecl = {
    val decl = deriveDecl(info.columns(), info.partitions(),
      info.properties())
    decl.copy(props = decl.props ++
      info.constraints().map(LakeConstraints.toProperty))
  }

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = {
    val base = baseOf(ident.namespace.toSeq)
    if (layerExists(base, ident.name))
      throw new TableAlreadyExistsException(ident)
    new StagedLakeTable(spark, base, ident.name, declOf(info),
      requireNoParent = true, catName)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    new StagedLakeTable(spark, base, ident.name, declOf(info),
      requireNoParent = false, catName)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable =
    new StagedLakeTable(spark, baseOf(ident.namespace.toSeq), ident.name,
      declOf(info), requireNoParent = false, catName)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) throw new NoSuchTableException(ident)
    val lake = new Lake(spark, LakeConfig(basePath = base))
    def topLevel(parts: Array[String], what: String): String = {
      require(parts.length == 1,
        s"lake columns are top-level; got $what ${parts.mkString(".")}")
      parts.head
    }
    val updates = changes.flatMap {
      case set: TableChange.SetProperty => Some(set.property -> set.value)
      case rm: TableChange.RemoveProperty => Some(rm.property -> "")
      case rc: TableChange.RenameColumn =>
        lake.renameColumn(ident.name,
          topLevel(rc.fieldNames, "RENAME COLUMN"), rc.newName)
        None
      case dc: TableChange.DeleteColumn =>
        val name = topLevel(dc.fieldNames, "DROP COLUMN")
        if (!dc.ifExists ||
            lake.layerSchema(ident.name).fieldNames.contains(name))
          lake.dropColumn(ident.name, name)
        None
      case ac: TableChange.AddColumn =>
        require(ac.isNullable,
          "lake ADD COLUMN: added columns must be nullable (no existing " +
            "row can satisfy NOT NULL) — add, backfill, then constrain")
        require(ac.position() == null,
          "lake ADD COLUMN appends at the end of the schema (FIRST/AFTER " +
            "would reorder carried files' physical layout)")
        lake.addColumn(ident.name,
          topLevel(ac.fieldNames, "ADD COLUMN"), ac.dataType)
        None
      case uc: TableChange.UpdateColumnType =>
        lake.widenColumn(ident.name,
          topLevel(uc.fieldNames, "ALTER COLUMN TYPE"), uc.newDataType)
        None
      case cb: TableChange.ClusterBy =>
        lake.setClusterBy(ident.name,
          cb.clusteringColumns.toSeq.map(r =>
            topLevel(r.fieldNames, "CLUSTER BY")))
        None
      case ud: TableChange.UpdateColumnDefaultValue =>
        val name = topLevel(ud.fieldNames, "ALTER COLUMN DEFAULT")
        val sql = Option(ud.newCurrentDefault()).map(_.getSql)
          .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
        sql match {
          case Some(s) => lake.setColumnDefault(ident.name, name, s)
          case None => lake.dropColumnDefault(ident.name, name)
        }
        None
      case ac: TableChange.AddConstraint =>
        val (key, value) = LakeConstraints.toProperty(ac.constraint())
        if (key.startsWith(LakeConstraints.CheckPrefix))
          // enforced CHECK: existing data must satisfy it (one validation
          // scan, then increments-only) — Lake.addConstraint's contract
          lake.addConstraint(ident.name,
            key.stripPrefix(LakeConstraints.CheckPrefix), value)
        else
          lake.setProperties(ident.name, Map(key -> value))
        None
      case dc: TableChange.DropConstraint =>
        val n = dc.name()
        val props = lake.properties(ident.name)
        if (props.contains(LakeConstraints.CheckPrefix + n))
          lake.dropConstraint(ident.name, n)
        else if (props.contains(LakeConstraints.InfoPrefix + n))
          lake.setProperties(ident.name,
            Map(LakeConstraints.InfoPrefix + n -> ""))
        else if (!dc.ifExists) throw new IllegalArgumentException(
          s"table ${ident.name} has no constraint '$n'")
        None
      case other => throw new IllegalArgumentException(
        s"lake catalog supports SET/UNSET TBLPROPERTIES, ADD COLUMN, " +
          s"RENAME/DROP COLUMN, ALTER COLUMN TYPE (widening only) and " +
          s"ADD/DROP CONSTRAINT here (got: $other)")
    }
    if (updates.nonEmpty) lake.setProperties(ident.name, updates.toMap)
    LakeTable(spark, base, ident.name, None, catName)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val base = baseOf(ident.namespace.toSeq)
    if (!layerExists(base, ident.name)) return false
    val lp = new Path(s"$base/${ident.name}")
    // a recreated table at the same path must start with a blank
    // COPY INTO loading history (key = FS-QUALIFIED path, matching
    // copyInto's cache key; copyInto ALSO self-heals by validating the
    // cached scanned-version set against the live listing, so even an
    // out-of-band delete+recreate never reuses a stale ledger)
    Lake.copyLedgerInvalidate(fsOf(lp).makeQualified(lp).toString)
    fsOf(lp).delete(lp, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val oldP = new Path(s"${baseOf(oldIdent.namespace.toSeq)}/${oldIdent.name}")
    val newP = new Path(s"${baseOf(newIdent.namespace.toSeq)}/${newIdent.name}")
    val f = fsOf(oldP)
    if (!f.exists(oldP)) throw new NoSuchTableException(oldIdent)
    if (f.exists(newP)) throw new TableAlreadyExistsException(newIdent)
    require(f.rename(oldP, newP),
      s"rename $oldP -> $newP failed (cross-filesystem move?)")
  }

  // ---- namespaces (base directories) --------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    defaultBase.map(_ => Array(Array.empty[String])).getOrElse(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty && defaultBase.isDefined ||
      (try fsOf(new Path(baseOf(namespace.toSeq)))
        .exists(new Path(baseOf(namespace.toSeq)))
      catch { case _: IllegalArgumentException => false })

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    fsOf(new Path(baseOf(namespace.toSeq)))
      .mkdirs(new Path(baseOf(namespace.toSeq)))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "lake namespaces are plain directories — nothing to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new Path(baseOf(namespace.toSeq))
    val f = fsOf(p)
    if (!f.exists(p)) return false
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    f.delete(p, true)
  }
}

/** One lake layer (optionally pinned to a snapshot version) as a DSv2
  * table. Capabilities are deliberately the V1-fallback trio: reads are
  * REWRITTEN to [[Lake.read]]'s plan by [[LakeV2ReadRewrite]] (or served
  * by the [[V1Scan]] fallback), writes run through the commit protocol —
  * the catalog adds SQL addressing, never a second storage path.
  */
/** A CREATE/REPLACE statement's derived declaration: logical schema, hive
  * partition columns, and the layer property set (layout, NOT NULL
  * checks, GENERATED/IDENTITY/DEFAULT declarations, user properties).
  */
private[io] final case class LakeTableDecl(schema: StructType,
    partCols: Seq[String], props: Map[String, String])

/** The v2 table-constraint surface (Spark 4's `Constraint` framework,
  * Delta's posture): CHECK constraints ENFORCE (they land on the same
  * `lake.constraint.<name>` property as [[Lake.addConstraint]] — every
  * commit increment validates); PRIMARY KEY / FOREIGN KEY / UNIQUE are
  * INFORMATIONAL (`NOT ENFORCED` required, like Delta) — recorded as
  * `lake.constraintInfo.<name>` properties and reported back through
  * `Table.constraints()` for optimizers and tools that RELY on them.
  */
private[io] object LakeConstraints {
  import org.apache.spark.sql.connector.catalog.constraints._
  import org.apache.spark.sql.connector.expressions.{Expressions,
    NamedReference}

  val CheckPrefix = "lake.constraint."
  val InfoPrefix = "lake.constraintInfo."

  /** Unit separator framing FK referenced-identifier parts whose names
    * hold a literal '.' — never typed by users, so unambiguous. */
  private val RefSep = '\u001F'

  private def colsOf(refsIn: Array[NamedReference]): String =
    refsIn.map { r =>
      require(r.fieldNames.length == 1,
        s"lake constraints take top-level columns; got ${r.describe}")
      val n = r.fieldNames.head
      require(!n.contains(",") && !n.contains("|"),
        s"constraint column name '$n' cannot contain ',' or '|'")
      n
    }.mkString(",")

  /** Constraint → the layer property it lands as. Loud on enforced
    * key constraints (no global index to enforce them with). */
  def toProperty(c: Constraint): (String, String) = {
    require(c.name != null && c.name.nonEmpty &&
        c.name.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"constraint name '${c.name}' must be alphanumeric/underscore " +
        "(it becomes a property key)")
    c match {
      case ck: Check =>
        require(ck.predicateSql != null && ck.predicateSql.trim.nonEmpty,
          s"CHECK constraint '${ck.name}' must carry its SQL text")
        if (ck.enforced)
          (CheckPrefix + ck.name, ck.predicateSql)
        else // NOT ENFORCED CHECK: informational only, never validated.
          // SQL goes LAST (parse splits at most 3) — a predicate holding
          // '|' (string concat `a || b`) must survive the encoding
          (InfoPrefix + ck.name, s"CHECK|${ck.rely}|${ck.predicateSql}")
      case pk: PrimaryKey =>
        require(!pk.enforced, s"PRIMARY KEY '${pk.name}' must be NOT " +
          "ENFORCED — the lake records key constraints as informational " +
          "metadata (Delta's posture); CHECK and NOT NULL enforce")
        (InfoPrefix + pk.name,
          s"PRIMARY KEY|${colsOf(pk.columns)}|${pk.rely}")
      case u: Unique =>
        require(!u.enforced, s"UNIQUE '${u.name}' must be NOT ENFORCED " +
          "— informational metadata only")
        (InfoPrefix + u.name, s"UNIQUE|${colsOf(u.columns)}|${u.rely}")
      case fk: ForeignKey =>
        require(!fk.enforced, s"FOREIGN KEY '${fk.name}' must be NOT " +
          "ENFORCED — informational metadata only")
        // the referenced identifier rides the same '|'-framed value as
        // the column lists, so its parts get the same guard the column
        // names do — a '|' would shift every later field (and blow up
        // parts(4).toBoolean at parse). A namespace element containing
        // '.' cannot survive a '.'-join (parse would mis-split it into
        // extra namespace levels), so such identifiers join on the
        // non-printing unit separator instead; the common dot-free case
        // keeps the readable '.' join (and older stored values parse
        // unchanged).
        val refParts = fk.referencedTable.namespace :+
          fk.referencedTable.name
        refParts.foreach(p => require(!p.contains("|"),
          s"FOREIGN KEY '${fk.name}': referenced identifier part '$p' " +
            "cannot contain '|' (it frames the stored constraint)"))
        val ref =
          if (refParts.exists(_.contains(".")))
            refParts.mkString(RefSep.toString)
          else refParts.mkString(".")
        (InfoPrefix + fk.name,
          s"FOREIGN KEY|${colsOf(fk.columns)}|$ref|" +
            s"${colsOf(fk.referencedColumns)}|${fk.rely}")
      case other => throw new IllegalArgumentException(
        s"unsupported constraint kind: $other")
    }
  }

  private def refs(csv: String): Array[NamedReference] =
    csv.split(',').filter(_.nonEmpty).map(Expressions.column)

  /** `lake.constraintInfo.<name>` property → the reported Constraint. */
  def fromInfoProperty(name: String, value: String): Constraint = {
    val parts = value.split('|')
    parts(0) match {
      case "CHECK" =>
        val Array(_, rely, sql) = value.split("\\|", 3)
        Constraint.check(name).predicateSql(sql)
          .enforced(false).rely(rely.toBoolean)
          .validationStatus(Constraint.ValidationStatus.UNVALIDATED).build()
      case "PRIMARY KEY" =>
        Constraint.primaryKey(name, refs(parts(1)))
          .enforced(false).rely(parts(2).toBoolean)
          .validationStatus(Constraint.ValidationStatus.UNVALIDATED).build()
      case "UNIQUE" =>
        Constraint.unique(name, refs(parts(1)))
          .enforced(false).rely(parts(2).toBoolean)
          .validationStatus(Constraint.ValidationStatus.UNVALIDATED).build()
      case "FOREIGN KEY" =>
        // RefSep framing = identifier parts holding literal '.'; plain
        // '.' join otherwise (including every pre-existing stored value)
        val refParts =
          if (parts(2).indexOf(RefSep) >= 0) parts(2).split(RefSep)
          else parts(2).split('.')
        Constraint.foreignKey(name, refs(parts(1)),
            Identifier.of(refParts.dropRight(1), refParts.last),
            refs(parts(3)))
          .enforced(false).rely(parts(4).toBoolean)
          .validationStatus(Constraint.ValidationStatus.UNVALIDATED).build()
      case other => throw new IllegalStateException(
        s"unknown constraintInfo kind '$other' for '$name'")
    }
  }
}

/** The staged side of atomic CREATE OR REPLACE / CTAS / RTAS: Spark's
  * Atomic*Exec nodes write the query into this table (V1 write fallback,
  * like [[LakeTable]]) and then call [[commitStagedChanges]] — until that
  * point NOTHING visible changes (the write merely captures the frame;
  * the job itself runs inside the commit, landing in an uncommitted
  * `_v/<version>` dir whose visibility flips at the `_COMMITTED` marker).
  * [[abortStagedChanges]] therefore has nothing to clean.
  *
  * REPLACE supersedes the previous incarnation's whole declaration: the
  * per-column property families (constraints, generated, identity,
  * defaults) and the layout keys are cleared and the new declaration
  * overlaid — while table HISTORY is retained (time travel and the
  * change feed still serve pre-replace versions; Delta's REPLACE
  * semantics). The property swap itself is a separate admin write
  * immediately before the data commit: a reader in that window sees old
  * data under the new declaration (the same documented window CREATE
  * has); a failed commit restores the prior declaration best-effort.
  */
private[io] final class StagedLakeTable(spark: SparkSession, base: String,
    layer: String, decl: LakeTableDecl, requireNoParent: Boolean,
    catName: String) extends StagedTable with SupportsWrite {

  @volatile private var staged: Option[DataFrame] = None
  @transient private lazy val lake =
    new Lake(spark, LakeConfig(basePath = base))

  override def name(): String = s"$catName.`$base`.$layer (staged)"
  override def schema(): StructType = decl.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged incarnation is born empty — truncate-then-write and
      // plain write are the same thing
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              staged = Some(data)
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val prior = lake.properties(layer)
    // the DECLARATION property families + layout/index keys are wholly
    // superseded; table-level FEATURES (rowTracking, columnMapping mode,
    // deletion vectors, checkpoint cadence) survive a replace — they
    // describe how the TABLE operates, not what the statement declared
    val declPrefixes = Seq("lake.constraint.", "lake.constraintInfo.",
      "lake.generated.", "lake.identity.", "lake.defaultValue.")
    val declKeys = Set("lake.partitionBy", Lake.ClusterByProp,
      BloomIndex.ColsProp, BloomIndex.FppProp)
    val cleared = prior.keysIterator
      .filter(k => declKeys(k) || declPrefixes.exists(k.startsWith))
      .map(_ -> "").toMap
    val updates = cleared ++ decl.props
    if (updates.nonEmpty) lake.setProperties(layer, updates)
    try {
      val df = staged.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], decl.schema))
      // CREATE commits only if the layer is STILL uncommitted (a racing
      // creator loses loudly); REPLACE lands over whatever head exists —
      // labeled REPLACE TABLE in history, identity numbering restarted
      if (requireNoParent)
        lake.writeAtomicIfLatest(df, layer, expectedParent = None,
          partitionBy = decl.partCols)
      else
        lake.replaceAtomic(df, layer, partitionBy = decl.partCols)
    } catch {
      case e: Throwable =>
        // Data never became visible — back out OUR declaration overlay.
        // NOT a blind restore of `prior`: if a CONCURRENT creator/writer
        // committed its own declaration between the `prior` read and our
        // failed CAS, its commit stands (it won the race) and restoring
        // the pre-race snapshot would silently erase the winner's
        // constraints/defaults/identity declarations. So re-read the
        // properties as they are NOW and revert only the keys still
        // holding the exact values THIS staging wrote — keys the winner
        // overwrote are its property, keys still ours roll back to prior.
        try {
          val revert = StagedRestore.revertOwnKeys(
            lake.properties(layer), prior, updates)
          if (revert.nonEmpty) lake.setProperties(layer, revert)
        } catch { case scala.util.control.NonFatal(_) => }
        throw e
    }
  }

  override def abortStagedChanges(): Unit = staged = None
}

/** Failed-staging property rollback, value-checked so a lost CREATE/CAS
  * race never clobbers the racing winner's just-committed declarations
  * (see [[StagedLakeTable.commitStagedChanges]]'s catch block).
  */
private[io] object StagedRestore {
  /** The property updates that undo `wrote` WITHOUT touching concurrent
    * edits: a key reverts (to its `prior` value, "" = clear) only while
    * the live `current` value is still exactly what this staging wrote —
    * a differing live value means another writer owns the key now.
    * No-op reverts (prior == current) are dropped so the common
    * clean-failure path writes the minimal property delta.
    */
  def revertOwnKeys(current: Map[String, String],
      prior: Map[String, String],
      wrote: Map[String, String]): Map[String, String] =
    wrote.iterator.flatMap { case (k, v) =>
      val live = current.getOrElse(k, "")
      val restored = prior.getOrElse(k, "")
      if (live == v && restored != live) Some(k -> restored) else None
    }.toMap
}

final case class LakeTable(spark: SparkSession, base: String, layer: String,
    pinnedVersion: Option[String], catName: String = "lake")
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.NewspipeV1FallbackTable {

  @transient private[io] lazy val lake =
    new Lake(spark, LakeConfig(basePath = base))

  private[io] def dataFrame(): DataFrame = pinnedVersion match {
    case Some(v) => lake.readVersion(layer, v)
    case None => lake.read(layer)
  }


  override def name(): String =
    s"lake.`$base`.$layer${pinnedVersion.map("@" + _).getOrElse("")}"

  override lazy val schema: StructType =
    NewspipeSqlBridge.nullableSchema(dataFrame().schema)

  /** Columns WITH their declared DEFAULT values (the layer's
    * `lake.defaultValue.<col>` properties): Spark's own INSERT analysis
    * reads these to fill column-list statements (`INSERT INTO t (a)
    * VALUES (…)` → omitted default columns take their expression, not
    * an error/NULL). EXISTS_DEFAULT wants the folded literal — computed
    * once per default (constant by declaration rule), cached with the
    * table handle.
    */
  override lazy val columns: Array[V2Column] = {
    val defaults = lake.columnDefaults(layer)
    if (defaults.isEmpty) NewspipeSqlBridge.v2Columns(schema)
    else schema.fields.map { f =>
      defaults.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, sql)) =>
          val ext = spark.sql(
            s"SELECT CAST(($sql) AS ${f.dataType.sql})").head().get(0)
          val lit = org.apache.spark.sql.catalyst.expressions.Literal
            .create(ext, f.dataType)
          V2Column.create(f.name, f.dataType, f.nullable,
            null,
            new org.apache.spark.sql.connector.catalog.ColumnDefaultValue(
              sql, NewspipeSqlBridge.connectorLiteral(lit.value,
                f.dataType)),
            null)
        case None =>
          V2Column.create(f.name, f.dataType, f.nullable)
      }
    }
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // INSERT OVERWRITE … PARTITION (k=v) / INSERT INTO … REPLACE WHERE
      // — OverwriteByExpression routes to the write builder's
      // SupportsOverwrite.overwrite(filters) → Lake.overwriteWhere
      TableCapability.OVERWRITE_BY_FILTER,
      // partitionOverwriteMode=dynamic `INSERT OVERWRITE` /
      // `overwritePartitions()` — OverwritePartitionsDynamic routes to
      // the real v2 LakeDynamicOverwriteWrite. BATCH_WRITE is declared
      // because the dynamic capability check demands it specifically
      // (V1_BATCH_WRITE does not count there); append/overwrite still
      // take the V1 execs — the strategy routes on the built Write being
      // a V1Write, not on this capability set.
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_DYNAMIC)

  /** The declared constraints, reported back through the v2 surface:
    * enforced CHECKs from `lake.constraint.*` (validated at declaration,
    * then increments-only — so VALID), informational key constraints
    * from `lake.constraintInfo.*` (NOT ENFORCED / UNVALIDATED).
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val props = lake.properties(layer)
    val checks = props.collect {
      case (k, v) if k.startsWith(LakeConstraints.CheckPrefix) =>
        Constraint.check(k.stripPrefix(LakeConstraints.CheckPrefix))
          .predicateSql(v).enforced(true)
          .validationStatus(Constraint.ValidationStatus.VALID).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }
    val infos = props.collect {
      case (k, v) if k.startsWith(LakeConstraints.InfoPrefix) &&
          // a NOT ENFORCED CHECK stays metadata-only: Spark's v2 write
          // path injects CheckInvariant for EVERY Check a table reports
          // (regardless of the enforced flag), which would enforce a
          // declaration that promised not to — so it is recorded on the
          // layer but not reported back; key constraints have no
          // predicate for Spark to inject and report fine
          !v.startsWith("CHECK|") =>
        LakeConstraints.fromInfoProperty(
          k.stripPrefix(LakeConstraints.InfoPrefix), v)
    }
    (checks ++ infos).toArray
  }

  /** `writeStream.toTable("lake.….docs")` — Delta's architecture exactly:
    * the table advertises a V1 FALLBACK (this synthetic CatalogTable with
    * `provider = "lake"`), and DataStreamWriter's fallback branch routes
    * the streaming write to the registered DSv1 provider
    * ([[source.LakeStreamSink]]) with the table's location as `path` —
    * the same txn-fenced atomic-append commit path as `format("lake")`.
    * Advertising STREAMING_WRITE instead would NOT work: MicroBatchExecution
    * plans any `SupportsWrite` sink table through the DSv2 StreamingWrite
    * contract (per-task writer factories), while a `Sink`-mixin table
    * trips the asymmetric v1/v2 dispatch (plan-side checks SupportsWrite
    * first, run-side checks Sink first → ClassCastException).
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
      CatalogTable, CatalogTableType}
    require(pinnedVersion.isEmpty,
      s"${name()}: cannot stream a time-travel relation")
    CatalogTable(
      // fully qualified (UnresolvedCatalogRelation asserts a database,
      // and the engine refreshes this identifier after every streamed
      // batch — it must resolve through the REAL catalog, and a 2-part
      // name whose head is a registered datasource would be hijacked by
      // ResolveSQLOnFile as a direct file query)
      identifier = TableIdentifier(layer, Some(base), Some(catName)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(s"$base/$layer").toUri),
        properties = Map("basePath" -> base, "layer" -> layer)),
      schema = schema,
      provider = Some("lake"))
  }

  override def properties(): java.util.Map[String, String] =
    (lake.properties(layer) + ("provider" -> "lake")).asJava

  override def partitioning(): Array[Transform] =
    lake.declaredPartitionBy(layer)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray[Transform]

  // ---- SHOW PARTITIONS (SupportsPartitionManagement, read-only leg) -------
  //
  // Partitions are DATA-DEFINED here (a hive k=v directory exists iff rows
  // landed in it), so the listing legs answer from the current snapshot's
  // inventory — metadata only — while the mutation legs refuse loudly:
  // creating/dropping a partition is writing/deleting its rows.

  override def partitionSchema(): StructType = {
    val cols = lake.partitionColumns(layer)
    StructType(cols.map(c => schema.fields(schema.fieldIndex(c))))
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    require(names.length == ident.numFields,
      s"${name()}: ${names.length} filter names vs ${ident.numFields} values")
    val idx = names.map(ps.fieldIndex)
    val rows = lake.partitionValues(layer).map { vals =>
      InternalRow.fromSeq(vals.zip(ps.fields).map { case (v, f) =>
        v.map(s => Cast(Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType), f.dataType,
          Some(java.util.TimeZone.getDefault.getID)).eval(null)).orNull
      })
    }
    rows.filter { r =>
      idx.indices.forall { i =>
        val dt = ps.fields(idx(i)).dataType
        val a = r.get(idx(i), dt)
        val b = ident.get(i, dt)
        (a == null && b == null) || (a != null && a.equals(b))
      }
    }.toArray
  }

  override def partitionExists(ident: InternalRow): Boolean =
    listPartitionIdentifiers(
      partitionSchema().fieldNames, ident).nonEmpty

  private def refuseMutation(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"${name()}: $what — lake partitions are data-defined; write or " +
        "delete the rows instead (INSERT / DELETE FROM)")

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    refuseMutation("cannot ADD PARTITION")

  override def dropPartition(ident: InternalRow): Boolean =
    refuseMutation("cannot DROP PARTITION")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    refuseMutation("cannot alter partition metadata")

  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()

  /** Substitute plan for [[LakeV2ReadRewrite]]: the layer's v1 read plan
    * with the v2 relation's attribute ids PRESERVED (parents already
    * reference them), via a Project of id-pinning aliases.
    */
  private[newspipe] def toV1Plan(output: Seq[AttributeReference]): LogicalPlan = {
    val analyzed = NewspipeSqlBridge.analyzedPlan(dataFrame())
    val byName = analyzed.output.map(a => a.name.toLowerCase -> a).toMap
    val projList: Seq[NamedExpression] = output.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        throw new IllegalStateException(
          s"${name()}: column '${o.name}' missing from the layer read plan"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    Project(projList, analyzed)
  }

  /** Substitute plan for [[LakeV2ReadRewrite]] in STREAMING position —
    * `spark.readStream.table("lake.`/base`.docs")`. The stream is the V1
    * change source ([[source.LakeChangeSource]]) filtered to `insert`
    * rows: the initial snapshot replays as inserts, then each commit's
    * new rows arrive incrementally; delete/update commits contribute no
    * rows (Delta's `skipChangeCommits` posture — read the format-based
    * change source directly for the tagged CDF). Reader options
    * (`startingVersion` / `startingTimestamp` / `maxVersionsPerTrigger` /
    * `maxBytesPerTrigger` / `keyColumns`) pass through to the source
    * unchanged, and the source's native `Trigger.AvailableNow` +
    * admission-control support applies identically here.
    */
  private[newspipe] def toV1StreamingPlan(output: Seq[AttributeReference],
      extraOptions: Map[String, String]): LogicalPlan = {
    require(pinnedVersion.isEmpty,
      s"${name()}: cannot stream a time-travel relation")
    val ds = DataSource(spark,
      className = classOf[source.LakeChangeSource].getName,
      options = extraOptions ++ Map("basePath" -> base, "layer" -> layer))
    val rel = StreamingRelation(ds)
    val tag = rel.output
      .find(_.name == source.LakeChangeSource.ChangeTypeCol)
      .getOrElse(throw new IllegalStateException(
        s"${name()}: change source lost its ${
          source.LakeChangeSource.ChangeTypeCol} column"))
    val byName = rel.output.map(a => a.name.toLowerCase -> a).toMap
    val projList: Seq[NamedExpression] = output.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        throw new IllegalStateException(
          s"${name()}: column '${o.name}' missing from the change stream"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    // Delta's `readChangeFeed` option: surface the TAGGED change feed —
    // delete/update commits included, `_change_type` appended after the
    // declared columns (this rule runs while the relation resolves, so
    // parents' star expansion picks the extra attribute up on the next
    // analyzer pass). Default stays the insert-rows-only posture.
    val cdf = extraOptions.exists { case (k, v) =>
      k.equalsIgnoreCase("readChangeFeed") && v.equalsIgnoreCase("true")
    }
    if (cdf) Project(projList :+ tag, rel)
    else Project(projList, Filter(EqualTo(tag, Literal("insert")), rel))
  }

  // ---- read: V1Scan fallback (correct everywhere; the fast path is the
  // ---- resolution-rule rewrite above) -------------------------------------

  /** Metadata-exact scan statistics: byte size from the snapshot's live
    * inventory (the same exact total the v1 plan's file index reports)
    * and row count from the manifest/sidecar ([[Lake.metadataRowCount]]) —
    * so the optimizer's broadcast-vs-SMJ choice on a lake table uses the
    * protocol's own numbers, not a guess. Cached per table handle: one
    * listing, amortized over every scan of the handle.
    *
    * Spark caveat, documented: once V2ScanRelationPushDown wraps a
    * [[V1Scan]] in its `V1ScanWrapper`, `DataSourceV2ScanRelation
    * .computeStats` no longer sees this interface — the EXTENSION path
    * ([[LakeV2ReadRewrite]] → v1 LogicalRelation with CatalogStatistics)
    * is where these stats reach join planning today; this scan-side
    * surface keeps the pure-v2 contract complete for engines (and future
    * Spark versions) that consult the unwrapped scan.
    */
  private lazy val scanStats: (Long, Option[Long]) = {
    val size = NewspipeSqlBridge.planStatistics(dataFrame())._1
    val rows = pinnedVersion match {
      case None => lake.metadataRowCount(layer)
      case Some(_) => None
    }
    (size.min(BigInt(Long.MaxValue)).toLong, rows)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns {
      private var pushed: Array[sources.Filter] = Array.empty
      private var required: StructType = schema
      override def pushFilters(filters: Array[sources.Filter])
          : Array[sources.Filter] = {
        // accept what translates to a Column (readWhere can file-skip on
        // it); EVERYTHING is returned as post-scan filters — pushdown here
        // is a pruning accelerator, never an exactness contract
        pushed = filters.filter(f => LakeTable.filterToColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[sources.Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new V1Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {
        override def readSchema(): StructType = required
        // the planner calls the relation's no-arg buildScan — the scan
        // itself must carry the pushdown state into the relation
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new LakeV1Relation(context, LakeTable.this, required, pushed)
            .asInstanceOf[T]
        override def estimateStatistics()
            : org.apache.spark.sql.connector.read.Statistics = {
          val (size, rows) = scanStats
          new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(size)
            override def numRows(): java.util.OptionalLong =
              rows.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
          }
        }
      }
    }

  // ---- write: V1 fallback into the commit protocol ------------------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // None = append; Some(Nil / AlwaysTrue-only) = full truncate-and-
      // write; Some(filters) = predicate-scoped REPLACE WHERE. Spark
      // routes `INSERT OVERWRITE t` here as truncate() (the interface
      // default = overwrite(AlwaysTrue)), `INSERT OVERWRITE t PARTITION
      // (k=v)` (static mode) and `INSERT INTO t REPLACE WHERE …` both as
      // overwrite(translated filters) — one OverwriteByExpression plan,
      // three user spellings. Under partitionOverwriteMode=dynamic the
      // analyzer plans OverwritePartitionsDynamic instead, which needs a
      // REAL v2 batch write (no V1 fallback exec exists) — that one
      // path builds [[LakeDynamicOverwriteWrite]].
      private var overwriteFilters: Option[Seq[sources.Filter]] = None
      private var dynamic = false
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        overwriteFilters = Some(filters.toSeq
          .filterNot(_.isInstanceOf[sources.AlwaysTrue]))
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def build(): Write = if (dynamic) {
        require(pinnedVersion.isEmpty,
          s"${name()}: cannot write to a time-travel relation")
        new LakeDynamicOverwriteWrite(spark, base, layer, info)
      } else new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              require(pinnedVersion.isEmpty,
                s"${name()}: cannot write to a time-travel relation")
              // a declared PARTITIONED BY layout survives INSERT OVERWRITE
              val declaredPart = lake.declaredPartitionBy(layer)
              overwriteFilters match {
                case Some(Seq()) =>
                  lake.writeAtomic(data, layer, partitionBy = declaredPart)
                case Some(filters) =>
                  val cond = filters.map(f =>
                    LakeTable.filterToColumn(f).getOrElse(
                      throw new IllegalArgumentException(
                        s"${name()}: REPLACE WHERE / static-partition " +
                          s"predicate not translatable: $f")))
                    .reduce(_ && _)
                  // same OCC retry budget as INSERT INTO: the rewrite
                  // re-reads the head each attempt (Delta's internal
                  // retry posture for replaceWhere)
                  lake.retryOnConflict(maxAttempts = 10) {
                    lake.overwriteWhere(layer, data, cond)
                  }
                case None =>
                  // SQL writers expect INSERT INTO to survive a concurrent
                  // commit (Delta retries internally); appendAtomic re-reads
                  // the head each attempt, so the retry is the documented
                  // optimistic-concurrency loop, not a blind replay. Budget
                  // sized for a burst of concurrent INSERTs (each attempt
                  // can lose to at most one sibling commit).
                  lake.retryOnConflict(maxAttempts = 10) {
                    lake.appendAtomic(data, layer)
                  }
              }
            }
          }
      }
    }

  // ---- DELETE FROM / TRUNCATE TABLE ---------------------------------------

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => LakeTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"${name()}: cannot delete from a time-travel relation")
    val cond = filters.map(f => LakeTable.filterToColumn(f).getOrElse(
      throw new IllegalArgumentException(
        s"${name()}: DELETE predicate not translatable: $f — use the " +
          "extension-session statement form (LakeSql) for rich predicates")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    lake.deleteWhere(layer, cond)
  }

  // ---- UPDATE / MERGE INTO (SupportsRowLevelOperations, group-based) ------
  //
  // Completes the pure-v2 DML triangle: a session with nothing but
  // `spark.sql.catalog.lake` configured gets UPDATE / MERGE (and
  // non-translatable DELETE) through Spark's own group-based rewrite
  // rules. See [[LakeRowLevelOperation]] for the scan/replace contract.

  /** `_file` (Iceberg parity): the source file of each row, produced only
    * by scans that support it — today the row-level group scan, which
    * needs it as [[LakeRowLevelOperation.requiredMetadataAttributes]] so
    * Spark's ReplaceDataExec applies its row projection before the write
    * (plain SELECTs resolve through the v1 rewrite, which doesn't carry
    * metadata columns).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = LakeTable.FileMetadataCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "layer file the row resides in"
    })

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"${name()}: cannot run row-level DML on a time-travel relation")
    LakeRowLevelOperation.builder(spark, base, layer, info)
  }
}

object LakeTable {
  import org.apache.spark.sql.functions.lit

  /** Name of the source-file metadata column (Iceberg's `_file`). */
  val FileMetadataCol = "_file"

  private def attr(name: String): Column =
    NewspipeSqlBridge.column(UnresolvedAttribute.quoted(name))

  /** v1 source Filter → Column, total over the shapes Spark's DELETE
    * translation emits; None = not expressible (caller refuses loudly).
    */
  private[io] def filterToColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(attr(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(attr(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(attr(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
    case sources.LessThan(a, v) => Some(attr(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(attr(a) <= lit(v))
    case sources.In(a, vs) => Some(attr(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(attr(a).isNull)
    case sources.IsNotNull(a) => Some(attr(a).isNotNull)
    case sources.And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case sources.Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.StringStartsWith(a, v) => Some(attr(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(attr(a).endsWith(v))
    case sources.StringContains(a, v) => Some(attr(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** `needConversion`-default relation serving [[LakeTable]]'s V1Scan
  * fallback — with REAL pushdown: the scan builder's pruned schema and
  * accepted filters arrive as constructor state, and `buildScan()` routes
  * the filter conjunction through [[Lake.readWhere]] — the same
  * stats-sidecar file skipping the extension rewrite gets — then projects
  * to exactly the pruned columns. The extension-less catalog read path is
  * no longer a full-layer scan. Spark re-evaluates every pushed filter
  * above this scan (the V1ScanWrapper keeps them as post-filters), so
  * pushdown stays a pruning accelerator, never an exactness contract.
  */
private[io] class LakeV1Relation(ctx: SQLContext,
    @transient table: LakeTable, prunedSchema: StructType,
    pushed: Array[sources.Filter])
    extends BaseRelation with TableScan {
  import org.apache.spark.sql.functions.{col => fcol}
  // the planner REQUIRES relation schema == the v2 scan's (pruned) schema
  override def sqlContext: SQLContext = ctx
  override val schema: StructType = prunedSchema
  // exact inventory bytes, not BaseRelation's defaultSizeInBytes guess
  // (lazy: the derivation lists the inventory — pay it at most once per
  // relation instance, and only if something actually consults it)
  override lazy val sizeInBytes: Long =
    NewspipeSqlBridge.planStatistics(table.dataFrame())._1
      .min(BigInt(Long.MaxValue)).toLong
  override def buildScan(): RDD[Row] = {
    val cond = pushed.toSeq.flatMap(LakeTable.filterToColumn(_))
      .reduceOption(_ && _)
    val base = table.pinnedVersion match {
      // head read: predicate goes through readWhere = file skipping
      case None => cond match {
        case Some(c) => table.lake.readWhere(table.layer, c)
        case None => table.lake.read(table.layer)
      }
      // pinned (time-travel) read: plain filter, correctness first
      case Some(_) =>
        val df = table.dataFrame()
        cond.fold(df)(df.filter)
    }
    base.select(prunedSchema.fieldNames.toSeq.map(n => fcol(s"`$n`")): _*).rdd
  }
}

/** Resolution rule (injected by [[newspipe.NewspipeExtensions]]): replace
  * every READ-position [[LakeTable]] relation with [[Lake.read]]'s v1 plan
  * — manifest-indexed scan, stats skipping, DV filtering — so catalog SQL
  * gets the Scala API's exact physical plan. Write/DML positions keep the
  * v2 relation (their resolution machinery needs the `NamedRelation`):
  * reads INSIDE a write's query still rewrite.
  */
final class LakeV2ReadRewrite(session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case a: AppendData => a.copy(query = apply(a.query))
    case o: OverwriteByExpression => o.copy(query = apply(o.query))
    case o: OverwritePartitionsDynamic => o.copy(query = apply(o.query))
    case i: InsertIntoStatement => i.copy(query = apply(i.query))
    case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => plan
    case _ => plan.resolveOperatorsDown {
      case r @ DataSourceV2Relation(t: LakeTable, out, _, _, _, _) =>
        t.toV1Plan(out)
      // readStream.table("lake.….docs"): the v2 streaming relation becomes
      // the V1 change-source plan (insert rows only; see toV1StreamingPlan)
      // — without this rewrite the table has no streaming capability and
      // Spark refuses the scan
      case s: StreamingRelationV2 if s.table.isInstanceOf[LakeTable] =>
        s.table.asInstanceOf[LakeTable]
          .toV1StreamingPlan(s.output, s.extraOptions.asScala.toMap)
    }
  }
}

/** Optimizer rule (injected by [[newspipe.NewspipeExtensions]]): a
  * group-less, all-`count(*)` Aggregate whose child is row-preserving
  * operators (Project/SubqueryAlias) over a [[LakeFileIndex]]-backed scan
  * answers from the index's sidecar row counts — one cached JSON read
  * already in memory, zero tasks. This is Delta's
  * `OptimizeMetadataOnlyQuery` role for the lake. DV-filtered plans,
  * `mergeSchema` discovery reads, filtered/grouped counts, and
  * stats-incomplete snapshots all fail the shape match and keep the scan
  * path (correct, just not free).
  */
final class LakeCountStarShortcut(session: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{
    AggregateExpression, Complete, Count}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
    LogicalRelation}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case a @ Aggregate(Seq(), aggs, child, _) if countStarOnly(aggs) =>
        indexedCount(child) match {
          case Some(n) => LocalRelation(
            a.output.map(_.asInstanceOf[AttributeReference]),
            data = Seq(InternalRow.fromSeq(a.output.map(_ => n))))
          case None => a
        }
    }

  /** Every aggregate expression is a plain unfiltered, non-distinct
    * `count(*)` / `count(<non-null literal>)`.
    */
  private def countStarOnly(aggs: Seq[NamedExpression]): Boolean =
    aggs.nonEmpty && aggs.forall {
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), Complete, false, None, _), _) =>
        v != null
      case _ => false
    }

  /** The complete sidecar row count under row-count-preserving operators
    * only — any Filter/Union/Join/generator breaks the chain (None).
    */
  private def indexedCount(p: LogicalPlan): Option[Long] = p match {
    case Project(_, child) => indexedCount(child) // never changes arity
    case SubqueryAlias(_, child) => indexedCount(child)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case idx: LakeFileIndex => idx.completeRowCount
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }
}
