package newspipe.io

import org.apache.spark.sql.{DataFrame, NewspipeSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType,
  IntegerType, LongType, MapType, StringType, TimestampType}

/** SQL DML statements for the lake's row ops — the surface a Delta user
  * types first:
  *
  * {{{
  * DELETE FROM lake.`/lake/root`.docs WHERE lang = 'en' AND n_chars < 300
  * UPDATE lake.`/lake/root`.docs SET n_chars = n_chars * 2 WHERE n_chars >= 500
  * MERGE INTO lake.`/lake/root`.docs AS t USING updates AS s
  *   ON t.doc_id = s.doc_id
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * No grammar is hand-rolled: Spark's OWN parser already turns these
  * statements into `DeleteFromTable` / `UpdateTable` / `MergeIntoTable`
  * logical plans (they normally die in analysis with "only supported with
  * v2 tables"); [[LakeSql.translate]] recognizes the ones whose target is
  * the three-part identifier `lake`.`<basePath>`.`<layer>` and rewrites
  * them to a runnable command dispatching to [[Lake.deleteWhere]] /
  * [[Lake.updateWhere]] / [[Lake.mergeInto]] — so every row-op guarantee
  * (stats-pruned rewrite-only-matching-files, parent-checked atomic
  * commit, schema-evolution arbitration) holds identically for the SQL
  * and the Scala form.
  *
  * Two ways in:
  *  - sessions built with `spark.sql.extensions=newspipe.NewspipeExtensions`
  *    (or [[org.apache.spark.sql.NewspipeSqlBridge.sessionWithExtensions]])
  *    get the injected parser: plain `spark.sql("DELETE FROM lake. …")`.
  *  - [[LakeSql.sql]] runs the same translation against ANY live session
  *    (parser injection only applies at session build).
  *
  * MERGE supports the FULL clause matrix (an ON clause of ANDed key
  * equalities in every form): the unconditional `UPDATE SET * / INSERT *`
  * pair routes to [[Lake.mergeInto]]'s anti-join fast path (the only form
  * with `MERGE WITH SCHEMA EVOLUTION`); conditional MATCHED/NOT-MATCHED
  * actions, `WHEN MATCHED … DELETE`, explicit assignment lists, and
  * `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE` route to
  * [[Lake.mergeApply]]'s in-place CASE rewrite. Non-equi ON clauses are
  * refused loudly — never silently approximated.
  *
  * Each statement returns one metrics row `(operation, rewritten_files,
  * carried_files, noop)` — the RowOpResult, SQL-visible like Delta's
  * operation metrics.
  */
object LakeSql {

  /** A recognized lake DML statement, carried UNRESOLVED (expressions and
    * the merge source resolve at command run time, against the session
    * that executes — not the one that parsed).
    */
  sealed trait LakeDml { def base: String; def layer: String }
  final case class LakeDelete(base: String, layer: String,
      condition: Expression) extends LakeDml
  final case class LakeUpdate(base: String, layer: String,
      assignments: Seq[(String, Expression)],
      condition: Option[Expression]) extends LakeDml
  final case class LakeMerge(base: String, layer: String,
      source: LogicalPlan, keys: Seq[String],
      schemaEvolution: Boolean) extends LakeDml
  /** One WHEN clause of the FULL merge form, still unresolved: kind ∈
    * {update, updateStar, delete, insert, insertStar}; assignments are
    * (target column → value expression).
    */
  final case class MergeClauseSpec(condition: Option[Expression],
      kind: String, assignments: Seq[(String, Expression)])
  /** The full clause matrix (conditional actions, DELETE, BY SOURCE) —
    * routed to [[Lake.mergeApply]]; `srcQuals`/`tgtQuals` are the
    * qualifier spellings (aliases or relation names, lowercase) that
    * resolve an attribute to the source/target side.
    */
  final case class LakeMergeFull(base: String, layer: String,
      source: LogicalPlan, keys: Seq[String],
      matched: Seq[MergeClauseSpec], notMatched: Seq[MergeClauseSpec],
      bySource: Seq[MergeClauseSpec],
      srcQuals: Set[String], tgtQuals: Set[String]) extends LakeDml
  final case class LakeSetProps(base: String, layer: String,
      updates: Map[String, String]) extends LakeDml
  final case class LakeUnsetProps(base: String, layer: String,
      keys: Seq[String]) extends LakeDml
  final case class LakeAddConstraint(base: String, layer: String,
      name: String, conditionSql: String) extends LakeDml
  final case class LakeDropConstraint(base: String, layer: String,
      name: String, ifExists: Boolean) extends LakeDml
  final case class LakeRenameColumn(base: String, layer: String,
      from: String, to: String) extends LakeDml
  final case class LakeDropColumns(base: String, layer: String,
      names: Seq[String], ifExists: Boolean) extends LakeDml
  final case class LakeWidenColumn(base: String, layer: String,
      column: String,
      newType: org.apache.spark.sql.types.DataType) extends LakeDml
  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT expr` (exprSql = the
    * statement's original DEFAULT text) / `… DROP DEFAULT` (None).
    */
  final case class LakeColumnDefault(base: String, layer: String,
      column: String, exprSql: Option[String]) extends LakeDml
  /** `ALTER TABLE … CLUSTER BY (c1, c2)` / `CLUSTER BY NONE` — liquid-
    * clustering-style key declaration (metadata-only; every OPTIMIZE form
    * then arranges what it rewrites by these keys).
    */
  final case class LakeClusterBy(base: String, layer: String,
      cols: Seq[String]) extends LakeDml

  /** The `lake`.`<basePath>`.`<layer>` target of a DML plan, seen through
    * any alias.
    */
  private def lakeTarget(plan: LogicalPlan): Option[(String, String)] =
    plan match {
      case SubqueryAlias(_, child) => lakeTarget(child)
      // AddCheckConstraint wraps its target in Filter(NOT cond, relation)
      case Filter(_, child) => lakeTarget(child)
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(cat, base, layer) if cat.equalsIgnoreCase("lake") =>
          Some((base, layer))
        case _ => None
      }
      // ALTER TABLE targets parse as UnresolvedTable, not UnresolvedRelation
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        t.multipartIdentifier match {
          case Seq(cat, base, layer) if cat.equalsIgnoreCase("lake") =>
            Some((base, layer))
          case _ => None
        }
      case _ => None
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Qualifier spellings (lowercase) that name one side of a MERGE: the
    * alias when present (it SHADOWS the relation name in SQL scope),
    * else the relation's last name part.
    */
  private def qualsOf(p: LogicalPlan): Set[String] = p match {
    case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
    case r: UnresolvedRelation =>
      Set(r.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** Equi-key columns of a MERGE ON clause: ANDed `t.k = s.k` equalities
    * (in either order); anything else is refused — [[Lake.mergeInto]] is
    * keyed, and pretending a non-equi ON is a key would merge wrong rows.
    */
  private def mergeKeys(cond: Expression): Seq[String] =
    splitAnd(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last
      case other => throw new IllegalArgumentException(
        "lake MERGE supports an ON clause of ANDed key equalities " +
          s"(t.k = s.k); got: ${other.sql}")
    }.distinct

  /** Recognize a parsed DML plan targeting a lake layer. None = not ours
    * (the caller falls through to Spark's own analysis and its v2-table
    * error).
    */
  def translate(plan: LogicalPlan): Option[LakeDml] = plan match {
    case DeleteFromTable(target, condition) =>
      lakeTarget(target).map { case (b, l) => LakeDelete(b, l, condition) }
    case UpdateTable(target, assignments, condition) =>
      lakeTarget(target).map { case (b, l) =>
        LakeUpdate(b, l,
          assignments.map {
            case Assignment(k: UnresolvedAttribute, v) => k.nameParts.last -> v
            case Assignment(k, _) => throw new IllegalArgumentException(
              s"lake UPDATE assigns top-level columns; got: ${k.sql}")
          }, condition)
      }
    case m: MergeIntoTable =>
      lakeTarget(m.targetTable).map { case (b, l) =>
        val fastPath = (m.matchedActions match {
          case Seq(UpdateStarAction(None)) => true
          case _ => false
        }) && (m.notMatchedActions match {
          case Seq(InsertStarAction(None)) => true
          case _ => false
        }) && m.notMatchedBySourceActions.isEmpty
        if (fastPath)
          // the star/star keyed upsert — Lake.mergeInto's anti-join +
          // bulk-append shape (and the only form with schema evolution)
          LakeMerge(b, l, m.sourceTable, mergeKeys(m.mergeCondition),
            m.withSchemaEvolution)
        else {
          if (m.withSchemaEvolution) throw new IllegalArgumentException(
            "lake MERGE WITH SCHEMA EVOLUTION is supported on the " +
              "unconditional UPDATE SET * / INSERT * form only")
          def clause(a: MergeAction): MergeClauseSpec = a match {
            case UpdateStarAction(cond) =>
              MergeClauseSpec(cond, "updateStar", Nil)
            case UpdateAction(cond, assigns, _) =>
              MergeClauseSpec(cond, "update", assigns.map {
                case Assignment(k: UnresolvedAttribute, v) =>
                  k.nameParts.last -> v
                case Assignment(k, _) => throw new IllegalArgumentException(
                  s"lake MERGE assigns top-level columns; got: ${k.sql}")
              })
            case DeleteAction(cond) => MergeClauseSpec(cond, "delete", Nil)
            case InsertStarAction(cond) =>
              MergeClauseSpec(cond, "insertStar", Nil)
            case InsertAction(cond, assigns) =>
              MergeClauseSpec(cond, "insert", assigns.map {
                case Assignment(k: UnresolvedAttribute, v) =>
                  k.nameParts.last -> v
                case Assignment(k, _) => throw new IllegalArgumentException(
                  s"lake MERGE inserts top-level columns; got: ${k.sql}")
              })
            case other => throw new IllegalArgumentException(
              s"lake MERGE: unsupported action ${other.getClass.getSimpleName}")
          }
          LakeMergeFull(b, l, m.sourceTable,
            mergeKeys(m.mergeCondition),
            m.matchedActions.map(clause),
            m.notMatchedActions.map(clause),
            m.notMatchedBySourceActions.map(clause),
            srcQuals = qualsOf(m.sourceTable),
            tgtQuals = qualsOf(m.targetTable) + l.toLowerCase)
        }
      }
    // ALTER TABLE … SET/UNSET TBLPROPERTIES — the switch that flips
    // lake.enableDeletionVectors (Delta's table-property surface)
    case SetTableProperties(target, props) =>
      lakeTarget(target).map { case (b, l) => LakeSetProps(b, l, props) }
    case UnsetTableProperties(target, keys, _) =>
      lakeTarget(target).map { case (b, l) => LakeUnsetProps(b, l, keys) }
    // ALTER TABLE … ADD CONSTRAINT name CHECK (expr) / DROP CONSTRAINT —
    // Spark 4 parses these natively; the CheckConstraint node carries the
    // original condition SQL, which is exactly what the layer stores
    case AddCheckConstraint(target, check) =>
      lakeTarget(target).map { case (b, l) =>
        LakeAddConstraint(b, l, check.userProvidedName, check.condition)
      }
    case DropConstraint(target, name, ifExists, cascade) =>
      lakeTarget(target).map { case (b, l) =>
        require(!cascade,
          "lake DROP CONSTRAINT does not support CASCADE (CHECK " +
            "constraints have no dependents)")
        LakeDropConstraint(b, l, name, ifExists)
      }
    // ALTER TABLE … RENAME COLUMN / DROP COLUMN — metadata-only commits
    // through column mapping (Lake.renameColumn/dropColumn; refused
    // without lake.columnMapping.mode=name)
    case rc: RenameColumn =>
      lakeTarget(rc.table).map { case (b, l) =>
        LakeRenameColumn(b, l, topLevelField(rc.column), rc.newName)
      }
    case dc: DropColumns =>
      lakeTarget(dc.table).map { case (b, l) =>
        LakeDropColumns(b, l, dc.columnsToDrop.map(topLevelField),
          dc.ifExists)
      }
    // ALTER TABLE … ALTER COLUMN col TYPE t — metadata-only widening
    // (Lake.widenColumn; narrowing refused). Only the pure type-change
    // form routes here; comment/position/default specs are not lake ops.
    case ac: AlterColumns =>
      lakeTarget(ac.table).flatMap { case (b, l) =>
        ac.specs match {
          case Seq(spec) if spec.newDataType.isDefined &&
              spec.newNullability.isEmpty && spec.newComment.isEmpty &&
              spec.newPosition.isEmpty &&
              spec.newDefaultExpression.isEmpty && !spec.dropDefault =>
            Some(LakeWidenColumn(b, l, topLevelField(spec.column),
              spec.newDataType.get))
          // SET DEFAULT expr — keep the statement's ORIGINAL expression
          // text (the layer stores and re-parses it at fill time)
          case Seq(spec) if spec.newDefaultExpression.isDefined &&
              spec.newDataType.isEmpty && spec.newNullability.isEmpty &&
              spec.newComment.isEmpty && spec.newPosition.isEmpty =>
            Some(LakeColumnDefault(b, l, topLevelField(spec.column),
              Some(spec.newDefaultExpression.get.originalSQL)))
          // DROP DEFAULT
          case Seq(spec) if spec.dropDefault &&
              spec.newDataType.isEmpty && spec.newNullability.isEmpty &&
              spec.newComment.isEmpty && spec.newPosition.isEmpty =>
            Some(LakeColumnDefault(b, l, topLevelField(spec.column), None))
          case _ => throw new IllegalArgumentException(
            "lake ALTER COLUMN supports exactly one change per " +
              "statement: TYPE widening, SET DEFAULT, or DROP DEFAULT")
        }
      }
    // ALTER TABLE … CLUSTER BY (cols) / CLUSTER BY NONE — Spark 4 grammar
    case acb: AlterTableClusterBy =>
      lakeTarget(acb.table).map { case (b, l) =>
        val cols = acb.clusterBySpec.toSeq.flatMap(_.columnNames).map { r =>
          require(r.fieldNames.length == 1,
            s"lake CLUSTER BY takes top-level columns; got ${r.describe}")
          r.fieldNames.head
        }
        LakeClusterBy(b, l, cols)
      }
    case _ => None
  }

  /** Lake columns are top-level: nested field refs are refused loudly. */
  private def topLevelField(
      f: org.apache.spark.sql.catalyst.analysis.FieldName): String =
    f match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(parts)
          if parts.length == 1 => parts.head
      case other => throw new IllegalArgumentException(
        s"lake column ops take top-level column names; got: ${other.sql}")
    }

  private[io] val metricsOutput: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("rewritten_files", IntegerType, nullable = false)(),
    AttributeReference("carried_files", IntegerType, nullable = false)(),
    AttributeReference("noop", BooleanType, nullable = false)())

  /** Is this a property statement (maintenance-shaped output) rather than
    * a row op (metrics-shaped output)?
    */
  def isProps(dml: LakeDml): Boolean = dml match {
    case _: LakeSetProps | _: LakeUnsetProps => true
    case _: LakeAddConstraint | _: LakeDropConstraint => true
    case _: LakeRenameColumn | _: LakeDropColumns => true
    case _: LakeWidenColumn | _: LakeClusterBy => true
    case _: LakeColumnDefault => true
    case _ => false
  }

  /** Execute a translated ROW-OP statement against `session`. */
  def run(session: SparkSession, dml: LakeDml): Row = {
    val lake = new Lake(session, LakeConfig(basePath = dml.base))
    def asCol(e: Expression) = NewspipeSqlBridge.column(e)
    val (op, r) = dml match {
      case LakeDelete(_, layer, cond) =>
        "DELETE" -> lake.deleteWhere(layer, asCol(cond))
      case LakeUpdate(_, layer, assignments, cond) =>
        val pred = cond.map(asCol)
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        "UPDATE" -> lake.updateWhere(layer, pred,
          assignments.map { case (k, v) => k -> asCol(v) }.toMap)
      case LakeMerge(_, layer, source, keys, evolve) =>
        "MERGE" -> lake.mergeInto(layer,
          NewspipeSqlBridge.dataFrame(session, source), keys,
          allowSchemaEvolution = evolve)
      case LakeMergeFull(_, layer, source, keys, matched, notMatched,
          bySource, srcQuals, tgtQuals) =>
        val srcDf = NewspipeSqlBridge.dataFrame(session, source)
        val srcCols = srcDf.columns.map(_.toLowerCase).toSet
        val tgtCols = lake.layerSchema(layer).fieldNames
          .map(_.toLowerCase).toSet
        // Rewrite qualified/unqualified attribute references for the
        // frame each clause context evaluates against (Lake.mergeApply's
        // contract): matched-context source refs become __src_-prefixed
        // columns of the join frame; insert values see the SOURCE frame
        // (plain source names, target refs illegal); by-source exprs see
        // TARGET rows only (source refs illegal).
        def rewrite(e: Expression, ctx: String): org.apache.spark.sql.Column = {
          val rewritten = e.transformUp {
            case a: UnresolvedAttribute =>
              val name = a.nameParts.last
              val qual = a.nameParts.init.lastOption.map(_.toLowerCase)
              val side: String = qual match {
                case Some(q) if srcQuals(q) && !tgtQuals(q) => "src"
                case Some(q) if tgtQuals(q) && !srcQuals(q) => "tgt"
                case Some(q) => throw new IllegalArgumentException(
                  s"lake MERGE: qualifier '$q' names neither side " +
                    s"(source: ${srcQuals.mkString("/")}, target: " +
                    s"${tgtQuals.mkString("/")})")
                case None => ctx match {
                  case "insert" => "src"
                  case "bysource" => "tgt"
                  case _ =>
                    val inS = srcCols(name.toLowerCase)
                    val inT = tgtCols(name.toLowerCase)
                    if (inS && inT) throw new IllegalArgumentException(
                      s"lake MERGE: reference '$name' is ambiguous " +
                        "(both sides carry it) — qualify it")
                    else if (inS) "src" else "tgt"
                }
              }
              (side, ctx) match {
                case ("src", "insert") => UnresolvedAttribute(Seq(name))
                case ("src", "bysource") =>
                  throw new IllegalArgumentException(
                    "lake MERGE: a NOT MATCHED BY SOURCE clause cannot " +
                      s"reference source column '$name' (no source row " +
                      "matches, by definition)")
                case ("src", _) =>
                  UnresolvedAttribute(Seq(Lake.SrcColPrefix + name))
                case ("tgt", "insert") =>
                  throw new IllegalArgumentException(
                    "lake MERGE: an INSERT value cannot reference " +
                      s"target column '$name' (no target row matches, " +
                      "by definition)")
                case ("tgt", _) => UnresolvedAttribute(Seq(name))
              }
          }
          NewspipeSqlBridge.column(rewritten)
        }
        def toClause(s: MergeClauseSpec, ctx: String): Lake.MergeClause =
          Lake.MergeClause(s.condition.map(rewrite(_, ctx)), s.kind match {
            case "updateStar" => Lake.MergeUpdateStar
            case "delete" => Lake.MergeDelete
            case "insertStar" => Lake.MergeInsertStar
            case "update" => Lake.MergeUpdate(s.assignments.map {
              case (k, v) => k -> rewrite(v, ctx) }.toMap)
            case "insert" => Lake.MergeInsert(s.assignments.map {
              case (k, v) => k -> rewrite(v, ctx) }.toMap)
          })
        "MERGE" -> lake.mergeApply(layer, srcDf, keys,
          matched = matched.map(toClause(_, "matched")),
          notMatched = notMatched.map(toClause(_, "insert")),
          notMatchedBySource = bySource.map(toClause(_, "bysource")))
      case other => throw new IllegalStateException(
        s"property statement routed to run(): $other") // see runProps
    }
    Row(op, r.rewrittenFiles, r.carriedFiles, r.noop)
  }

  /** Execute a translated PROPERTY statement. `result` = the layer's
    * properties after the change, `k=v` comma-joined.
    */
  def runProps(session: SparkSession, dml: LakeDml): Row = {
    val lake = new Lake(session, LakeConfig(basePath = dml.base))
    dml match {
      case LakeSetProps(_, layer, ups) =>
        propsRow("SET TBLPROPERTIES", lake.setProperties(layer, ups))
      case LakeUnsetProps(_, layer, keys) =>
        propsRow("UNSET TBLPROPERTIES",
          lake.setProperties(layer, keys.map(_ -> "").toMap))
      case LakeAddConstraint(_, layer, name, cond) =>
        lake.addConstraint(layer, name, cond)
        Row("ADD CONSTRAINT", s"$name CHECK ($cond)")
      case LakeDropConstraint(_, layer, name, ifExists) =>
        lake.dropConstraint(layer, name, ifExists)
        Row("DROP CONSTRAINT", name)
      case LakeRenameColumn(_, layer, from, to) =>
        lake.renameColumn(layer, from, to)
        Row("RENAME COLUMN", s"$from -> $to")
      case LakeDropColumns(_, layer, names, ifExists) =>
        val present = lake.layerSchema(layer).fieldNames.toSet
        names.foreach { n =>
          if (!ifExists || present(n)) lake.dropColumn(layer, n)
        }
        Row("DROP COLUMN", names.mkString(","))
      case LakeWidenColumn(_, layer, column, newType) =>
        lake.widenColumn(layer, column, newType)
        Row("ALTER COLUMN TYPE", s"$column -> ${newType.simpleString}")
      case LakeColumnDefault(_, layer, column, Some(exprSql)) =>
        lake.setColumnDefault(layer, column, exprSql)
        Row("SET DEFAULT", s"$column DEFAULT $exprSql")
      case LakeColumnDefault(_, layer, column, None) =>
        lake.dropColumnDefault(layer, column)
        Row("DROP DEFAULT", column)
      case LakeClusterBy(_, layer, cols) =>
        lake.setClusterBy(layer, cols)
        Row("CLUSTER BY", if (cols.isEmpty) "NONE" else cols.mkString(","))
      case other => throw new IllegalStateException(
        s"row-op statement routed to runProps(): $other")
    }
  }

  private def propsRow(op: String, merged: Map[String, String]): Row =
    Row(op, merged.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(","))

  /** Statement entry point for LIVE sessions (parser injection applies at
    * session build only): lake DML and maintenance statements execute
    * through [[run]]/[[runMaintenance]], anything else falls through to
    * plain `spark.sql`.
    */
  def sql(spark: SparkSession, text: String): DataFrame = {
    parseMaintenance(text) match {
      case Some(m) => return rowsDf(spark, runMaintenanceRows(spark, m),
        maintOutputFor(m))
      case None => ()
    }
    translate(NewspipeSqlBridge.parsePlan(spark, text)) match {
      case Some(p) if isProps(p) =>
        oneRowDf(spark, runProps(spark, p), maintenanceOutput)
      case Some(dml) => oneRowDf(spark, run(spark, dml), metricsOutput)
      case None => spark.sql(text)
    }
  }

  private def oneRowDf(spark: SparkSession, row: Row,
      attrs: Seq[Attribute]): DataFrame = rowsDf(spark, Seq(row), attrs)

  private def rowsDf(spark: SparkSession, rows: Seq[Row],
      attrs: Seq[Attribute]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(
        attrs.map(a => org.apache.spark.sql.types
          .StructField(a.name, a.dataType, a.nullable))))

  // ---- maintenance statements (OPTIMIZE / VACUUM / RESTORE) ---------------
  //
  // These keywords are NOT in Spark's grammar (they are Delta extensions),
  // so the zero-hand-rolled-grammar trick above can't apply — the delegate
  // would throw ParseException before translate ever ran. The statement
  // forms are three fixed single-table shapes, so a tokenizing recognizer
  // (not a grammar) covers them exactly; anything that starts with the
  // keyword but doesn't target `lake`.`…` falls through to Spark's parser
  // and its own error.

  /** A recognized lake maintenance statement. */
  sealed trait LakeMaint { def base: String; def layer: String }
  final case class LakeOptimize(base: String, layer: String,
      zorderBy: Seq[String], where: Option[String] = None) extends LakeMaint
  final case class LakeVacuum(base: String, layer: String,
      retainHours: Option[Double], keep: Option[Int],
      dryRun: Boolean = false) extends LakeMaint
  final case class LakeConvert(base: String, layer: String) extends LakeMaint
  /** `REORG TABLE … APPLY (PURGE)` — rewrite only DV-carrying files. */
  final case class LakeReorg(base: String, layer: String) extends LakeMaint
  /** `COPY INTO … FROM 'dir' [FILEFORMAT = PARQUET] [PATTERN = 'glob']`
    * — idempotent staged-file ingestion ([[Lake.copyInto]]).
    */
  final case class LakeCopyInto(base: String, layer: String,
      srcDir: String, pattern: Option[String]) extends LakeMaint
  final case class LakeRestore(base: String, layer: String,
      version: Option[String], timestampMs: Option[Long]) extends LakeMaint
  /** `DESCRIBE HISTORY … [LIMIT n]` — `limit` caps the walk to the n
    * NEWEST commits (Delta's LIMIT clause; O(n) commit-doc reads).
    */
  final case class LakeHistory(base: String, layer: String,
      limit: Option[Int] = None) extends LakeMaint
  /** `CREATE VECTOR INDEX <name> ON lake.`…`.layer (vecCol) ID idCol
    * [USING HNSW] [M n] [EF n]` — persisted per-file ANN index
    * ([[Lake.createVectorIndex]]).
    */
  final case class LakeCreateVectorIndex(base: String, layer: String,
      name: String, vecCol: String, idCol: String, kind: String,
      m: Option[Int], ef: Option[Int], nlist: Option[Int] = None,
      nprobe: Option[Int] = None, pqM: Option[Int] = None,
      pqK: Option[Int] = None) extends LakeMaint
  /** `DROP (VECTOR|DEDUP) INDEX <name> ON lake.`…`.layer`. */
  final case class LakeDropIndex(base: String, layer: String,
      family: IndexArtifacts, name: String) extends LakeMaint
  /** `REFRESH (VECTOR|DEDUP) INDEX [name] ON lake.`…`.layer` — explicit
    * coverage rebuild (post-writeAtomic / foreign-writer commits); no
    * name = every declared index of that family.
    */
  final case class LakeRefreshIndex(base: String, layer: String,
      family: IndexArtifacts, name: Option[String]) extends LakeMaint
  /** `SHOW (VECTOR|DEDUP) INDEXES ON lake.`…`.layer` — one row per
    * declared index of the family with parameters + live-file coverage.
    */
  final case class LakeShowIndexes(base: String, layer: String,
      family: IndexArtifacts) extends LakeMaint
  /** `CREATE DEDUP INDEX <name> ON lake.`…`.layer (textCol) ID idCol
    * [THRESHOLD f] [HASHES n] [BANDS n] [SHINGLE n]` — persisted
    * per-file MinHash signature index ([[Lake.createDedupIndex]]).
    */
  final case class LakeCreateDedupIndex(base: String, layer: String,
      name: String, textCol: String, idCol: String,
      threshold: Option[Double], hashes: Option[Int], bands: Option[Int],
      shingle: Option[Int]) extends LakeMaint
  /** `OPTIMIZE lake.`…`.layer CLUSTER BY VECTOR col [CLUSTERS n]` —
    * vector-clustering rewrite ([[Lake.clusterByVector]]): regroup the
    * corpus so each file holds semantically neighboring vectors, the
    * layout coarse shard routing needs.
    */
  final case class LakeOptimizeVector(base: String, layer: String,
      vecCol: String, clusters: Option[Int]) extends LakeMaint
  /** `INSERT INTO lake.`…`.layer DEDUPED [BY INDEX name]
    * [MAXBUCKET n] <SELECT …|TABLE …|VALUES …>` — the SQL spelling of
    * [[Lake.appendDeduped]] (ingest-time near-dedup: only rows that
    * duplicate neither the corpus nor an earlier batch row land). The
    * source query text is captured verbatim and planned by the session
    * at execution. The streaming (appId, batchId) txn fence stays on
    * the Scala/sink route — a SQL statement has no replay identity.
    */
  final case class LakeInsertDeduped(base: String, layer: String,
      index: Option[String], maxBucket: Option[Int],
      sourceSql: String) extends LakeMaint
  /** `ANALYZE TABLE … COMPUTE STATISTICS` — full-inventory stats
    * re-harvest as a metadata-only commit ([[Lake.analyzeStats]]).
    */
  final case class LakeAnalyze(base: String, layer: String) extends LakeMaint
  final case class LakeDetail(base: String, layer: String) extends LakeMaint
  /** `ALTER TABLE … SET PARTITIONED BY (c1, c2)` — partition layout
    * evolution; empty parens flatten.
    */
  final case class LakeRepartition(base: String, layer: String,
      cols: Seq[String]) extends LakeMaint
  /** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF 'v']` — both
    * identifiers kept as raw multiparts; bases resolve at RUN time (the
    * catalog-qualified form needs the session's catalog conf, which the
    * parser doesn't have). `base`/`layer` of the trait are the resolved
    * DESTINATION, available only after [[resolveCloneTarget]].
    */
  final case class LakeClone(dstParts: Seq[String], srcParts: Seq[String],
      version: Option[String]) extends LakeMaint {
    override def base: String = ""
    override def layer: String = dstParts.last
  }

  // lake.`/base/path`.layer — base always backticked (it carries slashes),
  // layer backticked or bare
  private val TargetRe =
    "(?i)lake\\s*\\.\\s*`([^`]+)`\\s*\\.\\s*(?:`([^`]+)`|([A-Za-z0-9_]+))"
  private def targetOf(m: java.util.regex.Matcher, g0: Int): (String, String) =
    (m.group(g0), Option(m.group(g0 + 1)).getOrElse(m.group(g0 + 2)))

  private val OptimizeRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*OPTIMIZE\\s+$TargetRe" +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(?\\s*([^)]+?)\\s*\\)?)?\\s*;?\\s*$")
  private val VacuumRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*VACUUM\\s+$TargetRe" +
      "(?:\\s+RETAIN\\s+([0-9]+(?:\\.[0-9]+)?)\\s+HOURS" +
      "|\\s+KEEP\\s+([0-9]+)\\s+SNAPSHOTS)?" +
      "(\\s+DRY\\s+RUN)?\\s*;?\\s*$")
  private val ConvertRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*CONVERT\\s+TO\\s+LAKE\\s+$TargetRe" + "\\s*;?\\s*$")
  private val ReorgRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*REORG\\s+TABLE\\s+$TargetRe" +
      "\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*$")
  private val CopyIntoRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*COPY\\s+INTO\\s+$TargetRe" +
      "\\s+FROM\\s+'([^']+)'" +
      "(?:\\s+FILEFORMAT\\s*=\\s*PARQUET)?" +
      "(?:\\s+PATTERN\\s*=\\s*'([^']+)')?\\s*;?\\s*$")
  private val RestoreRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?$TargetRe\\s+TO\\s+" +
      "(?:VERSION\\s+AS\\s+OF\\s+'([^']+)'" +
      "|TIMESTAMP\\s+AS\\s+OF\\s+([0-9]+))\\s*;?\\s*$")
  // SHALLOW CLONE is not Spark grammar (a Delta extension), so the
  // recognizer may claim EVERY statement of this shape: a non-lake target
  // fails loudly at resolution instead of silently parsing to nothing
  private val CloneRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*CREATE\\s+TABLE\\s+(.+?)\\s+SHALLOW\\s+CLONE\\s+(.+?)" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+'([^']+)')?\\s*;?\\s*$")
  // SET PARTITIONED BY is not Spark grammar either — lake targets only
  private val RepartitionRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*ALTER\\s+TABLE\\s+$TargetRe\\s+SET\\s+PARTITIONED\\s+BY" +
      "\\s*\\(\\s*([^)]*?)\\s*\\)\\s*;?\\s*$")
  private val HistoryRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*DESCRIBE\\s+HISTORY\\s+$TargetRe" +
      "(?:\\s+LIMIT\\s+([0-9]+))?\\s*;?\\s*$")
  // ANALYZE TABLE IS Spark grammar — but only the lake.`…` target form is
  // claimed here, so catalog/session tables still reach Spark's own
  // ANALYZE. NOSCAN / FOR COLUMNS variants fall through too (the lake's
  // stats are always per-file footer stats; there is no cheaper form).
  private val AnalyzeRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*ANALYZE\\s+TABLE\\s+$TargetRe" +
      "\\s+COMPUTE\\s+STATISTICS\\s*;?\\s*$")
  private val DetailRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*DESCRIBE\\s+DETAIL\\s+$TargetRe" + "\\s*;?\\s*$")
  // The index statements are not Spark grammar (a lake extension) —
  // non-lake targets fall through to Spark's parser and its natural
  // error. CREATE is per family (its clauses differ); DROP, REFRESH and
  // SHOW name the family in one (VECTOR|DEDUP) group.
  private val CreateVIdxRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*CREATE\\s+VECTOR\\s+INDEX\\s+([A-Za-z0-9_]+)\\s+ON\\s+" +
      TargetRe +
      "\\s*\\(\\s*`?([A-Za-z0-9_]+)`?\\s*\\)" +
      "\\s+ID\\s+`?([A-Za-z0-9_]+)`?" +
      "(?:\\s+USING\\s+([A-Za-z0-9_]+))?" +
      "(?:\\s+M\\s+([0-9]+))?" +
      "(?:\\s+EF\\s+([0-9]+))?" +
      "(?:\\s+NLIST\\s+([0-9]+))?" +
      "(?:\\s+NPROBE\\s+([0-9]+))?" +
      "(?:\\s+PQM\\s+([0-9]+))?" +
      "(?:\\s+PQK\\s+([0-9]+))?\\s*;?\\s*$")
  private val CreateDIdxRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*CREATE\\s+DEDUP\\s+INDEX\\s+([A-Za-z0-9_]+)\\s+ON\\s+" +
      TargetRe +
      "\\s*\\(\\s*`?([A-Za-z0-9_]+)`?\\s*\\)" +
      "\\s+ID\\s+`?([A-Za-z0-9_]+)`?" +
      "(?:\\s+THRESHOLD\\s+([0-9]*\\.?[0-9]+))?" +
      "(?:\\s+HASHES\\s+([0-9]+))?" +
      "(?:\\s+BANDS\\s+([0-9]+))?" +
      "(?:\\s+SHINGLE\\s+([0-9]+))?\\s*;?\\s*$")
  private val DropIdxRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*DROP\\s+(VECTOR|DEDUP)\\s+INDEX\\s+([A-Za-z0-9_]+)" +
      "\\s+ON\\s+" + TargetRe + "\\s*;?\\s*$")
  private val RefreshIdxRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*REFRESH\\s+(VECTOR|DEDUP)\\s+INDEX" +
      "(?:\\s+([A-Za-z0-9_]+))?\\s+ON\\s+" + TargetRe + "\\s*;?\\s*$")
  private val ShowIdxRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*SHOW\\s+(VECTOR|DEDUP)\\s+INDEXES\\s+ON\\s+" +
      TargetRe + "\\s*;?\\s*$")
  private def familyOf(word: String): IndexArtifacts =
    IndexArtifacts.families.find(_.Family.equalsIgnoreCase(word)).get
  // OPTIMIZE … CLUSTER BY VECTOR is a lake extension (not Spark grammar)
  private val OptimizeVecRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*OPTIMIZE\\s+$TargetRe\\s+CLUSTER\\s+BY\\s+VECTOR\\s+" +
      "`?([A-Za-z0-9_]+)`?(?:\\s+CLUSTERS\\s+([0-9]+))?\\s*;?\\s*$")
  // INSERT INTO … DEDUPED is not Spark grammar (the DEDUPED keyword after
  // the target would fail Spark's parser) — lake targets only; the source
  // query text is captured whole and planned at execution
  private val InsertDedupedRe = java.util.regex.Pattern.compile(
    s"(?is)^\\s*INSERT\\s+INTO\\s+$TargetRe\\s+DEDUPED" +
      "(?:\\s+BY\\s+INDEX\\s+([A-Za-z0-9_]+))?" +
      "(?:\\s+MAXBUCKET\\s+([0-9]+))?" +
      "\\s+((?:SELECT|TABLE|VALUES|WITH|FROM)\\b.+?)\\s*;?\\s*$")

  /** Recognize a maintenance statement targeting a lake layer. None = not
    * ours (wrong leading keyword, or a non-lake target — Spark's parser
    * then produces the natural error).
    */
  def parseMaintenance(sqlText: String): Option[LakeMaint] = {
    val ov = OptimizeVecRe.matcher(sqlText)
    if (ov.matches()) {
      val (base, layer) = targetOf(ov, 1)
      return Some(LakeOptimizeVector(base, layer, ov.group(4),
        clusters = Option(ov.group(5)).map(_.toInt)))
    }
    val o = OptimizeRe.matcher(sqlText)
    if (o.matches()) {
      val (base, layer) = targetOf(o, 1)
      val zcols = Option(o.group(5)).toSeq.flatMap(_.split(',')
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      return Some(LakeOptimize(base, layer, zcols,
        where = Option(o.group(4)).map(_.trim).filter(_.nonEmpty)))
    }
    val v = VacuumRe.matcher(sqlText)
    if (v.matches()) {
      val (base, layer) = targetOf(v, 1)
      return Some(LakeVacuum(base, layer,
        Option(v.group(4)).map(_.toDouble), Option(v.group(5)).map(_.toInt),
        dryRun = v.group(6) != null))
    }
    val cv = ConvertRe.matcher(sqlText)
    if (cv.matches()) {
      val (base, layer) = targetOf(cv, 1)
      return Some(LakeConvert(base, layer))
    }
    val rg = ReorgRe.matcher(sqlText)
    if (rg.matches()) {
      val (base, layer) = targetOf(rg, 1)
      return Some(LakeReorg(base, layer))
    }
    val cp = CopyIntoRe.matcher(sqlText)
    if (cp.matches()) {
      val (base, layer) = targetOf(cp, 1)
      return Some(LakeCopyInto(base, layer, cp.group(4),
        Option(cp.group(5))))
    }
    val r = RestoreRe.matcher(sqlText)
    if (r.matches()) {
      val (base, layer) = targetOf(r, 1)
      return Some(LakeRestore(base, layer,
        Option(r.group(4)), Option(r.group(5)).map(_.toLong)))
    }
    val cl = CloneRe.matcher(sqlText)
    if (cl.matches()) {
      return Some(LakeClone(splitIdent(cl.group(1)),
        splitIdent(cl.group(2)), Option(cl.group(3))))
    }
    val rp = RepartitionRe.matcher(sqlText)
    if (rp.matches()) {
      val (base, layer) = targetOf(rp, 1)
      val cols = rp.group(4).split(',')
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      return Some(LakeRepartition(base, layer, cols.toSeq))
    }
    val h = HistoryRe.matcher(sqlText)
    if (h.matches()) {
      val (base, layer) = targetOf(h, 1)
      return Some(LakeHistory(base, layer,
        Option(h.group(4)).map(_.toInt)))
    }
    val an = AnalyzeRe.matcher(sqlText)
    if (an.matches()) {
      val (base, layer) = targetOf(an, 1)
      return Some(LakeAnalyze(base, layer))
    }
    val cvi = CreateVIdxRe.matcher(sqlText)
    if (cvi.matches()) {
      val (base, layer) = targetOf(cvi, 2)
      return Some(LakeCreateVectorIndex(base, layer, cvi.group(1),
        vecCol = cvi.group(5), idCol = cvi.group(6),
        kind = Option(cvi.group(7)).map(_.toLowerCase).getOrElse("hnsw"),
        m = Option(cvi.group(8)).map(_.toInt),
        ef = Option(cvi.group(9)).map(_.toInt),
        nlist = Option(cvi.group(10)).map(_.toInt),
        nprobe = Option(cvi.group(11)).map(_.toInt),
        pqM = Option(cvi.group(12)).map(_.toInt),
        pqK = Option(cvi.group(13)).map(_.toInt)))
    }
    val di = DropIdxRe.matcher(sqlText)
    if (di.matches()) {
      val (base, layer) = targetOf(di, 3)
      return Some(LakeDropIndex(base, layer, familyOf(di.group(1)),
        di.group(2)))
    }
    val ri = RefreshIdxRe.matcher(sqlText)
    if (ri.matches()) {
      val (base, layer) = targetOf(ri, 3)
      return Some(LakeRefreshIndex(base, layer, familyOf(ri.group(1)),
        Option(ri.group(2))))
    }
    val si = ShowIdxRe.matcher(sqlText)
    if (si.matches()) {
      val (base, layer) = targetOf(si, 2)
      return Some(LakeShowIndexes(base, layer, familyOf(si.group(1))))
    }
    val cdi = CreateDIdxRe.matcher(sqlText)
    if (cdi.matches()) {
      val (base, layer) = targetOf(cdi, 2)
      return Some(LakeCreateDedupIndex(base, layer, cdi.group(1),
        textCol = cdi.group(5), idCol = cdi.group(6),
        threshold = Option(cdi.group(7)).map(_.toDouble),
        hashes = Option(cdi.group(8)).map(_.toInt),
        bands = Option(cdi.group(9)).map(_.toInt),
        shingle = Option(cdi.group(10)).map(_.toInt)))
    }
    val ins = InsertDedupedRe.matcher(sqlText)
    if (ins.matches()) {
      val (base, layer) = targetOf(ins, 1)
      return Some(LakeInsertDeduped(base, layer,
        index = Option(ins.group(4)),
        maxBucket = Option(ins.group(5)).map(_.toInt),
        sourceSql = ins.group(6)))
    }
    val d = DetailRe.matcher(sqlText)
    if (d.matches()) {
      val (base, layer) = targetOf(d, 1)
      return Some(LakeDetail(base, layer))
    }
    None
  }

  /** Split a multipart identifier on dots OUTSIDE backticks. */
  private def splitIdent(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inTick = false
    s.foreach {
      case '`' => inTick = !inTick
      case '.' if !inTick => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.result()
  }

  /** Resolve a CLONE identifier to (lake base, layer): the explicit
    * lake.`/base`.layer form directly, a catalog-qualified form through
    * the session's `spark.sql.catalog.<cat>.basePath` conf — the same
    * namespace rules [[LakeCatalog]] applies (`/abs` namespace = its own
    * base, relative namespaces nest under basePath).
    */
  private def resolveCloneTarget(session: SparkSession,
      parts: Seq[String]): (String, String) = parts match {
    case Seq(kw, b, l) if kw.equalsIgnoreCase("lake") && b.startsWith("/") =>
      (b.stripSuffix("/"), l)
    case cat +: rest if rest.nonEmpty &&
        session.conf.getOption(s"spark.sql.catalog.$cat").isDefined =>
      val ns = rest.dropRight(1)
      val base =
        if (ns.headOption.exists(_.startsWith("/"))) ns.mkString("/")
        else session.conf.getOption(s"spark.sql.catalog.$cat.basePath")
          .map(b => (b.stripSuffix("/") +: ns).mkString("/"))
          .getOrElse(throw new IllegalArgumentException(
            s"SHALLOW CLONE: catalog '$cat' has no basePath conf and the " +
              "namespace is relative"))
      (base, rest.last)
    case _ => throw new IllegalArgumentException(
      "SHALLOW CLONE targets must be lake.`/base/path`.layer or " +
        s"<catalog>.<layer> with a registered lake catalog — got " +
        parts.mkString("."))
  }

  private[io] val maintenanceOutput: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("result", StringType, nullable = false)())

  private[io] val historyOutput: Seq[Attribute] = Seq(
    AttributeReference("ordinal", IntegerType, nullable = false)(),
    AttributeReference("version", StringType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("parent", StringType, nullable = false)(),
    AttributeReference("num_added_files", LongType, nullable = true)(),
    AttributeReference("num_removed_files", LongType, nullable = true)(),
    AttributeReference("num_added_rows", LongType, nullable = true)(),
    AttributeReference("commit_ts", TimestampType, nullable = true)(),
    AttributeReference("operation_parameters", StringType,
      nullable = true)())

  private[io] val detailOutput: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("numFiles", LongType, nullable = false)(),
    AttributeReference("sizeInBytes", LongType, nullable = false)(),
    AttributeReference("partitionColumns",
      ArrayType(StringType, containsNull = false), nullable = false)(),
    AttributeReference("numVersions", IntegerType, nullable = false)(),
    AttributeReference("numDeletionVectors", IntegerType,
      nullable = false)(),
    AttributeReference("createdAt", TimestampType, nullable = false)(),
    AttributeReference("lastModified", TimestampType, nullable = false)(),
    AttributeReference("properties",
      MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)())

  /** Output schema of a maintenance statement (HISTORY is row-per-commit,
    * DETAIL is the wide metadata row, everything else is the one-row
    * operation/result shape).
    */
  private[io] val vectorIndexOutput: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("id_col", StringType, nullable = false)(),
    AttributeReference("vec_col", StringType, nullable = false)(),
    AttributeReference("m", IntegerType, nullable = false)(),
    AttributeReference("ef_construction", IntegerType, nullable = false)(),
    AttributeReference("nlist", IntegerType, nullable = false)(),
    AttributeReference("nprobe", IntegerType, nullable = false)(),
    AttributeReference("covered_files", IntegerType, nullable = false)(),
    AttributeReference("total_files", IntegerType, nullable = false)(),
    // appended (consumers stay index-stable): the pq kind's parameters
    AttributeReference("pq_m", IntegerType, nullable = false)(),
    AttributeReference("pq_k", IntegerType, nullable = false)(),
    // appended: covered files with a routing entry (the set a selective
    // shardProbe can rank; unrouted files are always probed)
    AttributeReference("routed_files", IntegerType, nullable = false)())

  private[io] val dedupIndexOutput: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("id_col", StringType, nullable = false)(),
    AttributeReference("text_col", StringType, nullable = false)(),
    AttributeReference("num_hashes", IntegerType, nullable = false)(),
    AttributeReference("bands", IntegerType, nullable = false)(),
    AttributeReference("rows_per_band", IntegerType, nullable = false)(),
    AttributeReference("shingle", IntegerType, nullable = false)(),
    AttributeReference("threshold", DoubleType, nullable = false)(),
    AttributeReference("covered_files", IntegerType, nullable = false)(),
    AttributeReference("total_files", IntegerType, nullable = false)())

  def maintOutputFor(m: LakeMaint): Seq[Attribute] = m match {
    case _: LakeHistory => historyOutput
    case _: LakeDetail => detailOutput
    case LakeShowIndexes(_, _, VectorIndex) => vectorIndexOutput
    case _: LakeShowIndexes => dedupIndexOutput
    case _ => maintenanceOutput
  }

  /** Multi-row runner: DESCRIBE HISTORY returns one row per committed
    * snapshot; every other maintenance statement returns its single
    * metrics row.
    */
  def runMaintenanceRows(session: SparkSession, m: LakeMaint): Seq[Row] =
    m match {
      case LakeHistory(base, layer, limit) =>
        new Lake(session, LakeConfig(basePath = base))
          .historyRows(layer, limit)
      case LakeShowIndexes(base, layer, VectorIndex) =>
        new Lake(session, LakeConfig(basePath = base))
          .vectorIndexStatus(layer).map {
            case (m, covered, routed, total) =>
              Row(m.name, m.kind, m.idCol, m.vecCol, m.m,
                m.efConstruction, m.nlist, m.nprobe, covered, total,
                m.pqM, m.pqK, routed)
          }
      case LakeShowIndexes(base, layer, _) =>
        new Lake(session, LakeConfig(basePath = base))
          .dedupIndexStatus(layer).map { case (m, covered, total) =>
            Row(m.name, m.idCol, m.textCol, m.numHashes, m.bands, m.rows,
              m.shingle, m.threshold, covered, total)
          }
      case LakeDetail(base, layer) =>
        val d = new Lake(session, LakeConfig(basePath = base))
          .describeDetail(layer)
        Seq(Row(d.format, d.location, d.numFiles, d.sizeInBytes,
          d.partitionColumns, d.numVersions, d.numDeletionVectors,
          new java.sql.Timestamp(d.createdAtMs),
          new java.sql.Timestamp(d.lastModifiedMs), d.properties))
      case other => Seq(runMaintenance(session, other))
    }

  /** Execute a maintenance statement. `result`: OPTIMIZE → the new
    * snapshot's version id; VACUUM → committed versions remaining;
    * RESTORE → the restoring commit's version id (head after rollback).
    */
  def runMaintenance(session: SparkSession, m: LakeMaint): Row = {
    val lake = new Lake(session, LakeConfig(basePath = m.base))
    m match {
      case _: LakeHistory =>
        // multi-row statement — keep the public single-row API loud
        // (exhaustive over LakeMaint) instead of a bare MatchError
        throw new IllegalArgumentException(
          "DESCRIBE HISTORY returns one row per commit — use " +
            "runMaintenanceRows, not runMaintenance")
      case _: LakeDetail =>
        // wide-schema statement — same loud routing as HISTORY
        throw new IllegalArgumentException(
          "DESCRIBE DETAIL returns the wide metadata row — use " +
            "runMaintenanceRows, not runMaintenance")
      case LakeShowIndexes(_, _, fam) =>
        throw new IllegalArgumentException(
          s"SHOW ${fam.Family.toUpperCase} INDEXES returns one row per " +
            "index — use runMaintenanceRows, not runMaintenance")
      case LakeOptimize(_, layer, zcols, where) =>
        // Delta's delta.targetFileSize role: the statement has no size
        // clause, so the layer property decides the OPTIMIZE output sizing
        val target = lake.properties(layer).get("lake.targetFileBytes")
          .map(_.trim.toLong).getOrElse(128L * 1024 * 1024)
        val snap = where match {
          case Some(w) =>
            // partition-scoped form: predicate parsed by Spark's own
            // expression parser, evaluated per partition tuple in
            // Lake.compactWhere (metadata-only selection)
            lake.compactWhere(layer,
              org.apache.spark.sql.functions.expr(w),
              targetFileBytes = target, zorderBy = zcols)
              .snapshot
          case None =>
            lake.compact(layer, targetFileBytes = target, zorderBy = zcols)
        }
        Row("OPTIMIZE", new org.apache.hadoop.fs.Path(snap).getName)
      case LakeVacuum(_, layer, retainHours, keep, dryRun) =>
        if (dryRun) {
          // Delta's DRY RUN: report what WOULD be reclaimed, touch nothing
          val would = (retainHours, keep) match {
            case (Some(h), _) =>
              lake.vacuumOlderThanDryRun(layer, (h * 3600 * 1000).toLong)
            case (None, Some(k)) => lake.vacuumDryRun(layer, keep = k)
            case (None, None) => lake.vacuumDryRun(layer)
          }
          Row("VACUUM DRY RUN", would.size.toString)
        } else {
          (retainHours, keep) match {
            case (Some(h), _) =>
              lake.vacuumOlderThan(layer, (h * 3600 * 1000).toLong)
            case (None, Some(k)) => lake.vacuum(layer, keep = k)
            case (None, None) => lake.vacuum(layer)
          }
          Row("VACUUM", lake.listVersions(layer).size.toString)
        }
      case LakeRestore(_, layer, version, tsMs) =>
        val v = version.getOrElse(
          lake.resolveVersionAt(layer, tsMs.get))
        val r = lake.restore(layer, v)
        Row("RESTORE", new org.apache.hadoop.fs.Path(r.snapshot).getName)
      case LakeConvert(_, layer) =>
        val snap = lake.convertToLake(layer)
        Row("CONVERT", new org.apache.hadoop.fs.Path(snap).getName)
      case LakeReorg(_, layer) =>
        val r = lake.purgeDeletionVectors(layer)
        Row("REORG", s"rewritten=${r.rewrittenFiles} " +
          s"carried=${r.carriedFiles} noop=${r.noop}")
      case LakeCopyInto(_, layer, srcDir, pattern) =>
        val r = lake.copyInto(layer, srcDir, pattern)
        Row("COPY INTO", s"noop=${r.noop} " +
          new org.apache.hadoop.fs.Path(r.snapshot).getName)
      case LakeAnalyze(_, layer) =>
        val r = lake.analyzeStats(layer)
        Row("ANALYZE", s"files=${r.carriedFiles} " +
          new org.apache.hadoop.fs.Path(r.snapshot).getName)
      case LakeCreateVectorIndex(_, layer, name, vecCol, idCol, kind,
          m, ef, nlist, nprobe, pqM, pqK) =>
        val built = lake.createVectorIndex(layer, name, vecCol, idCol,
          kind, m = m.getOrElse(16), efConstruction = ef.getOrElse(128),
          nlist = nlist.getOrElse(64), nprobe = nprobe.getOrElse(8),
          pqM = pqM.getOrElse(8), pqK = pqK.getOrElse(256))
        Row("CREATE VECTOR INDEX", s"shards=$built")
      case LakeDropIndex(_, layer, fam, name) =>
        lake.dropIndex(layer, fam, name)
        Row(s"DROP ${fam.Family.toUpperCase} INDEX", name)
      case LakeRefreshIndex(_, layer, fam, name) =>
        val built = name match {
          case Some(n) => lake.refreshIndex(layer, fam, n)
          case None => lake.maintainIndexes(layer, fam)
        }
        Row(s"REFRESH ${fam.Family.toUpperCase} INDEX", s"shards=$built")
      case LakeCreateDedupIndex(_, layer, name, textCol, idCol, threshold,
          hashes, bands, shingle) =>
        val built = lake.createDedupIndex(layer, name, textCol, idCol,
          threshold = threshold.getOrElse(0.8),
          numHashes = hashes.getOrElse(64), bands = bands.getOrElse(16),
          shingle = shingle.getOrElse(3))
        Row("CREATE DEDUP INDEX", s"shards=$built")
      case LakeOptimizeVector(_, layer, vecCol, clusters) =>
        val snap = lake.clusterByVector(layer, vecCol,
          clusters = clusters.getOrElse(0))
        Row("OPTIMIZE CLUSTER BY VECTOR",
          new org.apache.hadoop.fs.Path(snap).getName)
      case LakeInsertDeduped(_, layer, index, maxBucket, sourceSql) =>
        val src = session.sql(sourceSql)
        val r = lake.appendDeduped(src, layer, index,
          maxBucket = maxBucket.getOrElse(1000))
        Row("INSERT DEDUPED", s"landed=${r.landed} " +
          s"dropped_batch=${r.droppedInBatch} " +
          s"dropped_corpus=${r.droppedVsCorpus}")
      case LakeRepartition(_, layer, cols) =>
        val snap = lake.repartitionLayer(layer, cols)
        Row("REPARTITION", new org.apache.hadoop.fs.Path(snap).getName)
      case LakeClone(dstParts, srcParts, version) =>
        val (dstBase, dst) = resolveCloneTarget(session, dstParts)
        val (srcBase, src) = resolveCloneTarget(session, srcParts)
        // same-base clones record sibling `../` rels; cross-base clones
        // record absolute `base:` refs and register vacuum pins at the
        // source (Lake.cloneFrom routes both)
        val cloneLake = new Lake(session, LakeConfig(basePath = dstBase))
        val snap = cloneLake.cloneFrom(srcBase, src, dst, version)
        Row("CLONE", new org.apache.hadoop.fs.Path(snap).getName)
    }
  }
}

/** The runnable form the injected parser substitutes for a recognized lake
  * DML plan — `spark.sql("DELETE FROM lake. …")` executes this like any
  * other command (eagerly, returning the metrics row).
  */
final case class LakeDmlCommand(dml: LakeSql.LakeDml)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = LakeSql.metricsOutput
  override def run(session: SparkSession): Seq[Row] =
    Seq(LakeSql.run(session, dml))
}

/** The runnable form of a recognized maintenance statement —
  * `spark.sql("OPTIMIZE lake.`…`.docs ZORDER BY (a, b)")` and friends.
  */
final case class LakeMaintCommand(m: LakeSql.LakeMaint)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = LakeSql.maintOutputFor(m)
  override def run(session: SparkSession): Seq[Row] =
    LakeSql.runMaintenanceRows(session, m)
}

/** The runnable form of ALTER TABLE SET/UNSET TBLPROPERTIES on a lake
  * target (maintenance-shaped output: operation + resulting properties).
  */
final case class LakePropsCommand(dml: LakeSql.LakeDml)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = LakeSql.maintenanceOutput
  override def run(session: SparkSession): Seq[Row] =
    Seq(LakeSql.runProps(session, dml))
}
