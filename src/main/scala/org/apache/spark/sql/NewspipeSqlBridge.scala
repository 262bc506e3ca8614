package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion for newspipe's
  * native Catalyst expressions (Spark 4 moved the classic converters behind
  * `private[sql]`; extension libraries reach them from this package — the
  * same access pattern SparkSessionExtensions-based projects use).
  */
object NewspipeSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion. `ExpressionUtils.expression` wraps
    * the column node lazily (`ColumnNodeExpression`), which never resolves
    * when returned from a FunctionRegistry builder — the analyzer needs a
    * real (if still unresolved-function-bearing) expression tree, which the
    * classic converter produces and subsequent analyzer passes resolve.
    */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(ident, info, builder)

  /** The UNANALYZED logical plan of a composed DataFrame — what a
    * table-function builder must return so the outer query's analyzer
    * resolves the whole tree in one pass.
    */
  def logicalPlan(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical

  /** Table-function registration (FROM-position functions returning a
    * relation) — same session-registry access pattern as
    * [[registerFunction]].
    */
  def registerTableFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(ident, info, builder)

  /** Parse a SQL statement with the session's own parser (the injected one
    * when the session was built with extensions, the stock one otherwise) —
    * the entry point [[newspipe.io.LakeSql.sql]] shares with `spark.sql`.
    */
  def parsePlan(spark: SparkSession, text: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parsePlan(text)

  /** An UNRESOLVED logical plan as a DataFrame — resolution happens at
    * first use against the given session (how a MERGE source subquery or
    * view name becomes a frame at command run time).
    */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A SIBLING session over the same SparkContext/SharedState with
    * `register` applied to a fresh extensions set — the only way to get
    * parser injection (which happens at session-state BUILD time, unlike
    * function registration) onto an already-running application: Spark's
    * own builder returns the existing session and ignores new extensions.
    * Runtime conf is carried over; temp views and UDFs are not (fresh
    * session state — same contract as `newSession()`).
    */
  def sessionWithExtensions(spark: SparkSession,
      register: SparkSessionExtensions => Unit): SparkSession = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    // getOrCreate returns an EXISTING default/active session (ignoring new
    // extensions) — clear both, build (the live SparkContext is reused; a
    // fresh SessionState applies the extensions, incl. the parser), then
    // restore, so the caller's session bookkeeping is untouched.
    val prevActive = classic.SparkSession.getActiveSession
    val prevDefault = classic.SparkSession.getDefaultSession
    classic.SparkSession.clearActiveSession()
    classic.SparkSession.clearDefaultSession()
    try {
      var b = classic.SparkSession.builder().withExtensions(register)
      cs.conf.getAll.foreach { case (k, v) => b = b.config(k, v) }
      b.getOrCreate()
    } finally {
      prevDefault match {
        case Some(s) => classic.SparkSession.setDefaultSession(s)
        case None => classic.SparkSession.clearDefaultSession()
      }
      prevActive match {
        case Some(s) => classic.SparkSession.setActiveSession(s)
        case None => classic.SparkSession.clearActiveSession()
      }
    }
  }

  /** `CatalogV2Util.structTypeToV2Columns` (private[sql]): the default
    * schema→columns conversion a DSv2 Table overriding `columns()` wants
    * for its non-special fields.
    */
  def v2Columns(schema: types.StructType)
      : Array[connector.catalog.Column] =
    connector.catalog.CatalogV2Util.structTypeToV2Columns(schema)

  /** `LiteralValue` (private[sql] constructor path): the connector
    * literal a `ColumnDefaultValue` carries as its folded EXISTS_DEFAULT.
    */
  def connectorLiteral(value: Any, dt: types.DataType)
      : connector.expressions.Literal[_] =
    connector.expressions.LiteralValue(value, dt)

  /** `StructType.asNullable` (private[spark]): the file-source reader
    * normalization — every column read from files is nullable.
    */
  def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** `c` marked non-nullable without a runtime check (Catalyst's
    * `KnownNotNull`) — for columns whose values are known non-null but
    * whose reader widened them to nullable.
    */
  def knownNotNull(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
      convertedExpression(c)))

  /** The ANALYZED plan of a composed DataFrame — what a resolution rule
    * must splice in when substituting an already-resolved relation (the
    * unanalyzed form still carries unresolved nodes with no `output`).
    */
  def analyzedPlan(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The logical-plan statistics Catalyst would use for this frame —
    * (sizeInBytes, rowCount). */
  def planStatistics(df: Dataset[_]): (BigInt, Option[BigInt]) = {
    val s = df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.analyzed.stats
    (s.sizeInBytes, s.rowCount)
  }

  /** A DataFrame over a custom [[org.apache.spark.sql.execution.datasources
    * .FileIndex]] — the Delta `TahoeFileIndex` pattern: the relation plans
    * through Spark's own FileSourceStrategy (vectorized parquet scan,
    * column pruning, filter pushdown), but the FILE LISTING comes from the
    * index, which receives each query's data filters and can skip files
    * before any task launches.
    */
  def fileIndexedDataFrame(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType,
      rowCount: Option[Long] = None,
      statsName: String = "lake_layer"): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat(),
      options = Map.empty)(cs)
    // Surface the protocol's EXACT metadata statistics to Catalyst:
    // size-based decisions (broadcast-vs-SMJ) already see the file
    // index's exact byte total through HadoopFsRelation.sizeInBytes; the
    // manifest row count reaches the cost-based optimizer through a
    // stats-only CatalogTable (LogicalRelation.computeStats prefers
    // catalogTable.stats when CBO/plan-stats is enabled — the Delta/
    // Iceberg posture of handing the optimizer protocol-exact cardinality
    // instead of a size/row-width guess).
    val catalogTable = rowCount.map { n =>
      import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics,
        CatalogStorageFormat, CatalogTable, CatalogTableType}
      CatalogTable(
        identifier = org.apache.spark.sql.catalyst
          .TableIdentifier(statsName, Some("lake")),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = dataSchema,
        provider = Some("lake"),
        stats = Some(CatalogStatistics(
          sizeInBytes = BigInt(index.sizeInBytes),
          rowCount = Some(BigInt(n)))))
    }
    val plan = catalogTable match {
      case Some(ct) =>
        org.apache.spark.sql.execution.datasources.LogicalRelation(rel, ct)
      case None =>
        org.apache.spark.sql.execution.datasources.LogicalRelation(rel)
    }
    classic.Dataset.ofRows(cs, plan)
  }

  /** A computed batch frame re-tagged `isStreaming = true` — what a DSv1
    * streaming `Source.getBatch` must return (MicroBatchExecution splices
    * the frame in place of the streaming relation and asserts streaming-
    * ness). Same access pattern as Delta's `createDataFrame(...,
    * isStreaming = true)`; the batch plan is materialized to an
    * InternalRow RDD first, exactly like the built-in file stream source.
    */
  def streamingDataFrame(df: Dataset[Row]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[streamingDataFrame]], for the SINK side: the frame a
    * DSv1 `Sink.addBatch` receives wraps the trigger's already-planned
    * incremental execution, and its LOGICAL plan still carries streaming
    * leaves — any re-planning action on it (`.write`, `.rdd`, a
    * transformation) fails the batch-mode check. Rebind the PHYSICAL rows
    * (`queryExecution.toRdd` — this is the sink's one execution of the
    * micro-batch) as a plain batch frame; the ForeachBatchSink pattern.
    */
  def batchDataFrame(df: Dataset[Row]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}

/** Public face of the `private[sql]` [[org.apache.spark.sql.connector
  * .catalog.V2TableWithV1Fallback]] — the contract Delta implements so
  * `writeStream.toTable` on a v2 table routes to a registered DSv1
  * streaming provider (the table's `provider` + `location`), and
  * `readStream.table` carries the v1 relation as the capability fallback
  * inside StreamingRelationV2. Same bridge-package access pattern as
  * [[NewspipeSqlBridge]].
  */
trait NewspipeV1FallbackTable
  extends connector.catalog.V2TableWithV1Fallback
