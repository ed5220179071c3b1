package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Scala-visibility bridge for graft's custom Catalyst expressions:
  * Column↔Expression conversion lives behind `private[sql]` in
  * Spark 4 (org.apache.spark.sql.classic.ExpressionUtils), so this
  * one-file shim inside the sql package re-exports the two needed
  * calls. No Spark behavior is modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Nullability-insensitive type equality (DataType.asNullable is
    * private[spark]): containsNull / nested-field nullability
    * legitimately varies between writes of the same logical type. */
  def sameTypeIgnoreNullability(a: types.DataType, b: types.DataType): Boolean =
    a.asNullable == b.asNullable

  /** All-nullable copy of a schema (StructType.asNullable is
    * private[spark]) — file scans must request nullable fields or the
    * vectorized parquet reader rejects files missing a column instead
    * of reading it as null, exactly as Spark's own file-source path
    * forces. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Best-effort v1 `Filter` translation of a predicate expression
    * (Spark's own pushdown translator; exact when Some — the returned
    * Filter is equivalent to the expression, never an approximation).
    * None for anything the v1 Filter algebra can't express. Nested
    * attribute pushdown stays off by default: dotted names would be
    * ambiguous against the manifest's flat partition/stats keys. */
  def translateFilter(e: Expression, nested: Boolean = false): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(
      e, supportNestedPredicatePushdown = nested)

  /** Add an optimizer rule to the session's extra optimizations (the
    * "User Provided Optimizers" batch), once. */
  def addOptimization(spark: SparkSession,
      rule: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val x = classicSession(spark).experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(rule)) x.extraOptimizations :+= rule
    }
  }

  /** Flush the event bus so a test's SparkListener has seen every
    * already-posted event (listenerBus is private[spark]) — what lets
    * a spec assert "this operation ran ZERO jobs" without racing the
    * async delivery. */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Number of plans in the session's cache manager (the count is
    * private[sql]) — what lets a spec assert that an operator left no
    * cached plan behind. */
  def cachedPlanCount(spark: SparkSession): Int =
    classicSession(spark).sharedState.cacheManager.numCachedEntries

  /** The session's Hadoop configuration (sessionState is private[sql]
    * on the classic session) — the DSv2 source hands it to Spark's own
    * parquet reader builder. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The classic (execution-capable) session behind an api-level
    * handle — what FileFormat.buildReaderWithPartitionValues needs. */
  def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Re-root a v1 streaming Sink's micro-batch DataFrame on its OWN
    * already-planned RDD (LogicalRDD.fromDataset — exactly what
    * Spark's ForeachBatchSink does before handing the user a batch
    * frame): the incremental execution's plan is pinned, so writing
    * the frame through normal batch APIs neither re-triggers the
    * stream nor recomputes the batch. */
  def materializeBatch(df: Dataset[Row]): Dataset[Row] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(cdf.sparkSession,
      execution.LogicalRDD.fromDataset(
        cdf.queryExecution.toRdd, cdf, isStreaming = false))
  }

  /** Collect a small frame as InternalRows (executeCollect — already
    * copied, safe to hold) — the catalog metadata tables serve these
    * through a LocalScan. */
  def collectRows(df: Dataset[Row])
      : Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]]
      .queryExecution.executedPlan.executeCollect()

  /** Decode the `.partitionBy(...)` columns DataFrameWriter smuggles
    * to v1 CreatableRelationProviders via options (the same channel
    * Delta reads). */
  def partitioningColumns(parameters: Map[String, String]): Seq[String] =
    parameters.get(execution.datasources.DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(execution.datasources.DataSourceUtils.decodePartitioningColumns)
      .getOrElse(Nil)

  /** Parse one statement with the session's own SQL parser (commands
    * such as EXPLAIN included) into its unresolved plan. */
  def parsePlan(spark: SparkSession, sql: String): catalyst.plans.logical.LogicalPlan =
    classicSession(spark).sessionState.sqlParser.parsePlan(sql)

  /** Analyze and wrap a plan as a DataFrame, exactly as `spark.sql`
    * does with its parsed plan (commands run eagerly). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)

  /** Register a table function on an EXISTING session — the
    * same-session complement of `injectTableFunction`. */
  def registerTableFunction(spark: SparkSession, name: String,
      info: catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => catalyst.plans.logical.LogicalPlan): Unit =
    classicSession(spark).sessionState.tableFunctionRegistry
      .registerFunction(catalyst.FunctionIdentifier(name), info, builder)

  /** Register a SQL function on an EXISTING session (the session
    * FunctionRegistry is behind private[sql] sessionState) — the
    * same-session complement of injecting through
    * SparkSessionExtensions at build time. */
  def registerFunction(spark: SparkSession, name: String,
      info: catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        catalyst.FunctionIdentifier(name), info, builder)
}
