package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion — the
  * standard pattern for libraries adding native Catalyst expressions
  * (Spark 4 removed the public `new Column(expr)` constructor).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A plan leaf over a persisted frame's cache entry: a `LogicalRDD`
    * whose RDD scans the entry's rows, with the entry's size. A plan
    * that reads the leaf does not contain the frame's own plan, yet a
    * lost block is still recomputed through the RDD lineage. Call it
    * once the entry is filled, so the size is known.
    *
    * The leaf declares no partitioning. Declaring the entry's hash
    * partitioning was measured slower at sf0.1, and a LogicalRDD that
    * declares a partitioning does not canonicalize alike once the
    * analyzer re-instances it for a self-join, so a cached plan that
    * reads it is missed on one side.
    */
  def cacheLeaf(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rel = s.sharedState.cacheManager.lookupCachedData(s, logicalPlan(df))
      .get.cachedRepresentation
    val scan = execution.columnar.InMemoryTableScanExec(rel.output, Nil, rel)
    ofRows(s, execution.LogicalRDD(rel.output, scan.execute(),
      outputOrdering = scan.outputOrdering, isStreaming = false)(s,
      Some(rel.computeStats())))
  }

  /** Block until every event posted so far has reached its listeners:
    * a `QueryExecutionListener` hears of an action on the listener bus,
    * after the action has returned to its caller.
    */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def addStrategy(spark: SparkSession,
      strategy: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently register a session optimizer rule (the post-hoc
    * analog of `injectOptimizerRule` for sessions built without
    * extensions — Verify/Bench/tests all construct plain sessions).
    */
  def addOptimization(spark: SparkSession,
      rule: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan])
      : Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
