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

  /** The block-backed RDD beneath a (local)checkpointed Dataset — the
    * handle iterative algorithms need to FREE superseded rounds:
    * `Dataset.unpersist` goes through the cache manager, which knows
    * nothing about checkpoint blocks, so without this each round's
    * localCheckpoint blocks accrue until the driver GCs the old
    * Dataset reference.
    */
  def checkpointRdd(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => Some(l.rdd)
      case _ => None
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
