package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column↔Expression converters are private[sql]; this
  * accessor lives inside the sql package to expose the two calls the
  * engine's custom Catalyst expressions need. No Spark internals are
  * modified — pure delegation. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's function registry (private[sql] via sessionState) —
    * lets GraftExtensions.register add the engine's SQL functions to a
    * live session. */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** DataFrame over a hand-built LogicalPlan (Dataset.ofRows is
    * private[sql]) — the entry point the engine's custom logical
    * operators (graft.plans) use to hand their plan to the analyzer. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session with its own copy of `spark`'s conf (cloneSession is
    * private[sql]); it shares the context, the cache manager and the
    * registered functions. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** A DataFrame's analyzed logical plan + its session's experimental
    * methods — both private[sql]/classic-typed. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Whether the session's cache manager holds `plan`'s result. */
  def isCached(spark: org.apache.spark.sql.SparkSession,
               plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
      .isDefined
}
