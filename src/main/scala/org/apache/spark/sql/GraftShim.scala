package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst `Expression`s and the public
  * `Column` API. Spark 4.x wraps columns in `ColumnNode`s and keeps the
  * Expression constructors `private[sql]`, so the engine's custom
  * expressions (`graft.functions.UriHashExpr`, `TermTripleExplode`)
  * cross through this one-file shim — the only code outside the `graft`
  * package.
  */
object GraftShim {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its analyzed-later Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for wrapping in custom
    * logical nodes).
    */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a (custom) logical plan back into the public DataFrame API. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the listener bus has delivered every event posted so
    * far (throws a TimeoutException after 10 s), so a listener's
    * counters cover the jobs that have returned.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register an expression builder in an EXISTING session's function
    * registry (idempotent). `GraftExtensions` is the front door for
    * sessions built with `spark.sql.extensions`; this path serves
    * sessions the caller did not construct (the driver's smoke session).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
