package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the classic Column ↔ catalyst Expression conversion,
  * which Spark 4 makes `private[sql]`. Standard extension-library shim:
  * this is the only file outside the `graft` namespace, and it only
  * re-exports the two conversions for graft's native expressions, the
  * DataFrame constructor over a plan (prepared ops) and the function
  * registry.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` converted by the session, into the expression it stands for
    * (a typed literal included, which [[expression]] leaves wrapped).
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** A DataFrame over a ready logical plan (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a function builder into a live session's registry
    * (sessionState is private[sql]).
    */
  def registerFunction(spark: SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
