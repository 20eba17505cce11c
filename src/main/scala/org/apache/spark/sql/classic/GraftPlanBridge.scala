package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Access shim for the `private[sql]` members graft's custom nodes need:
  * building a DataFrame from a raw LogicalPlan (the fence operator),
  * moving between Columns and Catalyst expressions (the native functions)
  * and raising `element_at`'s ANSI out-of-bounds error (PlaneProj).
  * Lives in the `classic` package solely to satisfy those access
  * modifiers — contains no logic and touches no other internals (the
  * standard pattern for Spark extensions that introduce custom nodes).
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[org.apache.spark.sql.Row] =
    Dataset.ofRows(spark, plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def elementAtIndexError(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
