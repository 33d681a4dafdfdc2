package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ↔ Column bridge. Spark 4 moved the classic converters behind
  * `private[sql]`, so extension libraries host a one-file shim inside the
  * sql package tree — the established pattern for third-party Catalyst
  * expressions (no Spark internals are modified). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a logical plan as a DataFrame (classic Dataset.ofRows is
    * private[sql]); used by tests to run optimizer-rule-rewritten plans. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Spark's DIVIDE_BY_ZERO error (its exception class is private[spark]),
    * for typed code that mirrors an ANSI-mode SQL division. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
