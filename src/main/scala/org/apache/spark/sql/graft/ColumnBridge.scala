package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column <-> Expression converters so
  * graft's native Catalyst expressions (e.g. [[graft.expressions.VecDot]])
  * can be exposed as plain `Column`s. This is the conventional extension
  * point for libraries shipping custom expressions without a fork: the only
  * Spark-internal API touched is the converter pair in
  * `org.apache.spark.sql.classic.ExpressionUtils` (Spark 4.x).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (possibly custom) logical plan as a DataFrame — how a library
    * hands its own LogicalPlan nodes to the analyzer/optimizer/planner.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
