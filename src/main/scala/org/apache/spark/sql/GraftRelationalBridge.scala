package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` classic API so graft's custom
  * logical operators (e.g. [[graft.plans.AsOfJoin]]) can surface as
  * ordinary DataFrames and its native expressions as typed Columns.
  * Living in Spark's package namespace purely for access — the standard
  * technique third-party Catalyst extensions use to materialize a
  * hand-built LogicalPlan or Expression; no Spark behavior is modified
  * or overridden here.
  */
object GraftRelationalBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
