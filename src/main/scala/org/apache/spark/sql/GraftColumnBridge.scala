package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Expression↔Column conversion for
  * graft's custom Catalyst expressions (the conventional extension-library
  * pattern: classic.ExpressionUtils is private[sql] in Spark 4).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The Catalyst form of `c` converted now ([[expression]] defers the
    * conversion to analysis behind a wrapper) — for matching a
    * Column's shape, e.g. a literal.
    */
  def converted(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
  def analyzedPlan(df: Dataset[Row]): LogicalPlan = df.queryExecution.analyzed
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** `from` equals `to` up to nullability, and is null-free wherever
    * `to` is (fields, elements, values): its rows fit under `to`.
    */
  def fitsType(from: types.DataType, to: types.DataType): Boolean =
    types.DataType.equalsIgnoreCompatibleNullability(from, to)
}
