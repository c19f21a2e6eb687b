package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset constructor — the one sanctioned
  * way for an extension library to turn a custom LogicalPlan node into a
  * user-facing DataFrame (the same door Spark's own connectors use), and
  * the Column ↔ Expression converters. Each is a single forwarding call;
  * everything else lives in graft packages.
  */
object GraftDatasetBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → catalyst Expression (Spark 4 moved Column onto ColumnNode).
    * `ExpressionUtils.expression` wraps lazily in a non-serializable
    * ColumnNodeExpression; the eager converter yields the real catalyst
    * tree (e.g. an actual catalyst SortOrder for `desc(...)`). */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Catalyst Expression → Column: how a graft kernel expression reaches
    * DataFrame code without a function-registry lookup. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
