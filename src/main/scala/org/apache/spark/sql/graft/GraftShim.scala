package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's private[sql] surface: build a DataFrame
  * from a custom LogicalPlan (needed to expose whole-operator nodes
  * like graft.plans.AsOfJoin through the public Dataset API). This is
  * the one place the library reaches into Spark internals; everything
  * else uses public APIs.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column ⇄ Expression bridge (Spark 4 Columns wrap ColumnNodes, so
    * `new Column(expr)` no longer exists in the public API). Used to
    * attach literal-argument expressions — e.g. a serialized bloom
    * filter inside [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]] —
    * that can't flow through the string-based function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
