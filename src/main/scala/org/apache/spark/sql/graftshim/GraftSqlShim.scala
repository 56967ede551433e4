package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to `private[sql]` constructors the custom-operator path
  * needs — the standard shim pattern third-party Spark libraries use
  * to build a DataFrame from a hand-constructed LogicalPlan (the only
  * missing public surface for whole-operator extensions; strategies
  * themselves inject through the public `experimental` API). */
object GraftSqlShim {

  /** Public face of `classic.Dataset.ofRows`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression bridges (`private[sql]` in classic). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
