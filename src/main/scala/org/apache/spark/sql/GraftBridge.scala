package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Minimal access shim: building a DataFrame from a custom LogicalPlan
  * (graft.plans.AsOfJoinPlan) needs `Dataset.ofRows`, which is
  * `private[sql]` — the standard extension-library technique is a bridge
  * object compiled into the org.apache.spark.sql package. No Spark
  * internals are modified. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Spark 4's unified Column wraps a ColumnNode, not an Expression —
    * convert through the classic converter. */
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Reverse direction: wrap a Catalyst Expression as a Column (for
    * operators the Column algebra doesn't expose, e.g. IntegralDivide
    * in Determinism.intRatio4). */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
