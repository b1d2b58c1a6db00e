package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Spark 4's `Column` is ColumnNode-backed and the Expression bridge
  * (`org.apache.spark.sql.classic.ExpressionUtils`) is `private[sql]`,
  * as is `Dataset.ofRows`. This object lives inside the
  * `org.apache.spark.sql` package solely to re-export the conversions
  * graft's custom Catalyst expressions need, and to run a logical plan
  * graft built itself (the row-level commands of
  * `graft.sources.GraftMaintenance`). (Same approach Spark's own
  * connectors use; no Spark internals are modified.) */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  /** A DataFrame over `plan`; a command plan executes eagerly, exactly
    * as `spark.sql` runs one. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)
}
