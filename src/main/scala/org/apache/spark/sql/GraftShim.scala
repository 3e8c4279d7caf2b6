package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for Spark-4's Column↔Expression conversion, which is
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils). Placed
  * in the sql package — the standard pattern for libraries that ship
  * custom Catalyst expressions (the public API offers no constructor
  * from Expression since the Column-node refactor). [[ofRows]] is the
  * same bridge for a logical plan (`classic.Dataset.ofRows`).
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
