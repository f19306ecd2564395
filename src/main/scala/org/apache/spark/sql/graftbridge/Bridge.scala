package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made `Column` expression-agnostic (Spark Connect); the
  * classic converters live behind `private[sql]`. This package sits
  * inside org.apache.spark.sql solely to re-export the two
  * conversions our custom expressions need — the standard wiring
  * pattern for third-party Catalyst extensions on Spark 4.
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** `toExpr` with every nested column node converted now, by the
    * session's converter. A SQL function builder needs this: its result
    * goes straight into the analyzed plan, where a node left for the
    * DataFrame API's later conversion would never be converted. */
  def toExpr(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
