package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` constructors the public API does not
  * expose in Spark 4: building a DataFrame from a hand-constructed
  * LogicalPlan (needed to surface custom logical operators like
  * graft.plans.AsOfJoinPlan) or from an RDD of Catalyst rows (no encoder
  * pass per row), and moving between Columns and Catalyst
  * expressions (custom expressions such as graft.expr.MoneySum, with no
  * function-registry entry). Standard extension-library pattern. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
