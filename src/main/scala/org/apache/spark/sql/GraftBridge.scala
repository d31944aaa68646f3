package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The package-private Spark calls the engine needs, in one place: a
  * `Column` over a Catalyst expression no session registered, a DataFrame
  * over a logical plan the engine built itself (a logical node of its own,
  * or the Avro scan's DSv2 relation) and the columns of such a plan, and
  * the float normalization grouping applies to its keys. */
object GraftBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` converted as `spark`'s Dataset API converts a column, for a
    * logical node the engine builds itself. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `NormalizeFloatingNumbers.normalize` is `private[sql]`. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
