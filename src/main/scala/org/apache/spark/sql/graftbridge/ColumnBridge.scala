package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Re-exports of `private[sql]` Spark entry points. Spark 4 made the
  * Expression ⇄ Column converters (`org.apache.spark.sql.classic.ExpressionUtils`),
  * `Dataset.ofRows` and `SparkSession.cloneSession` `private[sql]`; this
  * object lives inside the sql package tree solely to re-export them for
  * graft's custom Catalyst expressions and its stream runner. No Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a logical plan (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session sharing `spark`'s context and cached data, with its own copy
    * of the conf, temp views and streaming query manager
    * (`SparkSession.cloneSession` is private[sql]).
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
