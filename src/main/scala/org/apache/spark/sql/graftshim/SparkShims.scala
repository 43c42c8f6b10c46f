package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface: wrapping a raw Catalyst
  * `Expression` into the public `Column` API (and back). Spark 4's
  * Column is a ColumnNode wrapper; `classic.ExpressionUtils` is the
  * supported classic-mode conversion but is package-private, so this
  * one-file shim lives under org.apache.spark.sql. No Spark internals
  * are modified.
  */
object SparkShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session (functionRegistry
    * is private[sql]).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
