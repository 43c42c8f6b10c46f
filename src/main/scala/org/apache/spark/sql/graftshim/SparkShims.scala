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

  /** Waits until the listener bus has delivered every event posted so
    * far (`listenerBus` is private[spark]), so what the status
    * tracker reports covers the jobs that have already started.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)

  /** The records the jobs of job group `group` wrote to files, summed
    * over their completed stage attempts in the status store
    * (`statusStore` is private[spark]). Covers the events the listener
    * bus has delivered (see [[drainListenerBus]]).
    */
  def recordsWritten(sc: org.apache.spark.SparkContext, group: String): Long = {
    val store = sc.statusStore
    sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(store.job(_).stageIds).distinct
      .flatMap(store.stageData(_))
      .filter(_.status == org.apache.spark.status.api.v1.StageStatus.COMPLETE)
      .map(_.outputRecords).sum
  }
}
