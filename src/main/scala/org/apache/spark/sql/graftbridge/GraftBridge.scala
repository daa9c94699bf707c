package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals.
  *
  * Spark 4 removed the public `Column(expr)` constructor; custom
  * Catalyst expressions need `classic.ExpressionUtils` to surface as
  * `Column`s, and custom logical plans need `classic.Dataset.ofRows`
  * to surface as `DataFrame`s. This object lives in an
  * `org.apache.spark.sql` subpackage purely to satisfy the access
  * modifier — it adds no behavior.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Float normalization (-0.0 → 0.0, canonical NaN) for grouping
    * keys — the same treatment the optimizer gives Aggregate/Window
    * keys; a no-op for expressions that don't need it. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** DataFrame over a (resolved) custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the listener bus, waiting at most 30 s —
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]`. Listener
    * events (task ends, job starts, QueryExecutionListener callbacks)
    * are delivered asynchronously, so a reader of listener-accumulated
    * state drains first to see every event of the action that just
    * finished. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000)
}
