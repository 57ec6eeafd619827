package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal private[sql] bridge: build a DataFrame from a custom
  * LogicalPlan (`Dataset.ofRows` is package-private). This is the
  * standard technique for Spark extension libraries that introduce
  * their own logical operators.
  */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression bridge (`ExpressionUtils` is private[sql]):
    * lets SQL FunctionRegistry builders reuse the Column-level helper
    * functions (Histograms, Jsonb) instead of duplicating their
    * expression trees — the reference-name alias layer registers
    * `quantile_from_histogram` & co. through this.
    */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    // the ACTIVE session's converter, not ExpressionUtils: the latter
    // wraps the column's node tree in an opaque ColumnNodeExpression
    // that the analyzer cannot resolve through (function-registry
    // builders run during resolution, so sub-functions inside the
    // column must convert to ordinary unresolved Catalyst expressions)
    SparkSession.active.asInstanceOf[classic.SparkSession].expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** Drain the shared listener bus (`SparkContext.listenerBus` is
    * private[spark]) — QueryExecutionListener callbacks ride
    * SparkListenerSQLExecutionEnd events asynchronously, so a test
    * that collects executed plans via a listener must drain before
    * reading its buffer (ScaleInvariantSpec's pre-checkpoint plan
    * capture).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
