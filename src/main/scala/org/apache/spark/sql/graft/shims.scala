package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. Spark 4's Column no longer wraps Expression directly (the Spark
  * Connect split); the conversion lives in `private[sql]` ExpressionUtils,
  * so this one-file shim sits in the org.apache.spark.sql namespace to reach
  * it — the standard pattern for libraries shipping custom expressions.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst's bounded top-k collect (`collect_top_k`, not SQL-registered):
    * the `num` largest values of `c` per group, descending, or with
    * `reverse` the `num` smallest, ascending. NULL inputs are skipped.
    */
  def collectTopK(c: Column, num: Int, reverse: Boolean): Column =
    column(new CollectTopK(expression(c), num, reverse).toAggregateExpression())

  /** Drain the shared listener bus — QueryExecutionListener events ride it
    * asynchronously, so a scan-count audit must flush before reading its
    * counters (`listenerBus` is `private[spark]`, reachable from this
    * namespace). Used by the ScanSweep audit and plan-shape specs only —
    * never on a hot path.
    */
  def waitForListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
