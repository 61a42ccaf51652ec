package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column <-> Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils is private[sql] since
  * the Spark 4 Column/ColumnNode split). Standard pattern for libraries
  * that ship custom Catalyst expressions with a Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge for constructing a DataFrame from a custom LogicalPlan
  * (classic Dataset.ofRows is private[sql]) — required by the tier-(c)
  * custom-operator surface (graft.plans.Skyline). */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Blocks until every posted listener event has been delivered
  * (SparkContext.listenerBus is private[spark]) — lets a profiler read
  * exact per-action counters without sleeping. */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
