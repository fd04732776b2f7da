package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways graft needs: turning a hand-built
  * [[LogicalPlan]] (the custom AsOfJoin node) into a DataFrame, and a
  * hand-built catalyst [[Expression]] (the bloom probe, whose
  * serialized-filter argument cannot travel through SQL text) into a
  * [[Column]]; and waiting until the listener bus has delivered every
  * posted event, so a job count read after an action is complete.
  * These are `private[sql]` / `private[spark]`, so this object lives
  * in Spark's package solely to reach them — the standard
  * extension-library technique; nothing else of Spark's internals is
  * touched. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
