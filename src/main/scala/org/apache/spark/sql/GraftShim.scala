package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters (Spark 4.x
  * moved them behind `org.apache.spark.sql.classic`) and the
  * `private[spark]` listener bus. Lives in the `org.apache.spark.sql`
  * package purely for access; contains no logic. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Waits until every queued listener event has been delivered, so a
    * listener read right after an action sees all of its job events. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
