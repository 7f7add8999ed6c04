package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * ledger read right after an action sees all of that action's job,
  * stage and task events. The bus is `private[spark]`, hence this
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
