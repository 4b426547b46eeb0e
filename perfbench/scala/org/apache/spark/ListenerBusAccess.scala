package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every event
  * posted so far, so listener totals read after an action are final.
  * Lives in this package because the bus is `private[spark]`. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
