package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners hold complete counts before they are read. */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
