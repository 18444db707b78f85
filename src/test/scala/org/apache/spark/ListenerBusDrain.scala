package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a spec's `QueryExecutionListener` has seen every query
  * that ran before the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
