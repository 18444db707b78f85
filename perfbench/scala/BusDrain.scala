package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered. The traced run calls it outside the timed regions so that
  * the job, stage and write events of a measured call are all recorded
  * before the call's span is closed over them. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
