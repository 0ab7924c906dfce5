package org.apache.spark

/** Reaches the listener bus so the harness can wait until every event
  * of a timed window has been delivered before it reads the counters.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
