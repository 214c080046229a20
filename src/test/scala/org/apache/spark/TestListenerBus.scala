package org.apache.spark

/** Test access to the package-private listener bus: `drain` returns
  * once every listener has seen every event posted so far, so a
  * listener's counters can be read without racing the bus thread.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
