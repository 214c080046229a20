package org.apache.spark

/** Waits until every listener has seen every event posted so far.
  *
  * Listener events arrive asynchronously; draining the bus after each
  * operation lets the tracer attribute every job, stage, task, SQL
  * execution and streaming progress event to the operation that caused
  * it. The bus is package-private, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
