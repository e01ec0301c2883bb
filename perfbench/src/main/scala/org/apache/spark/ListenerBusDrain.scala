package org.apache.spark

/** Waits until every event posted so far has reached the listeners. Lives
  * in this package because the listener bus is private to Spark; traced
  * batch runs call it between executions, outside the timed window, so
  * each execution's events are charged to that execution. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
