package org.apache.spark

/** The listener bus is private to Spark; the harness needs it drained
  * before it reads its counters, so every task-end event is counted. */
object WdbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
