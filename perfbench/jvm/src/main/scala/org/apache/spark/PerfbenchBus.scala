package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * statistics snapshot taken after a statement finishes includes all of
  * its task-end events. `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
