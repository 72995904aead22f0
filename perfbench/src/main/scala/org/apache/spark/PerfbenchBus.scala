package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * engine counters of a traced run are complete before they are written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
