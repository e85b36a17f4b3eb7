package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * measured window's counters hold all of its events and none of set-up's.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
