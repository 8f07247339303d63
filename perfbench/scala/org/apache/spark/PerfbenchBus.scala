package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it so
  * that counters read after a measured call include every event it posted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
