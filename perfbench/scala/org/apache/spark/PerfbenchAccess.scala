package org.apache.spark

/** Lives in the spark package for access to the listener bus, whose
  * drain call is package-private: counters read from a listener are only
  * complete once every event posted before the read has been delivered.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
