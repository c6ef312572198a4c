package org.apache.spark

/** Access to the listener bus, so counts are read only after every
  * event of the run has been delivered.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
