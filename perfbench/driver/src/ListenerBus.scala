package org.apache.spark

/** Access to the listener bus, whose drain method is package-private:
  * the probes read listener events only after every event an op caused
  * has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
