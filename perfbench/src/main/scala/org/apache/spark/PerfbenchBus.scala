package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * counters read from a listener are complete only once every event
  * posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
