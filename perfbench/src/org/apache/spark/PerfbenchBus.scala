package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * span tallies are read only after every queued event was delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
