package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: blocks
  * until every event posted so far has reached the listeners, so a
  * listener's counts are read exactly instead of after a sleep. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
