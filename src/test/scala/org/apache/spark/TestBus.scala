package org.apache.spark

/** Test access to the listener bus, which is private to Spark: blocks
  * until every event posted so far has reached the listeners, so a test
  * reads a listener's counts without sleeping. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
