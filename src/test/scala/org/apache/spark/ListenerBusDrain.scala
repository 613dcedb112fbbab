package org.apache.spark

/** Test access to the listener bus, which is private to Spark. */
object ListenerBusDrain {
  /** Waits until every event posted so far has reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
