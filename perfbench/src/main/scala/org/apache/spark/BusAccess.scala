package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so per-call counts are complete when a traced call ends. The bus is
  * internal to Spark, hence this package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
