package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a test's listener has seen every job its body started. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
