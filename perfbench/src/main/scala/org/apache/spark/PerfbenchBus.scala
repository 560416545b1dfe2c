package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The traced run needs it so that an op's job, task and query events
  * are all in hand before its listeners are detached; the wait itself
  * lies outside every timed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
