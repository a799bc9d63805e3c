package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The traced run aggregates listener records after its ops; without
  * this wait the last op's task and SQL events could still be queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
