package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete counters at the end of a run. The listener
  * bus is only reachable from inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
