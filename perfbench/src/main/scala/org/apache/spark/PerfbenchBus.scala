package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * trace of an operation is complete before it is read. The listener bus
  * exposes this only inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
