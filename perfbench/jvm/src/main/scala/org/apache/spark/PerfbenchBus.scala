package org.apache.spark

/** Access to the listener bus drain, which Spark scopes to its own
  * package: the tracer waits for every queued listener event of a span
  * before it closes the span's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
