package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark's tracer needs to
  * wait for it so that every job, task and query-execution event of a span
  * has been delivered before the span's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
