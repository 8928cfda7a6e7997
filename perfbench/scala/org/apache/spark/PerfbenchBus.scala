package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark's tracer needs
  * it so every job, task and query event of a finished span has been
  * delivered before the span claims its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
