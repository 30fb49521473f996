package org.apache.spark

/** The listener bus's drain is package-private; the tracer needs it to
  * read a span's events only after all of them were delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
