package org.apache.spark

/** The listener bus is private to Spark; the benchmark's spans need to
  * wait for it so that a span's jobs and tasks are counted before the span
  * closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
