package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every job and progress event is counted before the
  * per-layer numbers are computed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
