package org.apache.spark

/** The one Spark-internal the benchmark's tracer needs: draining the
  * asynchronous listener bus, so every task of a finished span has
  * been attributed before the layer totals are read.
  */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
