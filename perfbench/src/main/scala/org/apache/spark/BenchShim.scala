package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting for the
  * listener bus to drain, so a trace never misses a late job-end event.
  */
object BenchShim {
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
