package org.apache.spark

/** The one package-private hook the benchmark's tracer needs: waiting for
  * the listener bus to deliver every posted event before a span's counters
  * are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
