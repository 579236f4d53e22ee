package org.apache.spark

/** Access to the SparkContext's listener bus, which is package-private:
  * the benchmark's tracer waits for it to drain before it reads the
  * counters of a finished iteration. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
