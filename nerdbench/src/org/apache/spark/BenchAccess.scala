package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the tracer
  * waits for it to drain before it reads the per-span job metrics.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
