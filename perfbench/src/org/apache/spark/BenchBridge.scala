package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads its listeners' counters.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
