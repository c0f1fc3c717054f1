package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads the engine counters its listener collected. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
