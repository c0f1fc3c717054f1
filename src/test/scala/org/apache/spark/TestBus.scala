package org.apache.spark

/** The listener bus is package-private. The status tracker is fed from it
  * asynchronously, so a spec that reads the tracker right after a job
  * ends drains the bus first — a bounded wait that throws a
  * `TimeoutException` if the bus does not empty in time. */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
