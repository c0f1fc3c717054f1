package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-session memo of loaded, immutable values — the table scans
  * `SparkEntry` opens and the cache artifacts [[AnnIndex]] serves — keyed
  * by the path each was read from. `spark.read.parquet` and the artifact
  * readers pay driver-side listing, footer and collect work on EVERY
  * call; a memoized DataFrame is an analyzed plan that still executes in
  * full each time, so no result caching sneaks into measurements.
  * Weak session keys, and stopped sessions purged on access: the cached
  * values reference their session, keeping its weak key strongly
  * reachable (the documented WeakHashMap caveat), so the weak key only
  * covers sessions dropped without stop(). */
private[graft] object SessionMemo {
  private val memo =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, AnyRef]]()

  def apply[T <: AnyRef](spark: SparkSession, key: String)(load: => T): T = {
    val per = memo.synchronized {
      memo.keySet.removeIf(_.sparkContext.isStopped)
      memo.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, AnyRef]())
    }
    per.computeIfAbsent(key, _ => load).asInstanceOf[T]
  }
}
