package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** Event-time sessionization ([[TimeSeries.sessionizeBatch]]) against the
  * gap semantics of Spark's `session_window`. */
class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Small deterministic event set: 2 users, bursts separated by >30min. */
  private lazy val events = {
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "view", 1.0),
      (2L, "2024-01-01 00:10:00", 10L, "click", 2.0),
      (3L, "2024-01-01 01:00:00", 10L, "view", 3.0), // 50min gap -> new session
      (4L, "2024-01-01 00:05:00", 20L, "view", 4.0),
      (5L, "2024-01-01 02:00:00", 20L, "purchase", 5.0),
      (6L, "2024-01-01 02:20:00", 20L, "view", 6.0))
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")
  }

  test("batch sessionization: gap>30min splits; aggregates per session") {
    val out = TimeSeries.sessionizeBatch(events, gapMin = 30).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    assert(out.size == 4)
    assert(out((10L, 0L)) == (2L, 3.0)) // first burst of user 10
    assert(out((10L, 1L)) == (1L, 3.0))
    assert(out((20L, 0L)) == (1L, 4.0))
    assert(out((20L, 1L)) == (2L, 11.0))
  }

  test("batch sessionization matches session_window on sub-second and exact-gap boundaries") {
    // unix_timestamp truncates to whole seconds: a 1800.5s gap read as
    // 1800 merged where session_window split — the batch form must gap on
    // full-precision seconds. And at EXACTLY gap, session_window merges
    // (end-inclusive interval join), so strict `>` is the right comparator.
    val subSec = Seq(
      (1L, "2024-01-01 00:00:00.100", 10L, "view", 1.0),
      (2L, "2024-01-01 00:30:00.100", 10L, "view", 1.0), // diff == 1800.000s: merge
      (3L, "2024-01-01 00:00:00.100", 20L, "view", 1.0),
      (4L, "2024-01-01 00:30:00.600", 20L, "view", 1.0)) // diff 1800.5s: split
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")
    val batch = TimeSeries.sessionizeBatch(subSec, gapMin = 30).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSeq.sorted
    assert(batch == Seq((10L, 2L), (20L, 1L), (20L, 1L)))
    // and session_window agrees on the same input
    val windowed = subSec
      .groupBy(col("user_id"), session_window(col("ts").cast("timestamp"), "30 minutes"))
      .agg(count(lit(1)).as("n_events")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSeq.sorted
    assert(windowed == batch)
  }
}
