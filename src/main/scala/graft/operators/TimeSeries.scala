package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Time-series operators Spark lacks natively.
 *
 * The as-of join is THE canonical one: annotate each left row with the
 * most recent right row at-or-before its timestamp (per key) — prices at
 * trade time, feature snapshots at event time, config state at log time.
 */
object TimeSeries {

  /**
   * Distributed as-of join: for every `left` row, the latest `right` row
   * with `right.ts <= left.ts` on the same key supplies `valueCols`
   * (suffixed; null when no right row precedes).
   *
   * Shape: Spark would plan the naive inequality join as a broadcast
   * nested loop (or an exploded range join) — quadratic per key. Instead
   * both sides UNION (right rows carry the values, left rows nulls) and a
   * per-key window takes the last non-null value over (ts, side) order:
   * ONE shuffle on the key, each row touched once, per-task state = one
   * value per column. Equal timestamps resolve INCLUSIVELY (the right row
   * sorts before left rows at the same ts), matching DuckDB's
   * `ASOF JOIN ... ON l.ts >= r.ts`, which hash-verifies this operator.
   *
   * Determinism: callers must make `right` unique per (key, ts) — e.g.
   * aggregate first — otherwise "the" latest row at a timestamp is
   * arbitrary (every engine shares this caveat; DuckDB picks one too).
   *
   * Skew: the window partitions by key, so a pathologically hot key
   * serializes through one task. `sliceSeconds` is the bounded-parallelism
   * valve: the window re-partitions by (key, time-slice) — parallelism =
   * #slices even for a single-key stream — and cross-slice history arrives
   * via carry rows (the latest right row from any earlier slice, injected
   * per slice; see [[slicedAsof]]). Result-identical to the plain path
   * (unit-proven on a hot-key fixture); costs one extra small aggregation
   * + window over per-slice aggregates, so leave it off (default) unless
   * keys are hot. Pick slices ≈ hot-key event density you want per task.
   *
   * `direction` / `toleranceSeconds` complete the pandas-`merge_asof`
   * surface: `"forward"` matches the EARLIEST right row at-or-after the
   * left ts (the same one-pass window, traversed in ts-descending order —
   * right rows still sort first at equal ts, so ties stay inclusive);
   * `toleranceSeconds` nulls a match farther than `tol` from the left row
   * (staleness cap — a quote from last week should not annotate today's
   * trade). Tolerance carries the matched right ts through the window as
   * a (ts, value) struct and compares at MICROsecond precision, so the
   * cut is exactly `r.ts >= l.ts - tol` (no whole-second rounding drift
   * vs the oracle's interval arithmetic). Both oracle-verified
   * (`events_asof_fwd` via DuckDB ASOF with `<=`; `events_asof_tol` via a
   * plain inequality join). The sliced valve supports the default
   * backward/no-tolerance form only.
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String], suffix: String = "_asof",
      sliceSeconds: Option[Long] = None, direction: String = "backward",
      toleranceSeconds: Option[Long] = None): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "keyCols and valueCols required")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward: $direction")
    require(sliceSeconds.isEmpty || (direction == "backward" && toleranceSeconds.isEmpty),
      "sliceSeconds supports the backward/no-tolerance form only")
    // the union carries right values in columns named valueCol+suffix; if
    // the left frame already has one (e.g. chaining two as-of joins with
    // the same suffix), unionByName would merge them and left rows' own
    // values would become match candidates in the window — reject loudly
    valueCols.map(_ + suffix).filter(left.columns.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"asofJoin: left already has a column named '$c' — pick a different " +
          "suffix (chained as-of joins must not reuse the output names)"))
    sliceSeconds match {
      case Some(sec) => slicedAsof(left, right, keyCols, tsCol, valueCols, suffix, sec)
      case None =>
        // a null-ts right row precedes nothing (DuckDB ASOF `l.ts >= r.ts`
        // never matches a null r.ts) — drop it or it sorts to the head of
        // every partition and hands its value to unmatched left rows
        val rPrepped = right.where(col(tsCol).isNotNull).select(
          (keyCols :+ tsCol).map(col) ++ valueCols.map(c => col(c).as(c + suffix)): _*)
          .withColumn("__src", lit(0))
        val unioned = left.withColumn("__src", lit(1))
          .unionByName(rPrepped, allowMissingColumns = true)
        // nulls FIRST in both directions: a null-ts LEFT row must see no
        // right row before it in the traversal (→ NULL match), which asc
        // gives by default but desc must request explicitly
        val tsOrd = if (direction == "backward") col(tsCol).asc_nulls_first
          else col(tsCol).desc_nulls_first
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(tsOrd, col("__src").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toleranceSeconds match {
          case None =>
            valueCols.foldLeft(unioned) { (df, v) =>
              df.withColumn(v + suffix, last(col(v + suffix), ignoreNulls = true).over(w))
            }.filter(col("__src") === 1).drop("__src")
          case Some(tol) =>
            require(tol >= 0, s"toleranceSeconds must be non-negative: $tol")
            val usec = unix_micros(col(tsCol).cast("timestamp"))
            val picked = valueCols.foldLeft(unioned) { (df, v) =>
              df.withColumn("__pick_" + v,
                last(when(col(v + suffix).isNotNull,
                    struct(usec.as("rusec"), col(v + suffix).as("v"))),
                  ignoreNulls = true).over(w))
            }
            valueCols.foldLeft(picked) { (df, v) =>
              val p = col("__pick_" + v)
              val gap = if (direction == "backward") usec - p.getField("rusec")
                        else p.getField("rusec") - usec
              df.withColumn(v + suffix,
                  when(p.isNotNull && gap <= tol * 1000000L, p.getField("v")))
                .drop("__pick_" + v)
            }.filter(col("__src") === 1).drop("__src")
        }
    }
  }

  /**
   * The hot-key form of [[asofJoin]]: identical results, windows
   * partitioned by (key, slice) instead of key.
   *
   * The only cross-slice dependency of an as-of join is "the latest right
   * row at-or-before the slice start", so each (key, left-slice) gets
   * CARRY rows injected: per VALUE COLUMN (matching the plain path's
   * per-column `last(ignoreNulls)` semantics when right rows hold nulls),
   * the latest right row with that column non-null from any strictly
   * earlier slice. Carries are computed over per-(key, slice) AGGREGATES —
   * one row per slice, not per event — so the only per-key window in the
   * plan is over #slices rows: a key with 100M events in 1000 slices costs
   * a 1000-row window task, while the event-level windows run 1000-way
   * parallel. A carry row keeps its ORIGINAL ts (strictly below the slice
   * start), so within-slice ordering needs no special casing.
   */
  private def slicedAsof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String], suffix: String, sec: Long): DataFrame = {
    require(sec > 0, "sliceSeconds must be positive")
    def sliceOf(c: Column) = floor(unix_seconds(c.cast("timestamp")) / sec)
    // null-ts right rows can never be an as-of match — same rule as the
    // plain path
    val rPre = right.where(col(tsCol).isNotNull).select(
      (keyCols :+ tsCol).map(col) ++ valueCols.map(c => col(c).as(c + suffix)): _*)
      .withColumn("__slice", sliceOf(col(tsCol))).withColumn("__src", lit(0))
    // slices that need history injected = slices where the LEFT has rows
    val lSlices = left
      .select(keyCols.map(col) :+ sliceOf(col(tsCol)).as("__slice"): _*).distinct()
    // ONE grouped pass computes every column's per-slice last non-null
    // right row (conditional max keyed by ts), and ONE per-key window over
    // the slice-level aggregates carries them forward — cost does not
    // multiply with valueCols. Markers (__m=0) sort BEFORE the same
    // slice's aggregate (__m=1), so a marker's running last() sees
    // strictly earlier slices only.
    val lastCols = valueCols.map(v => max(when(col(v + suffix).isNotNull,
      struct(col(tsCol), col(v + suffix)))).as(s"__last_$v"))
    val lastPer = rPre.groupBy(keyCols.map(col) :+ col("__slice"): _*)
      .agg(lastCols.head, lastCols.tail: _*)
    val nullLasts = valueCols.map(v =>
      lit(null).cast(lastPer.schema(s"__last_$v").dataType).as(s"__last_$v"))
    val marked = lastPer.withColumn("__m", lit(1)).unionByName(
      lSlices.select(keyCols.map(col) ++ (col("__slice") +: nullLasts): _*)
        .withColumn("__m", lit(0)))
    val wc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__slice").asc, col("__m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = valueCols.foldLeft(marked)((df, v) =>
      df.withColumn(s"__carry_$v", last(col(s"__last_$v"), ignoreNulls = true).over(wc)))
      .filter(col("__m") === 0)
    // ONE carry frame via explode (per-column rows, each holding only its
    // column), not V union branches sharing this window lineage — Spark
    // 4.1.2's relation dedup mis-rebinds expressions when one derived
    // frame feeds multiple union branches (see KeyedStore.merge)
    val carryElems = valueCols.map { v =>
      struct((col(s"__carry_$v").getField(tsCol).as(tsCol) +:
        valueCols.map { u =>
          (if (u == v) col(s"__carry_$u").getField(u + suffix)
           else lit(null).cast(rPre.schema(u + suffix).dataType)).as(u + suffix)
        }): _*)
    }
    val carryRows = carried
      .select(keyCols.map(col) ++ Seq(col("__slice"),
        explode(array(carryElems: _*)).as("__e")): _*)
      .filter(col("__e").getField(tsCol).isNotNull) // no earlier right row
      .select(keyCols.map(col) ++ Seq(col("__slice"),
        col("__e").getField(tsCol).as(tsCol)) ++
        valueCols.map(v => col("__e").getField(v + suffix).as(v + suffix)) :+
        lit(0).as("__src"): _*)
    val lPre = left.withColumn("__slice", sliceOf(col(tsCol))).withColumn("__src", lit(1))
    val unioned = lPre.unionByName(rPre, allowMissingColumns = true)
      .unionByName(carryRows, allowMissingColumns = true)
    val w = Window.partitionBy((keyCols :+ "__slice").map(col): _*)
      .orderBy(col(tsCol).asc, col("__src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(unioned) { (df, v) =>
      df.withColumn(v + suffix, last(col(v + suffix), ignoreNulls = true).over(w))
    }.filter(col("__src") === 1).drop("__src", "__slice")
  }

  /**
   * Keyed interval (range) join: every (left, right) pair on the same key
   * with `left.ts ∈ [right.start, right.end]` (inclusive both ends).
   *
   * Spark plans a raw `BETWEEN` join condition as an equi-join on the key
   * with the range as a post-join filter — fine — but with NO key (or a
   * hot key) it degrades to a nested loop over every (event, interval)
   * pair. The scalable shape buckets time into `bucketSeconds` cells:
   * each left row lands in exactly ONE bucket, each right interval
   * EXPLODES into the buckets it covers (sized so that's a handful), and
   * the join becomes a plain equi-join on (key, bucket) + exact range
   * filter. Each qualifying pair emerges exactly once — the left row has
   * one bucket, and the interval covers it once — so no dedup pass.
   * Choose `bucketSeconds` ≈ the typical interval length: shorter wastes
   * join fan-out, longer packs too many rows per cell.
   *
   * The oracle (`events_range`) states the plain inequality join in
   * DuckDB — hash parity proves the bucketing is lossless.
   */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, startCol: String, endCol: String,
      bucketSeconds: Long = 600): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    // UTC-session epoch seconds; internal only (any monotonic mapping
    // works — the oracle never sees the buckets)
    def sec(c: org.apache.spark.sql.Column) =
      unix_seconds(c.cast("timestamp"))
    val lB = left.withColumn("__bucket", floor(sec(col(tsCol)) / bucketSeconds))
    val rB = right.withColumn("__bucket",
      explode(sequence(floor(sec(col(startCol)) / bucketSeconds),
        floor(sec(col(endCol)) / bucketSeconds))))
    lB.join(rB, keyCols :+ "__bucket")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bucket")
  }

  /**
   * Resample to a regular per-key grid with last-observation-carried-
   * forward: emit one row per (key, grid instant) for instants spaced
   * `stepSeconds` apart between each key's first and last observation,
   * carrying the most recent observed `valueCol` at-or-before the
   * instant (the grid origin is the first observation itself, so every
   * emitted instant has a value).
   *
   * Shape: the [[asofJoin]] trick applied to a GENERATED left side — per-
   * key bounds (one small aggregation), `sequence()` explodes the grid
   * (map-only fan-out), then observations ∪ grid points flow through ONE
   * key-partitioned window taking the last non-null value in (ts, side,
   * id) order — observations sort before the grid instant they tie with
   * (inclusive semantics, like [[asofJoin]]), `idCol` breaks same-ts
   * observation ties deterministically (null id on grid rows coalesces
   * to -1, ordering identically in engines that disagree on null order).
   * One shuffle for the bounds, one for the window — no inequality join,
   * no per-key quadratic anything.
   *
   * The grid aligns to the key's FIRST observation (t₀, t₀+step, …):
   * alignment needs no calendar truncation, so the whole operator stays
   * in the NTZ domain with second arithmetic only.
   */
  def resampleLocf(events: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, stepSeconds: Long, idCol: String): DataFrame = {
    val keyC = keyCols.map(col)
    val w = Window.partitionBy(keyC: _*)
      .orderBy(col(tsCol), col("__side"), coalesce(col("__id"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gridUnion(events, keyCols, tsCol, valueCol, stepSeconds, idCol)
      .withColumn("__locf", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(keyC ++ Seq(col(tsCol), col("__locf").as(valueCol)): _*)
  }

  /**
   * LINEAR-interpolation resampling: like [[resampleLocf]] but a grid
   * instant between two observations carries the time-weighted blend
   * `v_prev + (v_next − v_prev) · Δprev/Δspan` (6dp-quantized — the one
   * arithmetic emission of the family) instead of the carried value; an
   * instant at an observation reproduces it exactly (Δprev = 0), and the
   * final instant (no later observation) falls back to LOCF, emitted
   * raw. Two running-frame window passes over the same key partition:
   * "previous observation" is the ascending LOCF, "next observation" is
   * the SAME incremental [unbounded-preceding, current] frame over the
   * REVERSED order — NOT a [current, unbounded-following] frame, which
   * Spark's WindowExec evaluates by re-aggregating the remainder of the
   * partition for EVERY row: O(rows²) per key, measured 10× the LOCF
   * twin at sf0.1 (6.3 s vs 0.6; the reversed form restores parity).
   * The reversed order excludes same-ts observations exactly like the
   * following-frame did (they sort after the grid instant descending),
   * so the semantics are identical. Time deltas are
   * `timestampdiff(MICROSECOND, …)` — NTZ-domain integer arithmetic, no
   * session-timezone dependence.
   */
  def resampleInterp(events: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, stepSeconds: Long, idCol: String): DataFrame = {
    val keyC = keyCols.map(col)
    val wPrev = Window.partitionBy(keyC: _*)
      .orderBy(col(tsCol), col("__side"), coalesce(col("__id"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRev = Window.partitionBy(keyC: _*)
      .orderBy(col(tsCol).desc, col("__side").desc,
        coalesce(col("__id"), lit(-1L)).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val num = expr(s"timestampdiff(MICROSECOND, __pt, $tsCol)").cast("double")
    val den = expr("timestampdiff(MICROSECOND, __pt, __nt)").cast("double")
    val interp = graft.functions.Quantize.q6(
      col("__pv") + (col("__nv") - col("__pv")) * num / den)
    gridUnion(events, keyCols, tsCol, valueCol, stepSeconds, idCol)
      .withColumn("__ts", when(col("__side") === 0, col(tsCol)))
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__pt", last(col("__ts"), ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(wNextRev))
      .withColumn("__nt", last(col("__ts"), ignoreNulls = true).over(wNextRev))
      .filter(col("__side") === 1)
      .select(keyC ++ Seq(col(tsCol),
        when(col("__nt").isNull, col("__pv")).otherwise(interp).as(valueCol)): _*)
  }

  /** Shared resampling substrate: per-key bounds → `sequence()` grid →
    * observations ∪ grid points, tagged (__v, __side, __id). The grid
    * origin is each key's first observation, so alignment needs no
    * calendar truncation and the whole family stays in the NTZ domain. */
  private def gridUnion(events: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, stepSeconds: Long, idCol: String): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val keyC = keyCols.map(col)
    val bounds = events.groupBy(keyC: _*)
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1"))
    val grid = bounds.select(keyC :+ explode(sequence(col("__t0"), col("__t1"),
      expr(s"INTERVAL $stepSeconds SECOND"))).as(tsCol): _*)
    val obs = events.select(keyC ++ Seq(col(tsCol), col(valueCol).as("__v"),
      lit(0).as("__side"), col(idCol).cast("long").as("__id")): _*)
    val gr = grid.select(keyC ++ Seq(col(tsCol), lit(null).cast(
      events.schema(valueCol).dataType).as("__v"),
      lit(1).as("__side"), lit(null).cast("long").as("__id")): _*)
    obs.unionByName(gr)
  }

  /**
   * Gap-based sessionization: a session breaks after `gapMin` minutes of
   * inactivity per user, with `session_window`'s gap semantics. lag →
   * boundary flag → running sum = session index; then one agg per session.
   * Two shuffles total (both on user_id — the window and the groupBy share
   * partitioning).
   */
  def sessionizeBatch(events: DataFrame, gapMin: Int = 30): DataFrame = {
    // event_id tiebreak keeps lag() deterministic under same-ts events
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // FULL-precision gap: unix_timestamp truncates to whole seconds, which
    // merges a 1800.5s gap under gapMin=30 where session_window splits it;
    // cast-to-double keeps the microseconds. Strict `>` matches
    // session_window exactly — a gap of precisely gapMin merges there
    // (probe-verified: its interval join is end-inclusive).
    def secs(c: Column) = c.cast("timestamp").cast("double")
    val newSession = when(
      secs(col("ts")) - secs(lag(col("ts"), 1).over(byUser)) > gapMin * 60.0,
      lit(1L)).otherwise(lit(0L))
    events
      .withColumn("__new", newSession)
      .withColumn("session_idx",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
  }
}
