package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Mergeable sketch state for incremental corpus statistics.
 *
 * The approx twins (`distinct_counts_approx`, `value_quantiles_approx`)
 * recompute their sketches from raw data on every call — fine for one-shot
 * stats, wrong for a store that grows by increments: corpus-wide distinct
 * counts at 100 TB should NOT rescan every historical increment. The
 * incremental form: each increment persists a tiny per-group HLL sketch
 * row (binary register state, kilobytes per group — Spark's Datasketches
 * `hll_sketch_agg`), and corpus-wide stats come from merging the persisted
 * sketches (`hll_union_agg` — register-wise max), never touching raw rows
 * again.
 *
 * HLL union over same-`lgConfigK` sketches is LOSSLESS in the sketch
 * domain (registers are max-merged, insertion-order free), so merging
 * per-increment sketches yields byte-equivalent estimates to sketching
 * the concatenated corpus in one pass — asserted in CorpusSpec, along
 * with a parquet round-trip of the binary sketch column.
 *
 * Quantiles merge the same way through Spark's own KLL surface
 * (DataSketches `KllDoublesSketch`): [[kllIncrement]] persists one binary
 * sketch row per group (`kll_sketch_agg_double`), and [[kllMerge]] unions
 * them (`kll_merge_agg_double`) and reads each rank
 * (`kll_sketch_get_quantile_double`), giving percentiles the same
 * never-rescan incremental shape the HLL pair gives distinct counts.
 * Unlike HLL union (register-wise max, byte-deterministic), KLL
 * compaction is randomized — merge ≡ one-pass holds in the error-bound
 * sense (both within the sketch's ~1.65% rank error at k=200), asserted
 * in CorpusSpec; the query surface is rows-only by design.
 */
object Sketches {

  /**
   * Per-increment sketch rows: one row per `groupCols` group carrying the
   * binary HLL state of `valueCol`'s distinct values plus an exact row
   * count (exact counts ARE mergeable — a plain sum). One map-side-
   * combined aggregation; persist the output alongside the increment
   * (the sketch column is plain `binary`, parquet-safe).
   */
  def hllIncrement(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as(s"${valueCol}_hll"),
        count(lit(1)).as("n_rows"))

  /**
   * Corpus-wide estimates from persisted increment sketches: group-wise
   * `hll_union_agg` + estimate, plus the summed row counts. Cost is
   * O(groups × increments) sketch rows — independent of corpus size.
   */
  def hllMerge(sketches: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(s"${valueCol}_hll"), lit(false)))
          .as(s"${valueCol}_distinct"),
        sum(col("n_rows")).as("n_rows"))

  /** Default KLL sketch size: ≤ ~1.65% normalized rank error at 99%
    * confidence, a few KB serialized — the DataSketches default. */
  val KllK = 200

  /**
   * Per-increment QUANTILE sketch rows — the percentile analog of
   * [[hllIncrement]]: one row per group carrying the binary KLL state
   * (`KllDoublesSketch.toByteArray`) of `valueCol`'s distribution plus
   * the exact row count. Map-side combined (Spark's KLL aggregate is a
   * TypedImperativeAggregate: partials merge per exchange); the sketch
   * column is plain `binary`, parquet-safe, kilobytes per group at the
   * default k.
   */
  def kllIncrement(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = KllK): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double"), k).as(s"${valueCol}_kll"),
        count(lit(1)).as("n_rows"))

  /**
   * Corpus-wide quantile estimates from persisted increment sketches:
   * group-wise KLL union + one quantile read per requested rank. Cost is
   * O(groups × increments) sketch rows — percentiles over a growing
   * corpus without rescanning any increment. A group whose values were
   * all null has an empty sketch and reads a null quantile: the read is
   * guarded by the sketch's count, because Spark's quantile read throws
   * (KLL_INVALID_INPUT_SKETCH_BUFFER) on an empty sketch.
   *
   * `k` MUST match the k the increments were built with: the DataSketches
   * union adopts the SMALLEST k involved, so a k=200 union buffer over
   * k=400 increments silently degrades accuracy below what the caller
   * configured (and the reverse wastes the buffer).
   */
  def kllMerge(sketches: DataFrame, groupCols: Seq[String], valueCol: String,
      ranks: Seq[Double] = Seq(0.5, 0.95),
      k: Int = KllK): DataFrame = {
    val merged = sketches.groupBy(groupCols.map(col): _*)
      .agg(kll_merge_agg_double(col(s"${valueCol}_kll"), k).as("__sk"),
        sum(col("n_rows")).as("n_rows"))
    val qCols = ranks.map(r =>
      when(kll_sketch_get_n_double(col("__sk")) > 0,
        kll_sketch_get_quantile_double(col("__sk"), lit(r))).as(rankColName(r)))
    merged.select(groupCols.map(col) ++ qCols :+ col("n_rows"): _*)
  }

  /** Unambiguous quantile column name: "p50", "p95" for whole percents,
    * "p95_4" for 0.954 — two ranks that round to the same whole percent
    * (0.954 vs 0.955) would otherwise collide on one output name. */
  private[graft] def rankColName(r: Double): String = {
    val pct = BigDecimal.valueOf(r) * 100
    val s = pct.underlying.stripTrailingZeros.toPlainString
    "p" + s.replace(".", "_").replace("-", "m")
  }
}
