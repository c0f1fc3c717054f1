package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew operators (SURVEY §4 "planned physical choices"): a skewed
 * aggregation/join key is sharded into `salts` sub-keys; partials combine
 * per (key, salt), then a cheap final pass combines per key. Salt
 * derivation is DETERMINISTIC (hash of a caller-chosen discriminator
 * column, never rand()) so re-runs and retries are stable. AQE's
 * skew-join split handles most cases at runtime; explicit salting remains
 * for aggregations and deterministic plans.
 */
object Layout {

  /** Deterministic salt in [0, salts) from a discriminator column. */
  def saltOf(discriminator: Column, salts: Int): Column =
    pmod(xxhash64(discriminator), lit(salts.toLong))

  /**
   * Skew-safe two-phase sum aggregation: groupBy (key, salt) combines the
   * hot key's rows across `salts` reducers, then the tiny second pass
   * merges the partials. Result is identical to a plain groupBy-sum.
   */
  def saltedSum(df: DataFrame, keyCols: Seq[String], valueCol: String,
      discriminator: Column, salts: Int = 16): DataFrame =
    df.withColumn("__salt", saltOf(discriminator, salts))
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__pn"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"), sum(col("__pn")).as("n"))

  /**
   * Skew-safe broadcast-style join for a skewed fact against a small dim
   * when broadcast is off the table: replicate the dim `salts`× and join on
   * (key, salt) so one hot key spreads over `salts` partitions.
   */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, key: String,
      discriminator: Column, salts: Int = 16): DataFrame = {
    val saltedFact = skewed.withColumn("__salt", saltOf(discriminator, salts))
    val repl = dim.crossJoin(
      skewed.sparkSession.range(salts).select(col("id").as("__salt")))
    saltedFact.join(repl, Seq(key, "__salt")).drop("__salt")
  }
}
