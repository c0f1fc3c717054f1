package graft.operators

import org.apache.spark.sql.DataFrame

/** Bucketed-table writes and shuffle-freedom plan checks for the specs
  * that assert a bucketed layout removes its join's shuffle. */
object LayoutTestKit {

  /** Write a table bucketed+sorted by `bucketCols` (co-location layout).
    * Requires a session catalog (any warehouse dir, no Hive needed). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** True iff the executed plan of `df` contains no shuffle exchange —
    * the assertion that bucketing actually removed the shuffle. Descends
    * into AQE's materialized query stages (a plain `exists` over the tree
    * misses exchanges wrapped in `QueryStageExec`). */
  def isShuffleFree(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def hasShuffle(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeLike => true
      case a: AdaptiveSparkPlanExec => hasShuffle(a.executedPlan)
      case s: QueryStageExec => hasShuffle(s.plan)
      case other => other.children.exists(hasShuffle)
    }
    !hasShuffle(df.queryExecution.executedPlan)
  }

  /** True iff the scan of `table` reaches its NEAREST ancestor join with
    * no shuffle exchange in between — the table entered ITS join through
    * its bucketed layout. Everything above that join (the other side, later
    * joins over the join's derived output, post-join aggregation) may
    * shuffle freely: that's the point — only the corpus-sized side must
    * stay in place; its join's OUTPUT is a different, derived relation.
    * Used to assert incremental probes never re-shuffle the corpus. */
  def joinSideShuffleFree(df: DataFrame, table: String): Boolean = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // walk down to EVERY scan of `table` carrying "no shuffle seen since
    // the last join boundary"; at each scan, that flag is its verdict.
    // Joins reset it (a shuffle above a closer-to-root join constrains a
    // different, derived relation); a self-join contributes two scans and
    // BOTH must hold.
    def free(p: SparkPlan, clean: Boolean): Seq[Boolean] = p match {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == table) =>
        Seq(clean)
      case a: AdaptiveSparkPlanExec => free(a.executedPlan, clean)
      case s: QueryStageExec => free(s.plan, clean)
      case j: BaseJoinExec => j.children.flatMap(free(_, clean = true))
      case e: ShuffleExchangeLike => e.children.flatMap(free(_, clean = false))
      case other => other.children.flatMap(free(_, clean))
    }
    val verdicts = free(df.queryExecution.executedPlan, clean = true)
    verdicts.nonEmpty && verdicts.forall(identity)
  }
}
