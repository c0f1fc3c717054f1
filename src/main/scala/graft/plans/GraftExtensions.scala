package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Session extensions registering the engine's native expressions for SQL
 * (`spark.sql("SELECT float_vector_dot(a, b) ...")`).
 *
 * Install via
 * `SparkSession.builder.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("float_vector_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "float_vector_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "float_vector_dot takes exactly 2 arguments")
        FloatVectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_adc_distance"),
      new ExpressionInfo(classOf[PqAdcDistance].getName, "pq_adc_distance"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "pq_adc_distance takes exactly 2 arguments")
        PqAdcDistance(children.head, children(1))
      }))
    // merged-BPE token count under the default demo merge table; callers
    // needing a production merges list use the Scala surface
    // (TextFunctions.bpeCount(col, merges))
    ext.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[NativeKernel].getName, "bpe_token_count"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "bpe_token_count takes exactly 1 argument")
        Bridge.expression(BpeExpressions.bpeCount(Bridge.column(children.head),
          graft.functions.TextFunctions.BpeMerges))
      }))
    // mergeable quantile sketches at the default k; the analyzer wraps the
    // returned AggregateFunction in its AggregateExpression
    ext.injectFunction((
      FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "kll_sketch_agg takes exactly 1 argument")
        KllSketchAgg(children.head, KllExpressions.DefaultK)
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_union_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_union_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "kll_union_agg takes exactly 1 argument")
        KllMergeAgg(children.head, KllExpressions.DefaultK)
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantileOf].getName, "kll_quantile"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "kll_quantile takes exactly 2 arguments")
        KllQuantileOf(children.head, children(1))
      }))
  }
}
