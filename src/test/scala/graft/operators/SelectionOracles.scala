package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The feature-string formulation of DSIR's feature hashing — the
  * readable contract [[graft.plans.Md5FeatureBuckets]] is pinned
  * bit-identical against. */
object SelectionOracles {

  /**
   * Row-local feature extraction: unigram ++ bigram STRINGS over the
   * shared alnum tokenization. Pure column expression — no exchange, no
   * UDF. Hashing happens downstream, post-explode, at top level: the
   * string build is the only higher-order function (interpreted per
   * element, but cheap concats), while the md5 bucket runs codegen'd.
   */
  def featureStrings(text: Column): Column =
    featureStringsFromTokens(TextFunctions.tokens(text))

  /** Same, over an already-BOUND token array column. Callers should
    * tokenize into a column first: the token expression appears four
    * times below, and `Generate` (explode) evaluates its input
    * interpreted with no common-subexpression elimination — inlining the
    * regexp tokenizer would re-run it 4× per row. */
  def featureStringsFromTokens(t: Column): Column = {
    // bigrams: zip tokens with their own tail; zip_with pads the short
    // side with null, so the trailing (last, null) pair concat-nulls out
    val bi = filter(
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    concat(t, bi)
  }
}
