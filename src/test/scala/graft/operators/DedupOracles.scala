package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms of [[Dedup]]'s operators, kept for the specs. */
object DedupOracles {

  /**
   * MinHash signature per (doc, seed) as explode + aggregate — the form
   * [[Dedup.minhashSignatures]]' map-only fold must equal. The shingle is
   * hashed ONCE (xxhash64 → low 32 bits), then each seed j remixes
   * arithmetically (h·a_j + b_j — a universal-hash family); one
   * aggregation produces all seeds' minima via map-side combine.
   */
  def minhash(sh: DataFrame, numHashes: Int, idCol: String): DataFrame = {
    val h = xxhash64(col("shingle")).bitwiseAND(lit(0xFFFFFFFFL))
    val mins: Seq[Column] = (0 until numHashes).map { j =>
      val (a, b) = Dedup.mixConsts(j)
      min(h * lit(a) + lit(b)).as(s"mh_$j")
    }
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }
}
