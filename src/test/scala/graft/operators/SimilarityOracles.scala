package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Quantize
import graft.operators.Similarity._

/** Standalone reference forms of [[Similarity]]'s models and kernels, kept
  * for the specs: the single-model Lloyd trainers that the fused
  * production trainers ([[Similarity.trainIvfPq]],
  * [[Similarity.trainAnnModels]]) must equal, fixture builders for the
  * serve specs, and the literal column formulations the native kernels are
  * pinned bit-identical against. */
object SimilarityOracles {

  /** IVF index over L2-normalized vectors: `iters` rounds of the shared
    * Lloyd trainer on the training set, then every vector assigned to its
    * nearest cell. `trainPct` < 100 trains on a deterministic hash sample
    * ([[trainSetOf]]). */
  def buildIvfIndex(embeddings: DataFrame, nCells: Int = 16, iters: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id",
      trainPct: Int = 100): IvfIndex = {
    val prepped = withUnit(embeddings.select(col(idCol), col(vecCol)), vecCol)
    val Seq(cells) = trainLloyd(
      Seq(LloydFamily(trainSetOf(prepped, trainPct, idCol), 1, nCells)), iters, idCol)
    ivfOf(prepped, cells, vecCol, idCol)
  }

  /** PQ codebooks: per-subspace k-means, all `m` subspaces in the same
    * Lloyd round, sample-trainable via `trainPct` like [[buildIvfIndex]]. */
  def trainPq(embeddings: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id",
      trainPct: Int = 100): PqModel = {
    val prepped = withUnit(embeddings.select(col(idCol), col(vecCol)), vecCol)
    val Seq(books) = trainLloyd(
      Seq(LloydFamily(trainSetOf(prepped, trainPct, idCol), m, k)), iters, idCol)
    PqModel(m, k, m * books.head.head.length, books)
  }

  /** The training set: everything at `trainPct = 100`, else a
    * deterministic `Corpus.sampleByHash` sample. */
  private def trainSetOf(prepped: DataFrame, trainPct: Int, idCol: String): DataFrame = {
    require(trainPct > 0 && trainPct <= 100, s"trainPct must be in (0,100]: $trainPct")
    if (trainPct >= 100) prepped else Corpus.sampleByHash(prepped, trainPct, idCol)
  }

  /** Cosine of `vecCol` against each centroid as one literal array column
    * — the chain [[graft.plans.NearestCentroidCos]] replaces, with the
    * centroid norms driver-folded in the column-side order. */
  def centroidScores(centroids: Array[Array[Float]], vecCol: String): Column =
    array(centroids.map { c =>
      val cl = array(c.map(v => lit(v)): _*)
      dot(col(vecCol), cl) / (norm(col(vecCol)) * lit(normOf(c.toSeq)))
    }: _*)

  /** The higher-order-function formulation of [[Similarity.topKInt8]]'s
    * scoring, pinning [[graft.plans.Int8DequantCosine]] bit-identical
    * (also the shape the DuckDB oracle SQL mirrors). */
  def topKInt8Hof(embeddings: DataFrame, query: Seq[Float], k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    val amax = greatest(array_max(col(vecCol)).cast("double"),
      -array_min(col(vecCol)).cast("double"))
    def code(v: Column, s: Column): Column =
      when(s === 0d, lit(0d)).otherwise(greatest(least(
        floor(v.cast("double") / s + lit(0.5)), lit(127d)), lit(-127d)))
    Selection.topKBy(embeddings
      .select(col(idCol), col(vecCol), Quantize.q6(amax / lit(127d)).as("__s"))
      .select(col(idCol),
        zip_with(col(vecCol), qArr, (v, qd) => code(v, col("__s")) * col("__s") * qd)
          .as("__c"),
        transform(col(vecCol), v => code(v, col("__s")) * col("__s")).as("__d"))
      .select(col(idCol),
        aggregate(col("__c"), lit(0d), _ + _).as("__dot"),
        aggregate(transform(col("__d"), d => d * d), lit(0d), _ + _).as("__n2"))
      .select(col(idCol), Quantize.q6(
        col("__dot") / (sqrt(col("__n2")) * lit(normOf(query)))).as("cos")),
      "cos", idCol, k)
  }
}
