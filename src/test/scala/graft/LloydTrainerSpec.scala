package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, SimilarityOracles}

/** The shared Lloyd trainer with NON-integral ids: the fused union seed
  * collect re-sorts on `(hash, id as long)`, so string ids must take the
  * per-frame ordered collects and still match the standalone trainers. */
class LloydTrainerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("string ids: fused trainer equals the standalone trainers") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
    val e300 = e.filter(col("vec_id").cast("long") < 300)
    val (ivfFull, ivf300, pq) = Similarity.trainAnnModels(
      e, e300, nCells = 8, m = 8, k = 16, iters = 2)
    val refFull = SimilarityOracles.buildIvfIndex(e, nCells = 8, iters = 2)
    val ref300 = SimilarityOracles.buildIvfIndex(e300, nCells = 8, iters = 2)
    val refPq = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 2)
    def close(a: Array[Float], b: Array[Float]): Boolean =
      a.length == b.length &&
        a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-5f }
    def cellsOf(idx: Similarity.IvfIndex) = idx.assignments
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    for ((got, want) <- Seq((ivfFull, refFull), (ivf300, ref300))) {
      assert(got.centroids.zip(want.centroids).forall {
        case ((_, a), (_, b)) => close(a, b) }, "IVF centroids diverged")
      assert(cellsOf(got) == cellsOf(want), "IVF assignments diverged")
    }
    assert(pq.centroids.flatten.toSeq.zip(refPq.centroids.flatten.toSeq)
      .forall { case (a, b) => close(a, b) }, "PQ codebooks diverged")
  }

  test("string ids: sample-trained IVF and PQ train and keep their shapes") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
    val ivf = SimilarityOracles.buildIvfIndex(e, nCells = 4, iters = 1, trainPct = 40)
    assert(ivf.centroids.map(_._1).toSeq == (0 until 4))
    assert(ivf.assignments.count() == e.count())
    val pq = SimilarityOracles.trainPq(e, m = 4, k = 8, iters = 1, trainPct = 40)
    assert(pq.centroids.length == 4 && pq.centroids.forall(_.length == 8))
    assert(pq.dim == pq.centroids.head.head.length * 4)
  }
}
