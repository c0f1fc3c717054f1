package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Embeddings
import graft.plans.VectorExpressions

class EmbeddingsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")

  /** Mean and full covariance of a long-form (vec_id, dim, value) emission,
    * folded on the driver: vectors as rows of a `d`-column matrix. */
  private def momentsOfRows(rows: org.apache.spark.sql.DataFrame, valCol: String,
      d: Int): (Array[Double], Array[Array[Double]]) = {
    val vecs = rows.collect().groupBy(_.getAs[Long]("vec_id")).values.map { rs =>
      val v = new Array[Double](d)
      rs.foreach(r => v(r.getAs[Long]("dim").toInt) = r.getAs[Double](valCol))
      v
    }.toSeq
    val n = vecs.size.toDouble
    val mean = Array.tabulate(d)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n)
    (mean, cov)
  }

  test("VecMoments: matches naive mean/cov; nulls skipped; wrong length throws") {
    val vecs = Seq(
      (0L, Some(Array(1.0f, 2.0f, 3.0f))),
      (1L, Some(Array(4.0f, 0.0f, -1.0f))),
      (2L, Option.empty[Array[Float]]), // skipped, SQL aggregate convention
      (3L, Some(Array(-2.0f, 5.0f, 2.5f)))).toDF("vec_id", "embedding")
    val (n, mean, cov) = Embeddings.momentsOf(vecs, "embedding", 3)
    assert(n == 3L)
    val xs = Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 0.0, -1.0), Seq(-2.0, 5.0, 2.5))
    val m = (0 until 3).map(i => xs.map(_(i)).sum / 3)
    (0 until 3).foreach(i => assert(math.abs(mean(i) - m(i)) < 1e-12))
    var t = 0
    for (i <- 0 until 3; j <- i until 3) {
      val e = xs.map(x => x(i) * x(j)).sum / 3 - m(i) * m(j)
      assert(math.abs(cov(t) - e) < 1e-12, s"cov($i,$j)")
      t += 1
    }
    // a foreign length is corruption, not data
    val bad = Seq((0L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] { Embeddings.momentsOf(bad, "embedding", 3) }
    assert(e.getMessage.contains("dim") || e.getCause != null)
  }

  test("jacobiEigh: reconstructs the matrix, eigenvalues descending, deterministic") {
    val rnd = new scala.util.Random(11)
    val d = 16
    val b = Array.fill(d, d)(rnd.nextGaussian())
    val a = Array.tabulate(d, d)((i, j) => (b(i)(j) + b(j)(i)) / 2)
    val (lam, u) = Embeddings.jacobiEigh(a)
    assert(lam.zip(lam.tail).forall { case (x, y) => x >= y - 1e-12 })
    // A·uᵏ == λₖ·uᵏ and uᵏ orthonormal
    for (k <- 0 until d) {
      val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * u(k)(j)).sum)
      (0 until d).foreach(i => assert(math.abs(av(i) - lam(k) * u(k)(i)) < 1e-8))
      assert(math.abs((0 until d).map(i => u(k)(i) * u(k)(i)).sum - 1.0) < 1e-10)
    }
    val (lam2, u2) = Embeddings.jacobiEigh(a.map(_.clone()))
    assert(lam.sameElements(lam2) && u.zip(u2).forall { case (x, y) => x.sameElements(y) })
  }

  test("whiten: output covariance is the identity; deterministic across runs") {
    val w = Embeddings.whitenRows(emb)
    assert(w.columns.toSeq == Seq("vec_id", "dim", "whitened"))
    val (meanW, covW) = momentsOfRows(w, "whitened", 64)
    assert(meanW.forall(m => math.abs(m) < 1e-3))
    for (i <- 0 until 64; j <- i until 64) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(covW(i)(j) - expect) < 1e-3, s"cov($i,$j) = ${covW(i)(j)}")
    }
    val a = w.orderBy("vec_id", "dim").collect().map(_.getDouble(2))
    val b = Embeddings.whitenRows(emb).orderBy("vec_id", "dim").collect().map(_.getDouble(2))
    assert(a.sameElements(b))
  }

  test("allButTop: removed directions carry ~zero variance, the rest survive") {
    val (_, _, tri) = Embeddings.momentsOf(emb, "embedding", 64)
    val (lam, u) = Embeddings.jacobiEigh(Embeddings.fullCov(tri, 64))
    val out = Embeddings.allButTopRows(emb, k = 2)
    assert(out.columns.toSeq == Seq("vec_id", "dim", "residual"))
    val (meanO, covO) = momentsOfRows(out, "residual", 64)
    assert(meanO.forall(m => math.abs(m) < 1e-3))
    // variance along each ORIGINAL direction: uᵀ·covO·u
    def varAlong(vec: Array[Double]): Double =
      (0 until 64).map(i => (0 until 64).map(j => vec(i) * covO(i)(j) * vec(j)).sum).sum
    assert(varAlong(u(0)) < 1e-4 && varAlong(u(1)) < 1e-4,
      "top-2 directions must be annihilated")
    // an untouched direction keeps its eigenvalue
    assert(math.abs(varAlong(u(5)) - lam(5)) < 1e-3 * math.max(1.0, lam(5)))
  }

  test("centerProject kernel: center-only vs matrix path on a known case") {
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val mean = Seq(2.0, 0.0)
    val centered = df.select(VectorExpressions.centerProject(col("embedding"), mean))
      .collect().map(_.getSeq[Double](0))
    assert(centered(0) == Seq(-1.0, 2.0) && centered(1) == Seq(1.0, -2.0))
    // M = [[0,1],[1,0]] swaps the centered coordinates
    val swapped = df.select(VectorExpressions.centerProject(col("embedding"), mean,
        Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))).collect().map(_.getSeq[Double](0))
    assert(swapped(0) == Seq(2.0, -1.0) && swapped(1) == Seq(-2.0, 1.0))
  }

  test("truncateRenorm: unit prefixes, exact dim count, zero-norm pins to 0") {
    val k = 16
    val out = Embeddings.truncateRenorm(emb, k)
    // every vector emits exactly k dims, and each nonzero prefix is unit
    // after renormalization (6dp quantization bounds the drift)
    val norms = out.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n"), sum(col("value") * col("value")).as("ss"))
      .collect()
    assert(norms.nonEmpty && norms.forall(_.getAs[Long]("n") == k.toLong))
    norms.foreach { r =>
      val ss = r.getAs[Double]("ss")
      assert(ss == 0.0 || math.abs(ss - 1.0) < 1e-4, s"vec ${r.get(0)}: $ss")
    }
    // a planted zero-prefix vector (signal entirely past dim k) emits 0s
    import spark.implicits._
    val z = Seq((1L, Array.fill(k)(0f) ++ Array.fill(4)(1f)))
      .toDF("vec_id", "embedding")
    val zOut = Embeddings.truncateRenorm(z, k).collect()
    assert(zOut.length == k && zOut.forall(_.getAs[Double]("value") == 0.0))
  }
}
