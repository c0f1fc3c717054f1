package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Quantize
import graft.plans.VectorExpressions

/**
 * Embedding-column postprocessing for training-data pipelines: mean
 * centering, ZCA whitening, and all-but-the-top (Mu & Viswanath, ICLR
 * 2018 — remove the mean and the top principal directions, which
 * concentrate corpus-wide "common" signal and wash out cosine
 * contrast; standard prep before similarity search / SemDeDup over
 * embedding columns).
 *
 * 100 TB shape: EVERY statistic comes from ONE mergeable
 * [[graft.plans.VecMoments]] aggregation (a ~17 KB buffer per partition
 * at d = 64 — the exchange carries one buffer per partition no matter
 * the corpus size); the 64×64 eigendecomposition is driver-side Jacobi
 * on the collected 1-row statistics (a bounded model pull, the k-means
 * centroid convention); the projection is a map-only
 * [[graft.plans.VecCenterProject]] kernel, O(d²) per row, no shuffle.
 * Nothing here scales with the corpus except the one scan.
 */
object Embeddings {

  /** (n, mean, cov upper triangle) of the vector column, collected —
    * the bounded 1-row model pull every step below starts from. */
  private[graft] def momentsOf(df: DataFrame, vecCol: String, dim: Int):
      (Long, Array[Double], Array[Double]) = {
    val r: Row = df
      .select(VectorExpressions.vecMoments(col(vecCol), dim).as("__m"))
      .selectExpr("__m.n AS n", "__m.mean AS mean", "__m.cov AS cov")
      .head()
    require(!r.isNullAt(0), s"Embeddings: no rows with a non-null $vecCol")
    (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)
  }

  /** Upper-triangle (row-major, i ≤ j) → full symmetric matrix. */
  private[graft] def fullCov(tri: Array[Double], d: Int): Array[Array[Double]] = {
    val a = Array.ofDim[Double](d, d)
    var i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) { a(i)(j) = tri(t); a(j)(i) = tri(t); j += 1; t += 1 }
      i += 1
    }
    a
  }

  /**
   * Cyclic Jacobi eigendecomposition of a symmetric matrix —
   * deterministic (fixed sweep order, fixed convergence threshold,
   * library-free) and exact enough at d = 64 that the whitened
   * covariance reproduces the identity to ~1e-10 (spec-pinned).
   * Returns (eigenvalues, eigenvectors as ROWS) sorted DESCENDING by
   * eigenvalue, each vector's sign fixed so its largest-|component|
   * entry is positive (ZCA is sign-invariant, but all-but-the-top's
   * removed directions — and the spec's determinism assertions — want a
   * canonical representative).
   */
  private[graft] def jacobiEigh(sym: Array[Array[Double]]):
      (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val eps = 1e-22 * math.max(1.0, sym.map(r => r.map(math.abs).max).max)
    var sweep = 0
    while (sweep < 64 && off() > eps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val pairs = (0 until d).map { k =>
      val vec = Array.tabulate(d)(i => v(i)(k))
      // canonical sign: largest-|component| entry positive (ties: first)
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(vec(i)) > math.abs(vec(best))) best = i; i += 1 }
      (a(k)(k), if (vec(best) < 0) vec.map(-_) else vec)
    }.sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** 0-based upper-triangle index of the diagonal entry (i, i). */
  private def diagIdx(i: org.apache.spark.sql.Column, d: Int) =
    i * lit(d) - i * (i - lit(1)) / lit(2)

  /** Per-dimension mean and population variance of the vector column —
    * (dim, mean_val, var_val) quantized 6dp; ONE moments aggregation,
    * `dim` rows out (the `embed_moments` oracle statement). */
  def momentsRows(df: DataFrame, vecCol: String = "embedding",
      dim: Int = 64): DataFrame =
    df.select(VectorExpressions.vecMoments(col(vecCol), dim).as("__m"))
      // empty/all-null input -> null struct -> ZERO rows (the oracle's
      // GROUP BY over an empty unnest), not 64 rows of nulls
      .filter(col("__m").isNotNull)
      .select(explode(sequence(lit(0), lit(dim - 1))).as("__i"), col("__m"))
      .select(col("__i").cast("long").as("dim"),
        Quantize.quantize(element_at(col("__m.mean"), col("__i") + 1), 6)
          .as("mean_val"),
        Quantize.quantize(
          element_at(col("__m.cov"), (diagIdx(col("__i"), dim) + 1).cast("int")), 6)
          .as("var_val"))

  /** Mean-centered embeddings, exploded to (idCol, dim, centered 6dp) —
    * the oracle-checkable emission of the centering step: the mean is
    * the ONE moments aggregation, the subtraction the map-only kernel. */
  def centerRows(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64): DataFrame = {
    val (_, mean, _) = momentsOf(df, vecCol, dim)
    df.select(col(idCol),
        posexplode(VectorExpressions.centerProject(col(vecCol), mean.toSeq)))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        Quantize.quantize(col("col"), 6).as("centered"))
  }

  /** (μ, W) of ZCA whitening — W = U·diag(1/√(λ+ε))·Uᵀ from ONE moments
    * aggregation + driver-side Jacobi. Shared by [[whitenRows]] and the
    * data-dependent DuckDB oracle literals (`SparkEntry.prepareOracles`). */
  private[graft] def whitenModel(df: DataFrame, eps: Double = 1e-6,
      vecCol: String = "embedding", dim: Int = 64):
      (Array[Double], Array[Array[Double]]) = {
    val (_, mean, tri) = momentsOf(df, vecCol, dim)
    val (lam, u) = jacobiEigh(fullCov(tri, dim)) // u(k) = k-th eigvec (row)
    val w = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        var acc = 0.0
        var k = 0
        while (k < dim) {
          acc += u(k)(i) * u(k)(j) / math.sqrt(math.max(lam(k), 0.0) + eps)
          k += 1
        }
        w(i)(j) = acc
        j += 1
      }
      i += 1
    }
    (mean, w)
  }

  /**
   * ZCA-whitened embeddings: y = U·diag(1/√(λ+ε))·Uᵀ·(x − μ). ZCA
   * (rather than plain PCA) keeps y in the ORIGINAL basis — nearest-
   * neighbor structure stays interpretable — while the output covariance
   * is the identity (spec-pinned). ε regularizes near-null directions;
   * eigenvalues are clamped at 0 before the shift (a tiny negative λ is
   * Jacobi noise, and √ of it would poison a whole row of the transform).
   *
   * Emitted as scalars — (idCol, dim, whitened 6dp), the dump-safe,
   * hash-verifiable form (an array<float> output column has no canonical
   * row order for the oracle compare's rows-only sorter, and no SQL twin; the
   * exploded double form has both — the projection in the oracle
   * statement recomputes y from the SAME collected (μ, W) shipped as
   * literals). Kernel stays double end-to-end, matching the oracle's
   * all-double algebra.
   */
  def whitenRows(df: DataFrame, eps: Double = 1e-6,
      vecCol: String = "embedding", idCol: String = "vec_id",
      dim: Int = 64): DataFrame = {
    val (mean, w) = whitenModel(df, eps, vecCol, dim)
    projectRows(df, mean, w, vecCol, idCol, "whitened")
  }

  /** (μ, I − Σ_{t<k} uₜuₜᵀ) of all-but-the-top — see [[whitenModel]] for
    * why the model extraction is its own step. */
  private[graft] def abttModel(df: DataFrame, k: Int = 2,
      vecCol: String = "embedding", dim: Int = 64):
      (Array[Double], Array[Array[Double]]) = {
    require(k >= 1 && k < dim, s"allButTopRows: need 1 <= k < $dim, got $k")
    val (_, mean, tri) = momentsOf(df, vecCol, dim)
    val (_, u) = jacobiEigh(fullCov(tri, dim))
    val m = Array.tabulate(dim, dim) { (i, j) =>
      val base = if (i == j) 1.0 else 0.0
      var acc = base
      var t = 0
      while (t < k) { acc -= u(t)(i) * u(t)(j); t += 1 }
      acc
    }
    (mean, m)
  }

  /**
   * All-but-the-top (Mu & Viswanath, ICLR 2018): remove the mean and
   * the projections onto the top `k` principal directions —
   * y = (I − Σ_{j<k} uⱼuⱼᵀ)·(x − μ). The removed directions carry
   * corpus-wide common signal; post-hoc variance along them is ~0
   * (spec-pinned). Emitted as (idCol, dim, residual 6dp); see
   * [[whitenRows]] for the dump/oracle rationale.
   */
  def allButTopRows(df: DataFrame, k: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64): DataFrame = {
    val (mean, m) = abttModel(df, k, vecCol, dim)
    projectRows(df, mean, m, vecCol, idCol, "residual")
  }

  /** Shared scalar emission: posexplode the double-domain projection
    * kernel, quantize 6dp — a null/absent vector explodes to zero rows
    * on both engines (the `embed_center` convention). */
  private def projectRows(df: DataFrame, mean: Array[Double],
      m: Array[Array[Double]], vecCol: String, idCol: String,
      valCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(VectorExpressions.centerProject(col(vecCol), mean.toSeq,
          m.map(_.toSeq).toSeq)))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        Quantize.quantize(col("col"), 6).as(valCol))

  /**
   * Matryoshka-style truncation (Kusupati et al., "Matryoshka
   * Representation Learning", NeurIPS 2022 — public literature): keep
   * the first `k` dimensions and L2-renormalize, the serving move of
   * MRL-trained embedding stacks (a prefix is a valid lower-dimensional
   * embedding once renormalized — coarse ANN routing over the prefix,
   * full-dim rerank). Map-only; long-form 6dp scalar emission
   * (vec_id, dim, value) so the oracle pairs exactly. A zero-norm
   * prefix emits 0.0 across its dims — a vector whose signal lives
   * entirely past dimension k has no direction at k, and a silent 0/0
   * would differ across engines.
   */
  def truncateRenorm(df: DataFrame, k: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val pre = slice(col(vecCol), 1, k)
    val nrm = sqrt(aggregate(pre, lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double")))
    df.select(col(idCol), nrm.as("__n"), posexplode(pre).as(Seq("dim", "__v")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        Quantize.quantize(
          when(col("__n") === 0d, lit(0.0d))
            .otherwise(col("__v").cast("double") / col("__n")), 6).as("value"))
  }
}
