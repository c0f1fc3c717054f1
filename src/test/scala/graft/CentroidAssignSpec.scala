package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Quantize
import graft.operators.{Similarity, SimilarityOracles}

/**
 * The NearestCentroidCos / NearestCentroidPruned kernels vs the literal
 * `centroidScores` + array_max + array_position chain they replaced:
 * bit-identical verdicts on real data AND on every degenerate row class
 * (exact tie, zero vector, null element, length mismatch, null vector),
 * plus the pruned kernel's nProbe = nCoarse exactness bridge and the
 * partition contract of the driver-side coarse quantizer.
 */
class CentroidAssignSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
  private lazy val seeds = Similarity.kmeansSeeds(emb, 8)

  /** The pre-kernel literal formulation, verbatim. */
  private def literalAssign(df: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Float]]): org.apache.spark.sql.DataFrame =
    df.select(col("vec_id"), SimilarityOracles.centroidScores(cents, "embedding").as("__sc"))
      .select(col("vec_id"),
        (array_position(col("__sc"), array_max(col("__sc"))) - 1).cast("int").as("cell"),
        Quantize.quantize(array_max(col("__sc")), 6).as("cos"))

  private def collectMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Int], Option[Long])] =
    df.collect().map { r =>
      val cos = if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))
      (r.getLong(0), (if (r.isNullAt(1)) None else Some(r.getInt(1)), cos))
    }.toMap

  test("kernel assignment == literal chain bit-for-bit on the real table") {
    val kernel = collectMap(Similarity.kmeansAssign(emb, seeds))
    val lit = collectMap(literalAssign(emb, seeds))
    assert(kernel.size == lit.size && kernel.nonEmpty)
    assert(kernel == lit)
  }

  test("kernel matches the literal chain on every degenerate row class") {
    // c0 and c2 identical -> exact tie, first max must win
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 0f))
    val rows = Seq(
      (0L, Seq[Option[Float]](Some(1f), Some(0f))),   // tie c0/c2 -> 0
      (1L, Seq[Option[Float]](Some(0f), Some(2f))),   // -> 1
      (3L, Seq[Option[Float]](Some(1f), None)),       // null element -> null
      (4L, Seq[Option[Float]](Some(1f)))               // length mismatch -> null
    ).toDF("vec_id", "embedding")
    val kernel = collectMap(Similarity.kmeansAssign(rows, cents))
    val lit = collectMap(literalAssign(rows, cents))
    assert(kernel == lit)
    assert(kernel(0L)._1.contains(0)) // tie broke to the FIRST max
    assert(kernel(3L)._1.isEmpty && kernel(4L)._1.isEmpty)
  }

  test("zero-norm vector: kernel mirrors the literal Divide under ANSI and IEEE") {
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val zero = Seq((2L, Seq[Option[Float]](Some(0f), Some(0f)))).toDF("vec_id", "embedding")
    // ANSI on (the session default): both formulations abort
    val eK = intercept[Exception] { Similarity.kmeansAssign(zero, cents).collect() }
    val eL = intercept[Exception] { literalAssign(zero, cents).collect() }
    def msg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .mkString(" | ")
    assert(msg(eK).contains("DIVIDE_BY_ZERO"), msg(eK))
    assert(msg(eL).contains("DIVIDE_BY_ZERO"), msg(eL))
    // ANSI off: Divide yields NULL scores, array_max ignores them, the
    // all-null row collapses to a null verdict — in both formulations
    // (expressions capture the flag at CONSTRUCTION, so build inside)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val kernel = collectMap(Similarity.kmeansAssign(zero, cents))
      val lit = collectMap(literalAssign(zero, cents))
      assert(kernel == lit)
      assert(kernel(2L)._1.isEmpty && kernel(2L)._2.isEmpty)
      // pruned full-probe path agrees on the zero vector too
      assert(collectMap(Similarity.kmeansAssign(zero, cents, pruned = Some((2, 2))))
        == kernel)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("pruned with nProbe = nCoarse equals the exact scan (the _full bridge)") {
    val exact = collectMap(Similarity.kmeansAssign(emb, seeds))
    val full = collectMap(Similarity.kmeansAssign(emb, seeds, pruned = Some((4, 4))))
    assert(full == exact)
    // and through a degenerate-row frame too (fallback paths inside the kernel)
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 0f), Array(-1f, 0f))
    val rows = Seq(
      (0L, Seq[Option[Float]](Some(1f), Some(0f))),
      (3L, Seq[Option[Float]](Some(1f), None))).toDF("vec_id", "embedding")
    assert(collectMap(Similarity.kmeansAssign(rows, cents, pruned = Some((2, 2))))
      == collectMap(Similarity.kmeansAssign(rows, cents)))
  }

  test("pruned nProbe < nCoarse: cos never exceeds exact; agreement is high") {
    val exact = collectMap(Similarity.kmeansAssign(emb, seeds))
    val pruned = collectMap(Similarity.kmeansAssign(emb, seeds, pruned = Some((4, 2))))
    assert(pruned.keySet == exact.keySet)
    var agree = 0
    for ((id, (pc, pcos)) <- pruned) {
      val (ec, ecos) = exact(id)
      if (pc == ec) {
        agree += 1
        assert(pcos == ecos, s"same cell but different cos for $id")
      } else {
        // scanning a subset can only lower the best cosine
        assert(java.lang.Double.longBitsToDouble(pcos.get) <=
          java.lang.Double.longBitsToDouble(ecos.get) + 1e-12, s"pruned beat exact for $id")
      }
    }
    val frac = agree.toDouble / pruned.size
    info(f"pruned(4,2) agreement with exact: $frac%.3f over ${pruned.size} rows")
    assert(frac >= 0.5, f"agreement collapsed: $frac%.3f")
  }

  test("coarseOverCentroids members partition the centroid ids; deterministic") {
    val (coarse, members) = Similarity.coarseOverCentroids(seeds, 4)
    assert(members.flatten.sorted.toSeq == seeds.indices.toSeq)
    assert(coarse.length == 4 && coarse.forall(_.length == seeds.head.length))
    val (c2, m2) = Similarity.coarseOverCentroids(seeds, 4)
    assert(coarse.zip(c2).forall { case (a, b) => a.sameElements(b) })
    assert(members.zip(m2).forall { case (a, b) => a.sameElements(b) })
    // more coarse cells than centroids: clamps, still a partition
    val (cSmall, mSmall) = Similarity.coarseOverCentroids(seeds.take(2), 8)
    assert(mSmall.flatten.sorted.toSeq == Seq(0, 1) && cSmall.length == 2)
  }
}
