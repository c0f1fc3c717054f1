package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** r20 optimization guard: the sort-based `value_quantiles` rewrite must
  * compute the IDENTICAL values as the `percentile(...)` buffer aggregate
  * it replaced (Spark's interpolation at rank p·(n−1)) — on random data,
  * including the n = 1 and exact-integer-rank edges, at full double
  * precision BEFORE the declared 4dp quantization. */
class ExactPercentileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("sort-based exact percentiles == percentile() on random groups") {
    val rnd = new scala.util.Random(7)
    // group sizes 1, 2, 21 (0.95·(n−1) integral), a large ragged one,
    // plus the NULL edges percentile() defines semantics for: a NULL
    // group key, an all-NULL-price group (emitted with NULL quantiles),
    // and NULL prices mixed into a real group (ignored, group emitted)
    val rows: Seq[(String, Option[Double])] =
      Seq.fill(1)(("A", Option(rnd.nextDouble() * 1000))) ++
      Seq.fill(2)(("B", Option(rnd.nextDouble() * 1000))) ++
      Seq.fill(21)(("C", Option(rnd.nextDouble() * 1000))) ++
      Seq.fill(997)(("D", Option(rnd.nextDouble() * 1000))) ++
      Seq.fill(13)((null: String, Option(rnd.nextDouble() * 1000))) ++
      Seq(("E", Option.empty[Double]), ("E", Option.empty[Double])) ++
      Seq(("D", Option.empty[Double]))
    val dir = java.nio.file.Files.createTempDirectory("graft_pctl").toString
    rnd.shuffle(rows).toDF("l_returnflag", "l_extendedprice")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Option(r.getString(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val got = toMap(SparkEntry.queries("value_quantiles")(spark, dir))
    val want = toMap(spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"))
      .select(col("l_returnflag"),
        graft.functions.Quantize.quantize(col("ps").getItem(0), 4).as("p50"),
        graft.functions.Quantize.quantize(col("ps").getItem(1), 4).as("p95")))
    assert(got.keySet == want.keySet) // incl. NULL flag and all-NULL 'E'
    for (k <- want.keySet; i <- 0 to 1) {
      val (g, w) = (Seq(got(k)._1, got(k)._2)(i), Seq(want(k)._1, want(k)._2)(i))
      assert(g.isDefined == w.isDefined, s"nullness group $k p$i")
      for (gv <- g; wv <- w)
        assert(java.lang.Double.doubleToLongBits(gv) ==
          java.lang.Double.doubleToLongBits(wv), s"group $k p$i")
    }
  }
}
