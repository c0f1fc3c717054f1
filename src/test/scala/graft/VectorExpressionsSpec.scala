package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.1f, -0.2f), Array(0.3f, 0.4f)),
    (3L, Array.empty[Float], Array.empty[Float]))
    .toDF("id", "a", "b")

  /** Reference: the higher-order formulation the native expr replaces. */
  private def hofDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
    lit(0.0), (acc, v) => acc + v)

  test("native dot equals the higher-order formulation bit-for-bit") {
    val rows = df.select(col("id"), VectorExpressions.dotF(col("a"), col("b")).as("n"),
      hofDot.as("h")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row ${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 32.0)
    assert(rows.find(_.getLong(0) == 3L).get.getDouble(1) == 0.0)
  }

  test("interpreted eval path matches codegen path") {
    // force interpreted evaluation by disabling whole-stage codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(VectorExpressions.dotF(col("a"), col("b"))).collect().map(_.getDouble(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      val gen = df.select(VectorExpressions.dotF(col("a"), col("b"))).collect().map(_.getDouble(0))
      assert(interp.toSeq == gen.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("semDedupSurvivors kernel: rule semantics, both eval paths agree") {
    import spark.implicits._
    // cluster: 10 & 11 near-identical (dup: 11 drops), 12 orthogonal,
    // 13 near 12 (drops), order scrambled to prove order-independence
    val members = Seq(
      (13L, Array(0.1f, 1.0f), math.sqrt(0.1 * 0.1 + 1.0)),
      (10L, Array(1.0f, 0.0f), 1.0),
      (12L, Array(0.0f, 1.0f), 1.0),
      (11L, Array(0.999f, 0.01f), math.sqrt(0.999 * 0.999 + 0.01 * 0.01)))
    val df2 = Seq((1, members)).toDF("cell", "m")
      .select(col("cell"), expr("transform(m, x -> struct(x._1 as id, x._2 as v, x._3 as n))").as("m"))
    def run(): Seq[Long] = df2.select(explode(
        VectorExpressions.semDedupSurvivors(col("m"), 950000.5)).as("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(run() == Seq(10L, 12L))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == Seq(10L, 12L), "interpreted path diverges")
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null propagation and type checking") {
    val withNull = Seq((Option.empty[Array[Float]], Option(Array(1.0f))))
      .toDF("a", "b")
    assert(withNull.select(VectorExpressions.dotF(col("a"), col("b"))).head.isNullAt(0))
    intercept[Exception] {
      Seq((1, "x")).toDF("a", "b")
        .select(VectorExpressions.dotF(col("a"), col("b"))).collect()
    }
  }

  test("mismatched lengths and null elements yield NULL like the HOF twin, both eval paths") {
    // zip_with null-pads a length mismatch and the aggregate fold
    // null-propagates — the native kernel must NOT silently truncate to
    // min(n) or read a null element as 0.0 (a corrupt or wrong-dimension
    // embedding would get a plausible similarity score)
    val bad = Seq(
      (1L, Option(Array(1.0f, 2.0f)), Option(Array(1.0f))), // length mismatch
      (2L, Option(Array(1.0f, 2.0f)), Option(Array(1.0f, 2.0f))) // control
    ).toDF("id", "a", "b")
    val rows = bad.select(col("id"), VectorExpressions.dotF(col("a"), col("b")).as("n"),
      hofDotOn(col("a"), col("b")).as("h")).orderBy("id").collect()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getDouble(1) == 5.0 && rows(1).getDouble(2) == 5.0)
    // null ELEMENT (array<float> with containsNull): NULL, not 0.0-substituted
    val withNullElem = spark.sql(
      "SELECT array(CAST(1 AS float), CAST(NULL AS float)) AS a, " +
        "array(CAST(1 AS float), CAST(1 AS float)) AS b")
    assert(withNullElem.select(VectorExpressions.dotF(col("a"), col("b"))).head.isNullAt(0))
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = bad.select(col("id"), VectorExpressions.dotF(col("a"), col("b")))
        .orderBy("id").collect()
      assert(interp(0).isNullAt(1))
      assert(interp(1).getDouble(1) == 5.0)
      assert(withNullElem.select(VectorExpressions.dotF(col("a"), col("b"))).head.isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** hofDot over explicit columns (the fixture version binds a/b). */
  private def hofDotOn(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("SQL registration via GraftExtensions-style injection") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_vector_dot"),
      new ExpressionInfo(classOf[graft.plans.FloatVectorDot].getName, "float_vector_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.FloatVectorDot(children.head, children(1)))
    df.createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT id, float_vector_dot(a, b) AS d FROM vecs WHERE id = 1").head()
    assert(r.getDouble(1) == 32.0)
  }

  test("pqAdc equals the higher-order lookup chain bit-for-bit; both eval paths agree") {
    val enc = Seq(
      (1L, Array(0, 2, 1), Array(Array(0.1, 0.2, 0.3), Array(1.0, 2.0, 3.0), Array(-0.5, 0.5, 1.5))),
      (2L, Array(1, 1, 1), Array(Array(0.1, 0.2, 0.3), Array(1.0, 2.0, 3.0), Array(-0.5, 0.5, 1.5))),
      (3L, Array.empty[Int], Array.empty[Array[Double]]))
      .toDF("id", "codes", "tbl")
    // the HOF formulation PqAdcDistance replaces (same fold order) — only
    // on non-empty rows: ANSI element_at throws on the empty table, which
    // is itself part of why the native expression is nicer
    val hof = aggregate(
      zip_with(col("codes"), sequence(lit(0), greatest(size(col("codes")) - 1, lit(0))),
        (c, m) => element_at(element_at(col("tbl"), m + 1), c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val rows = enc.filter(col("id") =!= 3L).select(col("id"),
      VectorExpressions.pqAdc(col("codes"), col("tbl")).as("n"), hof.as("h")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row ${r.getLong(0)}")
    }
    // table[0][0] + table[1][2] + table[2][1] = 0.1 + 3.0 + 0.5
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 0.1 + 3.0 + 0.5)
    assert(enc.filter(col("id") === 3L)
      .select(VectorExpressions.pqAdc(col("codes"), col("tbl")))
      .head.getDouble(0) == 0.0) // empty codes → 0 distance
    // interpreted vs codegen agreement
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = enc.select(VectorExpressions.pqAdc(col("codes"), col("tbl")))
        .collect().map(_.getDouble(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      val gen = enc.select(VectorExpressions.pqAdc(col("codes"), col("tbl")))
        .collect().map(_.getDouble(0))
      assert(interp.toSeq == gen.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null propagation + type check
    val withNull = Seq((Option.empty[Array[Int]], Option(Array(Array(1.0)))))
      .toDF("codes", "tbl")
    assert(withNull.select(VectorExpressions.pqAdc(col("codes"), col("tbl")))
      .head.isNullAt(0))
    intercept[Exception] {
      Seq((Array(1.0), "x")).toDF("codes", "tbl")
        .select(VectorExpressions.pqAdc(col("codes"), col("tbl"))).collect()
    }
  }

  test("pqAdc bounds/null guards: bad codes raise instead of reading garbage") {
    // SQL-registered surface: a user-supplied code outside
    // [0, table[i].length) must raise (element_at-style), not read
    // out-of-bounds unsafe memory — in BOTH eval paths
    val bad = Seq((Array(2), Array(Array(1.0, 2.0)))).toDF("codes", "tbl")
    val neg = Seq((Array(-1), Array(Array(1.0, 2.0)))).toDF("codes", "tbl")
    val nullElem = Seq((Array(Option.empty[Int]), Array(Array(1.0))))
      .toDF("codes", "tbl")
    def assertRaises(df: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception] {
        df.select(VectorExpressions.pqAdc(col("codes"), col("tbl"))).collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).exists(c =>
          c.getMessage != null && c.getMessage.contains("pq_adc_distance")), e.toString)
    }
    for (df <- Seq(bad, neg, nullElem)) {
      assertRaises(df)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try assertRaises(df)
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    // in-range codes still sum exactly
    val ok = Seq((Array(1, 0), Array(Array(1.0, 2.0), Array(3.0, 4.0))))
      .toDF("codes", "tbl")
      .select(VectorExpressions.pqAdc(col("codes"), col("tbl"))).head.getDouble(0)
    assert(ok == 5.0)
  }

  test("kll SQL registration: sketch -> union -> quantile pipeline answers within rank error") {
    // the SQL names are Spark's own KLL built-ins: sketch, union, then a
    // quantile read guarded for an empty sketch
    (1 to 1000).map(i => (i % 2, i.toDouble)).toDF("half", "v")
      .createOrReplaceTempView("kll_vals")
    val p50 = spark.sql(
      """SELECT CASE WHEN kll_sketch_get_n_double(m) > 0
        |  THEN kll_sketch_get_quantile_double(m, CAST(0.5 AS DOUBLE)) END AS p50
        |FROM (SELECT kll_merge_agg_double(sk) AS m
        |  FROM (SELECT kll_sketch_agg_double(v) AS sk FROM kll_vals GROUP BY half))""".stripMargin)
      .head().getDouble(0)
    // k=200 rank error ~1.65%: the p50 estimate's rank sits within ~±40
    // of 500 over 1..1000 (generous for randomized compaction)
    assert(math.abs(p50 - 500.0) <= 40.0, s"p50 drifted: $p50")
  }

  test("lshBuckets kernel equals the join-aggregate matrix multiply bit-for-bit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (tables, bits, dim) = (8, 4, 64)
    // deterministic plane weights — the kernel's literal table, rebuilt
    // here the way buildLshIndex derives it
    def plane(t: Int, b: Int, d: Int): Double = {
      val h = scala.util.hashing.MurmurHash3
        .stringHash(s"plane:$t:$b:$d").toLong & 0xFFFFFFFFL
      (h.toDouble / 0x80000000L.toDouble) - 1.0
    }
    val wts = for { t <- 0 until tables; b <- 0 until bits; d <- 0 until dim }
      yield plane(t, b, d)
    val viaKernel = e.select(col("vec_id"),
        posexplode(VectorExpressions.lshBuckets(col("embedding"), wts,
          tables, bits, dim)).as(Seq("table", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // the replaced shape: posexplode -> broadcast weight join -> two aggs
    val weights = (for { t <- 0 until tables; b <- 0 until bits; d <- 0 until dim }
      yield (t, b, d, plane(t, b, d))).toDF("table", "bit", "d", "w")
    val viaJoin = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .join(broadcast(weights), "d")
      .groupBy(col("vec_id"), col("table"), col("bit"))
      .agg(sum(col("x").cast("double") * col("w")).as("proj"))
      .groupBy(col("vec_id"), col("table"))
      .agg(sum(when(col("proj") >= 0,
        expr("shiftleft(cast(1 as bigint), bit)")).otherwise(0L)).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaKernel == viaJoin)
  }

  test("nearestCentroid kernel equals the crossJoin min(struct) argmin") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    val cents: Seq[Seq[Float]] = (0 until 5).map(c =>
      (0 until 64).map(d => ((c * 64 + d) % 7 - 3) * 0.25f))
    val cn2 = cents.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    val viaKernel = e.select(col("vec_id"),
        VectorExpressions.nearestCentroid(col("embedding"), cents, cn2).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val centsDf = cents.zipWithIndex.map { case (v, c) =>
      (c, v.toArray, cn2(c)) }.toDF("__cell", "__cv", "__cn2")
    val viaJoin = e.crossJoin(broadcast(centsDf))
      .select(col("vec_id"), struct(
        (col("__cn2") - lit(2.0) * VectorExpressions.dotF(col("embedding"), col("__cv"))).as("d"),
        col("__cell").as("c")).as("__sc"))
      .groupBy(col("vec_id")).agg(min(col("__sc")).getField("c").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaKernel == viaJoin)
  }

  test("bpe_token_count SQL registration matches the Column surface") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    import org.apache.spark.sql.graftbridge.Bridge
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[graft.plans.NativeKernel].getName, "bpe_token_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Bridge.expression(graft.plans.BpeExpressions.bpeCount(
          Bridge.column(children.head), graft.functions.TextFunctions.BpeMerges)))
    val docs = Seq((1L, "the quick brown fox")).toDF("id", "text")
    docs.createOrReplaceTempView("bpe_docs")
    val viaSql = spark.sql(
      "SELECT bpe_token_count(text) AS n FROM bpe_docs").head().getLong(0)
    val viaCol = docs.select(
      graft.functions.TextFunctions.bpeCount(col("text")).as("n")).head().getLong(0)
    assert(viaSql == viaCol && viaSql > 0)
  }

  // ---- vec_mean (r20: the k-means Lloyd-update fold) ------------------

  test("vec_mean equals the exploded avg formulation to double tolerance") {
    val rnd = new scala.util.Random(42)
    val d = 5
    val vecs = (1 to 200).map { i =>
      (i % 7, Array.fill(d)(rnd.nextFloat() * 2 - 1))
    }.toDF("g", "v")
    val viaAgg = vecs.groupBy(col("g"))
      .agg(VectorExpressions.vecMean(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val viaExplode = vecs
      .select(col("g"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("g"), col("d")).agg(avg(col("x")).as("m"))
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        e => e.getField("m")).as("mv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    assert(viaAgg.keySet == viaExplode.keySet)
    for (g <- viaAgg.keySet; i <- 0 until d)
      // sum/count vs Average partial-merge: same algebra, ulp-order
      // grouping differences only
      assert(math.abs(viaAgg(g)(i) - viaExplode(g)(i)) < 1e-12,
        s"group $g dim $i")
  }

  test("vec_mean: null vectors skipped, empty input null, dim mismatch throws") {
    val withNulls = Seq(
      (0, Option(Array(1.0f, 3.0f))),
      (0, Option.empty[Array[Float]]),
      (1, Option.empty[Array[Float]])).toDF("g", "v")
    val rows = withNulls.groupBy(col("g"))
      .agg(VectorExpressions.vecMean(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(rows(0).isDefined &&
      rows(0).get.asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(1.0, 3.0))
    assert(rows(1).isEmpty) // all-null group folds to null, not a crash
    val bad = Seq((0, Array(1.0f)), (0, Array(1.0f, 2.0f))).toDF("g", "v")
    val ex = intercept[Exception] {
      bad.groupBy(col("g"))
        .agg(VectorExpressions.vecMean(col("v")).as("m")).collect()
    }
    assert(ex.getMessage != null)
  }
}
