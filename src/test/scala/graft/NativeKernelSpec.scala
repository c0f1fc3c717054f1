package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Corpus
import graft.plans.{BpeExpressions, NativeKernel, TextExpressions, VectorExpressions}

/** Every row-local native kernel, through its public builder: the same
  * rows under generated code and under the interpreter, equal builder
  * calls giving equal expressions, and plans that print the same from
  * run to run. */
class NativeKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // parquet-backed, so ConvertToLocalRelation cannot evaluate the
  // kernels at plan time (interpreted) and hide the generated code
  private lazy val dir = java.nio.file.Files.createTempDirectory("native_kernel").toString

  private def stored(name: String, df: DataFrame): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  /** Text rows: real sentences, an empty text, a one-token text (shorter
    * than every window), a null, Unicode and multi-line text. */
  private lazy val docs = stored("docs", Seq(
    (1L, "The quick brown fox jumps over the lazy dog. The dog sleeps!"),
    (2L, ""),
    (3L, "one"),
    (4L, null.asInstanceOf[String]),
    (5L, "- bullet line one here\nÜnïcode 中文 tokens and 123 digits...\n" +
      "A third line with enough words to keep the page."),
    (6L, "der die das und the and of la la <b>markup</b> a@b.cc"),
    (7L, "repeat repeat repeat repeat repeat"))
    .toDF("doc_id", "text"))

  /** Vectors: three real rows, an empty vector and a null. */
  private lazy val vecs = stored("vecs", Seq(
    (1L, Array(1.0f, 2.0f, 3.0f)),
    (2L, Array(-0.5f, 0.25f, 2.0f)),
    (3L, Array(3.0f, -1.0f, 0.5f)),
    (4L, Array.empty[Float]),
    (5L, null.asInstanceOf[Array[Float]]))
    .toDF("id", "vec"))

  /** SemDeDup clusters: a real one, an empty one and a null. */
  private lazy val clusters = stored("clusters", Seq(
    (1, Seq((13L, Array(0.1f, 1.0f), math.sqrt(1.01)), (10L, Array(1.0f, 0.0f), 1.0),
      (12L, Array(0.0f, 1.0f), 1.0), (11L, Array(0.999f, 0.01f), math.sqrt(0.998101)))),
    (2, Seq.empty[(Long, Array[Float], Double)]),
    (3, null.asInstanceOf[Seq[(Long, Array[Float], Double)]]))
    .toDF("cell", "m")
    .select(col("cell"),
      expr("transform(m, x -> struct(x._1 as id, x._2 as v, x._3 as n))").as("m")))

  private val Stops = Seq("the", "and", "of", "der")
  private val Cents = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(0f, 0f, 1f), Seq(1f, 1f, 1f))
  private def sq(c: Seq[Float]) = c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
  private val Coarse = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 1f))

  private def text = col("text")
  private def vec = col("vec")
  private def id = col("doc_id")

  /** One query per kernel method (every builder of the 28 bindings),
    * built fresh on each call so each run plans under its own conf. */
  private def kernelQueries: Seq[(String, DataFrame)] = {
    val toks = split(text, " ")
    Seq(
      "hashes" -> docs.select(id, TextExpressions.shingleHashes(text, 3, dedup = false)),
      "alnumHashes" -> docs.select(id, TextExpressions.tokenGramHashes(text, 2, dedup = true)),
      "tokenCounts" -> docs.select(id, TextExpressions.tokenCounts(text)),
      "tfidfTopK" -> Corpus.tfidfTop(docs, k = 2),
      "logProbAvg" -> Corpus.unigramLogProb(docs),
      "bigramLogProbAvg" -> Corpus.bigramLogProb(docs),
      "countEntropy" -> Corpus.tokenEntropy(docs),
      "md5FeatureBuckets" -> docs.select(id, TextExpressions.md5FeatureBuckets(text, 64, "s")),
      "qualitySignals" -> docs.select(id, TextExpressions.qualitySignals(text)),
      "gopherSignals" -> docs.select(id, TextExpressions.gopherSignals(text, Stops)),
      "gopherKeep" -> docs.select(id, TextExpressions.gopherKeep(text, Stops)),
      "c4LineClean" -> docs.select(id, TextExpressions.c4LineClean(text)),
      "chainedReplace" -> docs.select(id, TextFunctions.stripMarkup(text),
        TextFunctions.redactPii(text)),
      "langIdDecide" -> docs.select(id, TextFunctions.langId(text)),
      "minhashFold" -> docs.select(id, TextExpressions.minhashFold(
        TextExpressions.shingleHashes(text, 2), Seq(3L, 5L, 7L), Seq(11L, 13L, 17L))),
      "winnowFps" -> docs.select(id, TextExpressions.winnowFingerprints(text, 3, 2)),
      "simhash64" -> docs.select(id, TextExpressions.simhash64(text)),
      "windowMd5s" -> docs.select(id, TextExpressions.windowMd5s(text, 3)),
      "cutSpans" -> docs.select(id,
        TextExpressions.cutSpans(text, typedLit(Seq(1L, 3L)), 2),
        TextExpressions.cutSpansPreserveCase(text, typedLit(Seq.empty[Long]), 2)),
      "costChunks" -> docs.select(id, TextExpressions.costChunks(toks,
        transform(toks, t => length(t).cast("long")), 4)),
      "centerProject" -> vecs.select(col("id"), VectorExpressions.centerProject(
        when(size(vec) === 3, vec), Seq(0.5, -0.5, 1.0),
        Seq(Seq(1.0, 0.0, 0.5), Seq(0.0, 2.0, 0.0), Seq(-1.0, 0.0, 1.0)))),
      "semDedupSurvivors" -> clusters.select(col("cell"),
        VectorExpressions.semDedupSurvivors(col("m"), 950000.5)),
      "lshBuckets" -> vecs.select(col("id"), VectorExpressions.lshBuckets(vec,
        (0 until 2 * 3 * 3).map(i => (i % 5 - 2) * 0.5), 2, 3, 3)),
      "nearestCentroid" -> vecs.select(col("id"),
        VectorExpressions.nearestCentroid(vec, Cents, Cents.map(sq))),
      "nearestCentroidCos" -> vecs.select(col("id"), VectorExpressions
        .nearestCentroidCos(vec, Cents, Cents.map(c => math.sqrt(sq(c))))),
      "nearestCentroidPruned" -> vecs.select(col("id"), VectorExpressions
        .nearestCentroidPruned(vec, Coarse, Coarse.map(c => math.sqrt(sq(c))),
          Seq(Seq(0, 3), Seq(1, 2)), Cents, Cents.map(c => math.sqrt(sq(c))), 1)),
      "int8DequantCos" -> vecs.select(col("id"),
        VectorExpressions.int8DequantCos(vec, Seq(0.5, -1.0, 2.0))),
      "count" -> docs.select(id, BpeExpressions.bpeCount(text, TextFunctions.BpeMerges)),
      "encode" -> docs.select(id, BpeExpressions.bpeEncode(text, TextFunctions.BpeMerges)))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("every kernel: codegen-only rows == interpreted rows, null and short rows included") {
    val generated = withConf(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      kernelQueries.map { case (k, q) => k -> rows(q) }
    }
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      kernelQueries.map { case (k, q) => k -> rows(q) }
    }
    assert(generated.map(_._1) == interpreted.map(_._1))
    generated.zip(interpreted).foreach { case ((k, g), (_, i)) =>
      assert(g.nonEmpty, s"$k: no rows")
      assert(g == i, s"$k: generated code and interpreter disagree\n$g\n$i")
    }
    // a null input row comes back null (text and vector kernels)
    val nullText = generated.toMap.apply("simhash64")
    assert(nullText.contains("[4,null]"), nullText)
    assert(generated.toMap.apply("nearestCentroidCos").contains("[5,null]"))
  }

  /** Each kernel that takes an object constant, built twice from equal
    * but separately made parameters. */
  private def constantKernels: Seq[(String, () => Column)] = Seq(
    "gopher_signals" -> (() => TextExpressions.gopherSignals(text, Stops.toVector)),
    "gopher_keep" -> (() => TextExpressions.gopherKeep(text, Stops.toVector)),
    "md5_feature_buckets" -> (() => TextExpressions.md5FeatureBuckets(text, 64, "s" * 2)),
    "chained_regex_replace" -> (() => TextFunctions.stripMarkup(text)),
    "langid_decide" -> (() => TextFunctions.langId(text)),
    "minhash_fold" -> (() => TextExpressions.minhashFold(
      TextExpressions.shingleHashes(text, 2), Vector(3L, 5L), List(11L, 13L))),
    "vec_center_project" -> (() => VectorExpressions.centerProject(vec,
      Vector(0.5, -0.5, 1.0), Cents.take(3).map(_.map(_.toDouble).toVector))),
    "lsh_bucket_signature" -> (() => VectorExpressions.lshBuckets(vec,
      (0 until 18).map(_ * 0.25).toVector, 2, 3, 3)),
    "nearest_centroid" -> (() => VectorExpressions.nearestCentroid(vec,
      Cents.map(_.toVector), Cents.map(sq))),
    "nearest_centroid_cos" -> (() => VectorExpressions.nearestCentroidCos(vec,
      Cents.map(_.toList), Cents.map(c => math.sqrt(sq(c))))),
    "nearest_centroid_pruned" -> (() => VectorExpressions.nearestCentroidPruned(vec,
      Coarse.map(_.toVector), Coarse.map(c => math.sqrt(sq(c))),
      List(List(0, 3), List(1, 2)), Cents.map(_.toVector),
      Cents.map(c => math.sqrt(sq(c))), 1)),
    "int8_dequant_cos" -> (() => VectorExpressions.int8DequantCos(vec, Vector(0.5, -1.0, 2.0))),
    "bpe_token_count" -> (() => BpeExpressions.bpeCount(text, TextFunctions.BpeMerges.toList)),
    "bpe_encode" -> (() => BpeExpressions.bpeEncode(text, TextFunctions.BpeMerges.toVector)))

  private val IdentityHash = "@[0-9a-f]{6,}".r

  test("equal builder calls are semantically equal; plans print no identity hash") {
    val both = docs.crossJoin(vecs)
    constantKernels.foreach { case (kernel, build) =>
      val df = both.select(build().as("a"), build().as("b"))
      val Seq(a, b) = df.queryExecution.analyzed.expressions.map {
        case Alias(e, _) => e
        case e => e
      }
      assert(a.semanticEquals(b), s"$kernel: $a vs $b")
      assert(a.semanticHash() == b.semanticHash() && a.hashCode == b.hashCode, kernel)
      val qe = df.queryExecution
      for (plan <- Seq(qe.analyzed.toString, qe.optimizedPlan.toString,
          qe.executedPlan.toString))
        assert(IdentityHash.findFirstIn(plan).isEmpty, s"$kernel:\n$plan")
    }
  }

  test("the analyzed plan names the kernel; the optimized plan holds its StaticInvoke") {
    val df = docs.select(TextExpressions.gopherSignals(text, Stops).as("g"))
    val analyzed = df.queryExecution.analyzed
    assert(analyzed.toString.contains("gopher_signals("), analyzed)
    def nodes(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.expressions.flatMap(_.collect { case e: Expression => e })
    assert(nodes(analyzed).exists(_.isInstanceOf[NativeKernel]))
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.collect { case p => nodes(p) }.flatten.exists(_.isInstanceOf[NativeKernel]))
    assert(optimized.toString.contains("graft.plans.ShingleHash.gopherSignals("), optimized)
  }
}
