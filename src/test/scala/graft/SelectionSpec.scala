package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Selection, SelectionOracles, Similarity}

/** Encoder-visible row type for the streaming diversity-selection test's
  * MemoryStream (the ProbeDoc convention). */
case class ProbeVec(vec_id: Long, embedding: Array[Float])

/** Data-selection family: DSIR, NB router, A-Res sampling, k-means steps,
  * md5 signature bridges. Value pins recompute expectations with PLAIN
  * Scala (own MessageDigest md5, own fold) — no shared code with the
  * operators under test. */
class SelectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Independent md5-prefix hash: first 8 hex digits of md5(s) as a long
    * (the spec's own twin of Corpus.hashValue — MessageDigest, not Spark). */
  private def md5hex32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  private def toks(s: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(s.toLowerCase).toSeq

  private lazy val docs = Seq(
    (0L, "alpha beta gamma alpha beta", "en"),
    (1L, "alpha beta gamma delta", "en"),
    (2L, "uno dos tres cuatro cinco seis", "es"),
    (3L, "uno dos tres alpha", "es"),
    (4L, "", "en"), // zero features
    (5L, "gamma delta epsilon zeta eta theta", "de"))
    .toDF("doc_id", "text", "lang")

  // ---- DSIR ----

  /** Plain-Scala DSIR weight recomputation (target = lang == "en"). */
  private def dsirExpected: Map[Long, Double] = {
    val corpus = Seq(
      0L -> ("alpha beta gamma alpha beta", true),
      1L -> ("alpha beta gamma delta", true),
      2L -> ("uno dos tres cuatro cinco seis", false),
      3L -> ("uno dos tres alpha", false),
      4L -> ("", true),
      5L -> ("gamma delta epsilon zeta eta theta", false))
    val B = Selection.DsirBuckets
    def feats(t: String): Seq[Int] = {
      val tk = toks(t)
      (tk ++ tk.zip(tk.drop(1)).map { case (a, b) => s"$a $b" })
        .map(f => (md5hex32(f + Selection.DsirSalt) % B).toInt)
    }
    val all = corpus.flatMap { case (_, (t, tgt)) => feats(t).map(_ -> tgt) }
    val rawN = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tgtN = all.groupBy(_._1).view.mapValues(_.count(_._2).toLong).toMap
    val rawTot = all.size.toDouble
    val tgtTot = all.count(_._2).toDouble
    def lr(b: Int): Double =
      math.log((tgtN(b) + 1.0) / (tgtTot + B)) - math.log((rawN(b) + 1.0) / (rawTot + B))
    corpus.map { case (id, (t, _)) =>
      id -> math.floor(feats(t).map(lr).sum * 1e6 + 0.5) / 1e6
    }.toMap
  }

  test("dsirWeights matches an independent plain-Scala recomputation") {
    val out = Selection.dsirWeights(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = dsirExpected
    assert(out.keySet == exp.keySet)
    for ((id, w) <- exp) assert(math.abs(out(id) - w) < 2e-6, s"doc $id")
    // zero-feature doc survives at exactly 0
    assert(out(4L) == 0.0)
  }

  test("dsirWeights runs ONE corpus scan (histogram exchange is reused)") {
    val df = Selection.dsirWeights(docs, col("lang") === "en")
    df.queryExecution.toRdd.count() // materialize so AQE finalizes reuse
    assert(SparkTestBase.fileScans(df).isEmpty) // in-memory input: no file scan at all
    val names = SparkTestBase.planNodeNames(df)
    assert(names.count(_ == "LocalTableScan") == 1,
      s"expected the single reused input scan, got: $names")
  }

  test("dsirTopK keeps the k most target-like docs, ties to low id") {
    val top = Selection.dsirTopK(docs, col("lang") === "en", k = 3)
      .collect().map(_.getLong(0))
    assert(top.length == 3)
    val exp = dsirExpected.toSeq.sortBy { case (id, w) => (-w, id) }.take(3).map(_._1)
    assert(top.toSeq == exp)
  }

  // ---- Naive Bayes ----

  test("nbClassify routes held-out docs to the class with matching tokens") {
    val train = Seq(
      (0L, "alpha beta gamma alpha", "en"), (1L, "beta gamma delta", "en"),
      (2L, "uno dos tres", "es"), (3L, "dos tres cuatro", "es"))
      .toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "alpha gamma beta", "en"), (11L, "tres dos uno uno", "es"),
      (12L, "", "en")) // tokenless: decided on priors alone
      .toDF("doc_id", "text", "lang")
    val out = Selection.nbClassify(train, score).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getDouble(3)))).toMap
    assert(out(10L)._1 == "en" && out(11L)._1 == "es")
    // equal priors (2 docs each): alphabetical first class wins the tie
    assert(out(12L)._1 == "en")
    assert(math.abs(out(12L)._2 - math.floor(math.log(0.5) * 1e6 + 0.5) / 1e6) < 1e-9)
    assert(out(10L)._2 < 0)
  }

  test("nbClassify score matches a hand computation") {
    val train = Seq(
      (0L, "cat cat dog", "a"), (1L, "fish", "b"))
      .toDF("doc_id", "text", "lang")
    val score = Seq((9L, "cat fish", "a")).toDF("doc_id", "text", "lang")
    val out = Selection.nbClassify(train, score).collect().head
    // model: V=3 (cat, dog, fish); class a: n_c=3, counts cat=2, dog=1;
    // class b: n_c=1, fish=1. priors: a=ln(1/2), b=ln(1/2).
    val sa = math.log(0.5) + math.log((2 + 1.0) / (3 + 3.0)) + math.log((0 + 1.0) / (3 + 3.0))
    val sb = math.log(0.5) + math.log((0 + 1.0) / (1 + 3.0)) + math.log((1 + 1.0) / (1 + 3.0))
    val best = math.max(sa, sb)
    assert(out.getString(2) == (if (sa >= sb) "a" else "b"))
    assert(math.abs(out.getDouble(3) - math.floor(best * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("nbClassify vocabCap drops tail terms to the Laplace floor") {
    val train = Seq(
      (0L, "cat cat cat dog", "a"), (1L, "fish fish bird", "b"))
      .toDF("doc_id", "text", "lang")
    val score = Seq((9L, "dog bird", "a")).toDF("doc_id", "text", "lang")
    // cap=2 keeps {cat, fish} (top by count); dog/bird fall to the floor
    // → both classes see the same per-token likelihoods, priors tie,
    // but class totals differ: a has n_c=4, b has n_c=3 → b's floor is
    // larger → pred b
    val out = Selection.nbClassify(train, score, vocabCap = 2).collect().head
    assert(out.getString(2) == "b")
  }

  test("dsir model persists and scores increments identically to the fused form") {
    val path = java.nio.file.Files.createTempDirectory("dsir_model").toString
    Selection.dsirModel(docs, col("lang") === "en")
      .write.mode("overwrite").parquet(path)
    val fused = Selection.dsirWeights(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inc = Selection.dsirWeightsFromModel(docs, spark.read.parquet(path))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc == fused)
    // a genuinely NEW increment scores map-only off the same model:
    // target-profile text ranks above off-profile text
    val newDocs = Seq((100L, "alpha beta gamma", "en"),
      (101L, "uno dos tres cuatro", "es")).toDF("doc_id", "text", "lang")
    val w = Selection.dsirWeightsFromModel(newDocs, spark.read.parquet(path))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(100L) > w(101L))
  }

  test("dsirWeightsFromModel: unseen buckets score the Laplace default, not 0") {
    val path = java.nio.file.Files.createTempDirectory("dsir_dflt").toString
    Selection.dsirModel(docs, col("lang") === "en")
      .write.mode("overwrite").parquet(path)
    val model = spark.read.parquet(path)
    // the sentinel row (bucket −1) carries ln(1/(tgt_tot+B)) − ln(1/(raw_tot+B))
    val sentinel = model.filter(col("bucket") === -1).collect()
    assert(sentinel.length == 1)
    val dflt = sentinel.head.getAs[Double]("log_ratio")
    val lrMap = model.filter(col("bucket") =!= -1).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Double]("log_ratio")).toMap
    // novel-vocabulary doc: expected weight = Σ_b c_b · (lr_b | default)
    val novel = Seq((200L, "zzxqv qvxzz wwyyk kyyww")).toDF("doc_id", "text")
    val hist = novel.select(explode(graft.plans.TextExpressions.md5FeatureBuckets(
        col("text"), Selection.DsirBuckets, Selection.DsirSalt)).as("b"))
      .groupBy(col("b")).count().collect()
      .map(r => r.getAs[Int]("b") -> r.getAs[Long]("count"))
    assert(hist.exists { case (b, _) => !lrMap.contains(b) },
      "fixture must contain at least one unseen bucket")
    val expRaw = hist.map { case (b, c) => c * lrMap.getOrElse(b, dflt) }.sum
    val expected = math.floor(expRaw * 1e6 + 0.5) / 1e6
    val w = Selection.dsirWeightsFromModel(novel, model).head.getDouble(1)
    assert(math.abs(w - expected) < 1e-9, s"w=$w expected=$expected")
    // a model WITHOUT the sentinel (pre-default artifact) degrades to 0.0
    // contributions rather than failing
    val old = model.filter(col("bucket") =!= -1)
    val wOld = Selection.dsirWeightsFromModel(novel, old).head.getDouble(1)
    val expOld = math.floor(
      hist.map { case (b, c) => c * lrMap.getOrElse(b, 0.0) }.sum * 1e6 + 0.5) / 1e6
    assert(math.abs(wOld - expOld) < 1e-9)
  }

  test("nb model persists and routes identically to the fused form") {
    val path = java.nio.file.Files.createTempDirectory("nb_model").toString
    val train = Seq(
      (0L, "alpha beta gamma alpha", "en"), (1L, "beta gamma delta", "en"),
      (2L, "uno dos tres", "es"), (3L, "dos tres cuatro", "es"))
      .toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "alpha gamma beta", "en"), (11L, "tres dos uno uno", "es"),
      (12L, "", "en")).toDF("doc_id", "text", "lang")
    Selection.writeNbModel(train, path)
    val fused = Selection.nbClassify(train, score).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSet
    val inc = Selection.nbClassifyFromModel(score, path).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSet
    assert(inc == fused)
  }

  // ---- A-Res weighted sampling ----

  test("sampleWeighted is deterministic, excludes non-positive weights, orders by key") {
    val d = Seq((1L, 10L), (2L, 100L), (3L, 0L), (4L, -5L), (5L, 1000L), (6L, 50L))
      .toDF("doc_id", "n_chars")
    val out = Selection.sampleWeighted(d, col("n_chars"), k = 10).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 5L, 6L)) // 3,4 excluded
    // keys sorted desc; independent recomputation
    def key(id: Long, w: Long): Double = {
      val h = md5hex32(id.toString + Selection.WeightSalt)
      math.floor(math.log((h + 0.5) / 4294967296.0) / w * 1e6 + 0.5) / 1e6
    }
    val exp = Seq(1L -> 10L, 2L -> 100L, 5L -> 1000L, 6L -> 50L)
      .map { case (id, w) => (id, key(id, w)) }.sortBy { case (id, k2) => (-k2, id) }
    assert(out.map(r => (r.getLong(0), r.getDouble(2))).toSeq == exp)
    // higher weight → stochastically earlier; at least assert the k=2
    // head equals the recomputation's head
    val top2 = Selection.sampleWeighted(d, col("n_chars"), k = 2).collect().map(_.getLong(0))
    assert(top2.toSeq == exp.take(2).map(_._1))
    // fractional weights survive to the output (a long cast reported
    // w = 0 for every weight in (0,1) while still sampling by it)
    val frac = Seq((1L, 0.7), (2L, 0.2)).toDF("doc_id", "score")
    val fout = Selection.sampleWeighted(frac, col("score"), k = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fout == Map(1L -> 0.7, 2L -> 0.2), s"got $fout")
  }

  // ---- threshold-cut valve ----

  test("topKThresholdCut valve selects exactly the TakeOrdered set") {
    // real corpus so the approximate precut genuinely cuts (and its
    // guard-band/widening logic runs against a non-trivial key spread)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
    val n = d.count()
    // the scored frame sampleWeighted selects from: at k = n its output
    // is every (doc_id, w, ares_key) row
    val scored = Selection.sampleWeighted(d, col("n_chars"), n.toInt)
    for (k <- Seq(1, 7, 64, 500, n.toInt + 100)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      val base = rows(Selection.sampleWeighted(d, col("n_chars"), k))
      val valve = rows(Selection.topKThresholdCut(scored, "ares_key", "doc_id", k))
      assert(valve == base, s"valve diverged from TakeOrdered at k=$k")
      assert(base.size == math.min(k.toLong, n))
    }
    // k <= 0: empty through the valve too
    assert(Selection.topKThresholdCut(scored, "ares_key", "doc_id", 0)
      .count() == 0)
    // dsirTopK's selection over its quantized weight key, through the valve
    val docs2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(Selection.topKThresholdCut(
        Selection.dsirWeights(docs2, col("lang") === "en"), "weight", "doc_id", 25)) ==
      ids(Selection.dsirTopK(docs2, col("lang") === "en", 25)))
  }

  // ---- k-means building blocks ----

  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
    (2L, Array(0.9f, 0.1f, 0f)), (3L, Array(0.1f, 0.9f, 0f)),
    (4L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")

  test("logregScore: learns a planted vocabulary split; deterministic; zero-feature docs score") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // learnable corpus: target docs speak "quality" vocabulary, the rest
    // "spam" — a linear model over hashed token buckets must separate
    val hi = Array("insight", "method", "theory", "结论", "analysis", "proof")
    val lo = Array("click", "cheap", "winner", "free", "deal", "offer")
    val rnd = new scala.util.Random(5)
    val docs = (0L until 60L).map { i =>
      val vocab = if (i % 2 == 0) hi else lo
      val text = Array.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i, text, i % 2 == 0)
    }.toDF("doc_id", "text", "is_hi")
    val scored = Selection.logregScore(docs, col("is_hi"), iters = 15, lr = 20.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hiScores = scored.collect { case (_, (1L, s)) => s }
    val loScores = scored.collect { case (_, (0L, s)) => s }
    val hiAvg = hiScores.sum / hiScores.size
    val loAvg = loScores.sum / loScores.size
    // bucket collisions (12 words + bigrams into 256 buckets) cap the
    // attainable margin — assert a decisive separation, not perfection
    assert(hiAvg > 0.75 && loAvg < 0.35 && hiAvg - loAvg > 0.5,
      s"hi avg $hiAvg, lo avg $loAvg")
    // byte-identical across runs (fixed GD + 9dp-quantized weights)
    val again = Selection.logregScore(docs, col("is_hi"), iters = 15, lr = 20.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == scored)
    // a null-text doc still trains/scores through its bias row
    val withNull = docs.unionByName(
      Seq((100L, null.asInstanceOf[String], false)).toDF("doc_id", "text", "is_hi"))
    val n = Selection.logregScore(withNull, col("is_hi"))
      .filter(col("doc_id") === 100L).collect()
    assert(n.length == 1 && !n(0).isNullAt(2))
  }

  test("logreg model persists and scores increments identically to the fused form") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("logreg_model").toString
    Selection.logregModel(docs, col("lang") === "en")
      .write.mode("overwrite").parquet(path)
    val fused = Selection.logregScore(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val inc = Selection.logregScoreFromModel(docs, spark.read.parquet(path),
      col("lang") === "en").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(inc == fused)
    // a NEW increment scores map-only off the same persisted weights
    val newDocs = Seq((100L, "alpha beta gamma", "en")).toDF("doc_id", "text", "lang")
    val w = Selection.logregScoreFromModel(newDocs, spark.read.parquet(path),
      col("lang") === "en").collect()
    assert(w.length == 1 && w(0).getDouble(2) >= 0.0 && w(0).getDouble(2) <= 1.0)
  }

  test("rocAuc: hand-computed cases — perfect, inverted, ties, one-class null") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Long)]): (Option[Double], Long, Long) = {
      val r = Selection.rocAuc(rows.toDF("score", "is_target")).head()
      (if (r.isNullAt(0)) None else Some(r.getDouble(0)), r.getLong(1), r.getLong(2))
    }
    // perfect separation
    assert(auc(Seq((0.9, 1L), (0.8, 1L), (0.2, 0L), (0.1, 0L))) == (Some(1.0), 2L, 2L))
    // perfectly inverted
    assert(auc(Seq((0.1, 1L), (0.2, 1L), (0.8, 0L), (0.9, 0L)))._1 == Some(0.0))
    // all scores tied -> average rank -> 0.5 regardless of labels
    assert(auc(Seq((0.5, 1L), (0.5, 0L), (0.5, 1L), (0.5, 0L)))._1 == Some(0.5))
    // mixed with a tie: scores 0.3(neg) 0.5(pos) 0.5(neg) 0.7(pos)
    // pairs: pos(0.5) vs neg{0.3 win, 0.5 half}; pos(0.7) vs both wins
    // AUC = (1 + 0.5 + 2) / 4 = 0.875
    assert(auc(Seq((0.3, 0L), (0.5, 1L), (0.5, 0L), (0.7, 1L)))._1 == Some(0.875))
    // one-class input: undefined -> null, counts still reported
    assert(auc(Seq((0.4, 1L), (0.6, 1L))) == (None, 2L, 0L))
    // randomized pin against the O(P*N) pairwise definition
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(300)((rnd.nextInt(20) / 20.0, rnd.nextInt(2).toLong))
    val pos = rows.collect { case (s, 1L) => s }
    val neg = rows.collect { case (s, 0L) => s }
    val brute = pos.map(p => neg.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum).sum / (pos.size * neg.size)
    val got = auc(rows)._1.get
    assert(math.abs(got - math.floor(brute * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("kmeansAssign: nearest-by-cosine cell, seeds assign to themselves") {
    val seeds = Similarity.kmeansSeeds(vecs, 2)
    assert(seeds.length == 2 && seeds(0)(0) == 1f)
    val out = Similarity.kmeansAssign(vecs, seeds).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(out(0L) == ((0, 1.0)) && out(1L) == ((1, 1.0)))
    assert(out(2L)._1 == 0 && out(3L)._1 == 1)
    assert(out(4L)._1 == 1) // cos(-x, x)=-1 < cos(-x, y)=0 → cell 1
    assert(out(2L)._2 > 0.99 && out(2L)._2 < 1.0)
  }

  test("kmeansStep: per-cell per-dim means") {
    val seeds = Similarity.kmeansSeeds(vecs, 2)
    val out = Similarity.kmeansStep(vecs, seeds).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // cell 0 members: 0, 2 → mean dim0 = (1 + 0.9)/2 = 0.95
    assert(math.abs(out((0, 0)) - 0.95) < 1e-6)
    assert(math.abs(out((0, 1)) - 0.05) < 1e-6)
    // cell 1 members: 1, 3, 4 → dim0 = (0 + 0.1 - 1)/3 = -0.3
    assert(math.abs(out((1, 0)) - -0.3) < 1e-6)
    assert(out.size == 2 * 3)
  }

  // ---- signature bridges ----

  test("minhashBridge: signature matches an independent recomputation; short docs excluded") {
    val d = Seq(
      (0L, "one two three four five"), (1L, "one two three four five"),
      (2L, "one two")) // < 3 tokens: no shingle set
      .toDF("doc_id", "text")
    val out = Dedup.minhashBridge(d).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.keys.map(_._1).toSet == Set(0L, 1L))
    assert(out.size == 2 * Dedup.BridgePerms)
    // identical docs → identical signatures
    for (p <- 0 until Dedup.BridgePerms) assert(out((0L, p)) == out((1L, p)))
    // independent recomputation of perm 0 and 7
    val tk = toks("one two three four five")
    val hs = tk.sliding(3).map(_.mkString(" "))
      .map(s => md5hex32(s + Dedup.MinhashBridgeSalt) % Dedup.BridgeP).toSeq
    for (p <- Seq(0, 7)) {
      val exp = hs.map(h => (Dedup.bridgeA(p) * h + Dedup.bridgeB(p)) % Dedup.BridgeP).min
      assert(out((0L, p)) == exp, s"perm $p")
    }
  }

  test("simhashBridge: bit-vote signature matches an independent recomputation") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"), (1L, "alpha beta gamma delta epsilon"),
      (2L, "")).toDF("doc_id", "text")
    val out = Dedup.simhashBridge(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 0L)
    assert(out(0L) == out(1L))
    val hs = toks("alpha beta gamma delta epsilon")
      .map(t => md5hex32(t + Dedup.SimhashBridgeSalt))
    val exp = (0 until 32).map { b =>
      val votes = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (votes > 0) 1L << b else 0L
    }.sum
    assert(out(0L) == exp)
  }

  test("Md5FeatureBuckets kernel ≡ featureStrings + hashBucket, incl. fuzz") {
    val fixed = Seq("alpha beta gamma", "", "Mixed CASE tokens 42x", "☃ emoji ☃ here",
      "one", "a b", "  spaced   out  ", "punct,comma.dot!bang")
    val rnd = new scala.util.Random(11)
    val alphabet = "abc XYZ 012 ,.!é中 "
    val fuzz = (1 to 60).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (fixed ++ fuzz).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.plans.TextExpressions.md5FeatureBuckets(
          col("text"), Selection.DsirBuckets, Selection.DsirSalt).as("k"),
        transform(SelectionOracles.featureStrings(col("text")),
          f => graft.operators.Corpus.hashBucket(f, Selection.DsirBuckets,
            Selection.DsirSalt).cast("int")).as("c"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"doc ${r.getLong(0)}")
    }
  }

  test("minhashPairsBridge: banding pairs near-dups, skips unrelated docs") {
    val d = Seq(
      (0L, "one two three four five six seven eight"),
      (1L, "one two three four five six seven eight"), // identical → all bands match
      (2L, "totally different words appear in this document here now"),
      (3L, "one two three four five six seven nine")) // near-dup of 0/1
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsBridge(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs always pair
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L }) // unrelated never
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("curriculumAssign: quantile tiers are balanced, ordered by score") {
    val scored = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "s")
    val out = graft.operators.Corpus.curriculumAssign(scored, "s", 4).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // quartile cuts at 25.75/50.5/75.25 (interpolated): 0→[1,25], ...
    assert(out.values.toSeq.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // monotone: a higher score never lands in a lower stage
    val sorted = out.toSeq.sortBy(_._1).map(_._2)
    assert(sorted == sorted.sorted)
    assert(out(1L) == 0 && out(100L) == 3)
  }

  test("signature bridges and NB model agree with the declared oracle constants") {
    // the SQL oracle interpolates BridgeP/bridgeA/bridgeB — pin the
    // generator so an accidental constant change breaks loudly
    assert(Dedup.BridgeP == 2147483647L)
    assert(Dedup.bridgeA(0) == 2654435761L % Dedup.BridgeP)
    assert((0 until Dedup.BridgePerms).forall(i =>
      Dedup.bridgeA(i) > 0 && Dedup.bridgeA(i) < Dedup.BridgeP))
  }

  test("splitByCluster: whole clusters land in one split — no near-neighbor straddle") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    val out = Selection.splitByCluster(e, seeds).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.length == 500)
    // the defining property: a cell's members all carry ONE split label
    out.groupBy(_._2).foreach { case (cell, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cell $cell straddles splits: ${rows.map(_._3).distinct.toSeq}")
    }
    // the label is splitExpr over the cell — same grammar as splitAssign
    val expect = (0 until 8).map { c =>
      c -> spark.range(1).select(
        Corpus.splitExpr(lit(c)).as("s")).head.getString(0)
    }.toMap
    out.foreach { case (_, cell, split) => assert(split == expect(cell)) }
    // and therefore: every cosine-near pair is split-consistent (the
    // leak splitLeakage measures is structurally zero within clusters)
    val asg = Similarity.kmeansAssign(e, seeds).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val splits = out.map(r => (r._1, r._3)).toMap
    Similarity.nearDupPairsExact(e, minCosine = 0.5).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (asg(a) == asg(b))
        assert(splits(a) == splits(b), s"near pair ($a,$b) straddles splits")
    }
  }

  test("splitMeter: shares sum to 1, counts match the assignment, finer models converge to the requested split") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def deviation(k: Int): Double = {
      val seeds = Similarity.kmeansSeeds(e, k)
      val m = Selection.splitMeter(e, seeds).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // internal consistency: counts match a direct recount of the
      // assignment, shares are count/total on the 6dp grid
      val direct = Selection.splitByCluster(e, seeds).groupBy(col("split"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m.view.mapValues(_._1).toMap == direct)
      val total = m.values.map(_._1).sum.toDouble
      m.foreach { case (_, (n, share)) =>
        assert(math.abs(share - n / total) < 2e-6) }
      // L∞ deviation of realized vs requested (80/10/10)
      val req = Map("train" -> 0.80, "val" -> 0.10, "test" -> 0.10)
      req.map { case (s, p) => math.abs(m.get(s).map(_._2).getOrElse(0.0) - p) }.max
    }
    // the caveat, measured: at 8 cells a 10% slice quantizes to whole
    // clusters (deviation can be huge); a finer model must do no worse,
    // and by 64 cells on this data the split is within 15 points
    val d8 = deviation(8); val d64 = deviation(64)
    assert(d64 <= d8 + 1e-9,
      s"finer model diverged: L-inf $d64 at 64 cells vs $d8 at 8")
    assert(d64 < 0.15, s"64-cell realized split still off by $d64")
  }

  test("selectPrototypical: below-floor rows drop, zero-norm fail-fasts under ANSI") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    val corpus = e.select(col("vec_id"), col("embedding"))
    val out = Selection.selectPrototypical(corpus, seeds, minCos = 0.12)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("cos")))
    assert(out.forall(_._2 >= 0.12))
    // the gate is exactly the assignment relation filtered — nothing
    // reranked, nothing reassigned
    val expect = Similarity.kmeansAssign(corpus, seeds).collect()
      .collect { case r if r.getDouble(2) >= 0.12 => r.getLong(0) }.toSet
    assert(out.map(_._1).toSet == expect)
    // and it genuinely cuts: both sides of the floor are populated on
    // this fixture (a vacuous gate would prove nothing)
    assert(out.nonEmpty && out.length < corpus.count())
    // zero-norm input follows the assignment kernel's ANSI contract:
    // fail-fast (producer-side corruption the gate must not paper over)
    // — the test session runs ANSI, so the throw is the pinned behavior
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // ArithmeticException directly: the planted row rides a local
    // relation, so ConvertToLocalRelation evaluates the kernel at
    // optimization time, before any task wraps it in SparkException
    assertThrows[ArithmeticException] {
      Selection.selectPrototypical(
        corpus.unionByName(Seq((900L, Array.fill(64)(0f)))
          .toDF("vec_id", "embedding")), seeds, minCos = 0.12).collect()
    }
  }

  test("selectDiverseInc: registry grandfathered, slots always fill, cap never breached") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1)))
    val asg = Similarity.kmeansAssign(e, seeds).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val reg = Selection.selectDiverse(e.filter(col("vec_id") < 60), seeds, 12)
    // two sequential increments (ship-once: each sees the grown registry)
    val incA = Selection.selectDiverseInc(
      e.filter(col("vec_id") >= 60 && col("vec_id") < 150), seeds, reg, 12)
    import spark.implicits._
    val regA = pairs(reg).toSeq.toDF("vec_id", "cell")
      .unionByName(pairs(incA).toSeq.toDF("vec_id", "cell"))
    val incB = Selection.selectDiverseInc(
      e.filter(col("vec_id") >= 150), seeds, regA, 12)
    val all = pairs(reg) ++ pairs(incA) ++ pairs(incB)
    // never a duplicate, never a breached cap
    assert(all.map(_._1).distinct.length == all.length)
    all.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.length <= 12, s"cell $c over cap: ${rows.length}") }
    // slots always fill: after the full sequence every cell holds
    // min(12, members ever assigned to it) — an increment can never
    // strand an open slot while candidates existed
    val everAssigned = asg.groupBy(_._2).view.mapValues(_.length)
    val held = all.groupBy(_._2).view.mapValues(_.length)
    everAssigned.foreach { case (c, n) =>
      assert(held.getOrElse(c, 0) == math.min(n, 12),
        s"cell $c holds ${held.getOrElse(c, 0)} of $n (cap 12)") }
    // grandfathering is the CONTRACT: the sequence's selections differ
    // from the fused run over the union exactly where a later, smaller
    // hash would have displaced a shipped member — assert the registry
    // members all survive in the sequence (they do by construction) and
    // that the fused run is NOT guaranteed to keep them
    assert(pairs(reg).toSet.subsetOf(all.toSet))
  }

  test("streaming diversity selection: the foreachBatch registry loop equals the sequential increments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the production micro-batch loop end to end: each arriving batch
    // probes the persisted registry for its cells' remaining slots and
    // APPENDS its selections, so later batches see them — ship-once
    // semantics under Structured Streaming, equal (same batch
    // boundaries) to the eager increment sequence
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    def vecs(lo: Long, hi: Long) = e
      .filter(col("vec_id") >= lo && col("vec_id") < hi).collect()
      .map(r => ProbeVec(r.getLong(0), r.getSeq[Float](1).toArray))
    val regDir = java.nio.file.Files.createTempDirectory("divreg").toString
    val selDir = java.nio.file.Files.createTempDirectory("divsel").toString
    Selection.selectDiverse(e.filter(col("vec_id") < 60), seeds, 12)
      // bootstrap: the already-shipped selection (append mode — the
      // temp dir already exists empty)
      .write.mode("append").parquet(regDir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeVec]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sel = Selection.selectDiverseInc(batch, seeds,
          spark.read.parquet(regDir), 12)
        // Materialize BEFORE the registry append: sel's lineage reads
        // regDir, which the second write extends — localCheckpoint pins
        // the result so the append cannot feed back into it
        val pinned = graft.operators.Materialize(sel, None)
        pinned.write.mode("append").parquet(selDir)
        pinned.write.mode("append").parquet(regDir)
        ()
    }.start()
    try {
      in.addData(vecs(60, 200): _*); q.processAllAvailable()
      in.addData(vecs(200, 350): _*); q.processAllAvailable()
      in.addData(vecs(350, 500): _*); q.processAllAvailable()
    } finally q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSet
    // eager twin: the same three increments run sequentially
    import spark.implicits._
    val reg0 = Selection.selectDiverse(e.filter(col("vec_id") < 60), seeds, 12)
    var reg = pairs(reg0)
    var selected = Set.empty[(Long, Int)]
    for ((lo, hi) <- Seq((60L, 200L), (200L, 350L), (350L, 500L))) {
      val inc = pairs(Selection.selectDiverseInc(
        e.filter(col("vec_id") >= lo && col("vec_id") < hi), seeds,
        reg.toSeq.toDF("vec_id", "cell"), 12))
      selected ++= inc; reg ++= inc
    }
    assert(pairs(spark.read.parquet(selDir)) == selected)
  }

  test("selectDiverse caps every cell, flattens density, and is layout-deterministic") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    val out = Selection.selectDiverse(e, seeds, perCell = 12).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // cap holds per cell; no id selected twice
    val perCell = out.groupBy(_._2).view.mapValues(_.length)
    assert(perCell.values.forall(_ <= 12), s"cell cap broken: $perCell")
    assert(out.map(_._1).distinct.length == out.length)
    // density flattening: a cell with >= 12 members contributes exactly
    // 12; one with fewer contributes all of them
    val sizes = Similarity.kmeansAssign(e, seeds).groupBy(col("cell"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    sizes.foreach { case (cell, n) =>
      assert(perCell.getOrElse(cell, 0) == math.min(n, 12L).toInt,
        s"cell $cell: ${perCell.getOrElse(cell, 0)} of $n selected")
    }
    // the election is the salted hash rank, not partition luck: the same
    // rows repartitioned arbitrarily select the identical set
    val reshuffled = Selection.selectDiverse(e.repartition(13), seeds,
      perCell = 12).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(reshuffled.toSet == out.toSet)
    // selected ids are each cell's perCell SMALLEST salted hashes —
    // independent recomputation through the same public hash column
    val hashes = e.select(col("vec_id"),
      Corpus.hashValue(col("vec_id"), Corpus.SampleSalt).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCell = Similarity.kmeansAssign(e, seeds).collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._2)
    byCell.foreach { case (cell, members) =>
      val expect = members.map(_._1).sortBy(id => (hashes(id), id)).take(12).toSet
      assert(out.filter(_._2 == cell).map(_._1).toSet == expect)
    }
  }

  test("curateSemantic: the fused flagship equals the public stages chained in declared order") {
    // stage-order pin for corpus_curate_semantic: the one-scan fused plan
    // (vectors riding through assignKeepVec / dedupKeepVec) must equal
    // the five PUBLIC operators chained with explicit survivor semi-joins
    // — a deliberately different plan shape, so a fusion bug (a stage
    // seeing pre- instead of post-survivors, a dropped quantize, a cell
    // recomputed differently) cannot hide. Composition is where
    // stage-interaction bugs live — the corpus_clean lesson.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 8)
    val corpus = e.filter(col("vec_id") >= 25)
      .select(col("vec_id"), col("embedding"))
    val evalSet = e.filter(col("vec_id") < 25)
    // the public chain, stage by stage in the declared order
    val protoIds = Selection.selectPrototypical(corpus, seeds, minCos = 0.12)
      .select(col("vec_id"))
    val protoVecs = corpus.join(protoIds, Seq("vec_id"), "left_semi")
    val dedIds = Similarity.semanticDedupClustered(protoVecs, seeds,
      minCosine = 0.45).select(col("vec_id"))
    val dedVecs = corpus.join(dedIds, Seq("vec_id"), "left_semi")
    val nDedProbe = dedVecs.count()
    // SELF-CALIBRATED decontamination threshold: at sf0.001 the declared
    // 0.45 cuts nothing AFTER dedup (every near-eval row already lost to
    // a smaller-id near-dup), which would leave the order pin vacuous at
    // this stage — probe down until the stage bites (the declared query
    // keeps 0.45; its oracle pins real behavior at sf0.01)
    val decontCos = Seq(0.45, 0.35, 0.25, 0.15).find(t =>
      Similarity.decontaminateSemantic(dedVecs, evalSet, t).count() < nDedProbe)
      .getOrElse(fail("no probed threshold makes decontamination cut — fixture drift"))
    val got = Selection.curateSemantic(corpus, seeds, evalSet,
      minCos = 0.12, dedupCos = 0.45, decontCos = decontCos, perCell = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got.nonEmpty, "flagship fixture drift: empty curation output")
    val decVecs = Similarity.decontaminateSemantic(dedVecs, evalSet,
      minCosine = decontCos)
    val div = Selection.selectDiverse(decVecs, seeds, perCell = 12)
    val want = div.join(Selection.splitByCluster(corpus, seeds)
        .select(col("vec_id"), col("split")), Seq("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == want, s"fused flagship diverged from the public chain: " +
      s"only-fused=${(got -- want).take(5)} only-chain=${(want -- got).take(5)}")
    // fixture is non-degenerate: every stage actually cuts something on
    // this data (otherwise the order pin is vacuous)
    val nCorpus = corpus.count(); val nProto = protoVecs.count()
    val nDed = dedVecs.count(); val nDec = decVecs.count()
    assert(nProto < nCorpus, "floor cut nothing")
    assert(nDed < nProto, "SemDeDup cut nothing")
    assert(nDec < nDed, "decontamination cut nothing")
    assert(got.size < nDec, "diversity cap cut nothing")
    // hard invariants regardless of data: cap per cell, no contaminated
    // survivor, split constant per cell
    assert(got.groupBy(_._2).forall(_._2.size <= 12), "cell cap breached")
    val cleanIds = Similarity.decontaminateSemantic(
      corpus, evalSet, minCosine = decontCos).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(r => cleanIds.contains(r._1)),
      "a contaminated id survived the flagship")
    assert(got.groupBy(_._2).forall(_._2.map(_._3).size >= 1) &&
      got.groupBy(_._2).forall(_._2.groupBy(_._3).size == 1),
      "a cell straddles splits — the leak splitByCluster exists to prevent")

    // maxCell valve through the fused path: cap 0 skips pairing in every
    // cell (all floor survivors reach decontamination — the capBuckets
    // disposition with vectors riding), and a cap above every occupancy
    // leaves the result byte-identical to the uncapped run
    val capped = Selection.curateSemantic(corpus, seeds, evalSet,
      minCos = 0.12, dedupCos = 0.45, decontCos = decontCos, perCell = 12,
      maxCell = Some(0L))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val wantCapped = Selection.selectDiverse(
      Similarity.decontaminateSemantic(protoVecs, evalSet, decontCos),
      seeds, perCell = 12)
      .join(Selection.splitByCluster(corpus, seeds)
        .select(col("vec_id"), col("split")), Seq("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(capped == wantCapped,
      "cap-0 flagship != chain with the dedup stage skipped")
    val cappedHigh = Selection.curateSemantic(corpus, seeds, evalSet,
      minCos = 0.12, dedupCos = 0.45, decontCos = decontCos, perCell = 12,
      maxCell = Some(nCorpus + 1))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(cappedHigh == got, "a never-binding cap changed the result")
  }
}
