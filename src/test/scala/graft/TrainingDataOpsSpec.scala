package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TextOracles}
import graft.operators.{Corpus, Dedup, LayoutTestKit, Multimodal, Similarity, SimilarityOracles}

class TrainingDataOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "der hund ist nicht ein katze und das ist gut"),
    (3L, "completely different words entirely unrelated tokens here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (5L, "短 文 本 with 漢字 characters"))
    .toDF("doc_id", "text")

  test("exact dedup: identical texts collapse to min id with multiplicity") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dups")).toMap
    assert(out(0L) == 2L) // doc 4 collapsed into 0
    assert(!out.contains(4L) && out.size == 5)
  }

  test("paragraph dedup: first occurrence survives, boilerplate-only doc vanishes") {
    val out = Dedup.dedupParagraphs(Fixtures.paraDocs(spark)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_kept")))).toMap
    // doc 0 keeps all three paragraphs (first occurrence of each)
    assert(out(0L)._2 == 3L)
    // doc 1 loses header+footer to doc 0, keeps its unique body
    assert(out(1L) == (("a second body paragraph describing the harbor", 1L)))
    // doc 3's within-doc repeat collapses; cookie banner first seen here
    assert(out(3L)._2 == 3L && out(3L)._1.startsWith("a repeated stanza"))
    // doc 4 loses cookie (doc 3) and header (doc 0)
    assert(out(4L) == (("fourth document body text on navigation menus", 1L)))
    // doc 5: the two paragraphs are equal after trimming -> one survives,
    // and the rebuilt text is the TRIMMED form
    assert(out(5L) == (("surrounded by spaces this paragraph is", 1L)))
    // doc 6: empty paragraph dropped, footer lost to doc 0
    assert(out(6L) == (("sixth doc only paragraph", 1L)))
    // doc 7 is boilerplate-only: every paragraph lost its race -> doc gone
    assert(!out.contains(7L))
    // docs 8/9 keep only their fresh paragraphs
    assert(out(8L) == (("eighth doc opens fresh", 1L)))
    assert(out(9L) == (("ninth doc closer", 1L)))
    // untouched doc round-trips unchanged
    assert(out(2L) == (("standalone prose with no boilerplate at all", 1L)))
  }

  test("paragraph dedup is windowless: keeper selection never buffers a hot paragraph") {
    // a paragraph repeated across MANY docs is exactly the case the
    // operator exists for — keeper choice must be a map-side-combined
    // groupBy, not a row_number window over the paragraph partition
    val boiler = (0L until 50L).map(i => (i, s"unique paragraph $i\n\nshared boilerplate"))
    val out = Dedup.dedupParagraphs(boiler.toDF("doc_id", "text"))
    val rows = out.collect()
    assert(rows.length == 50 &&
      rows.count(_.getAs[String]("text").contains("shared boilerplate")) == 1)
    val nodes = SparkTestBase.planNodeNames(out)
    assert(!nodes.exists(_.contains("Window")),
      s"paragraph keeper planned a window: $nodes")
  }

  test("map-only minhash signatures equal the explode+agg path; banded build is exchange-free") {
    val mixed = docs.unionByName(Seq(
      (10L, Some("a b")), (11L, Some("one two three four five six seven eight")),
      (12L, None)) // short-doc fallback, longer doc, NULL text
      .toDF("doc_id", "text")) // null text rides the whole-text fallback
      // as array(null) in BOTH paths: same deterministic signature (null
      // docs are exact duplicates of each other; maxBucket bounds them)
    def sigs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until 16).map(j => r.getAs[Long](s"mh_$j"))).toMap
    val viaAgg = sigs(graft.operators.DedupOracles.minhash(
      Dedup.shingleTable(mixed, 3, "text", "doc_id", dedup = false), 16, "doc_id"))
    val viaMap = sigs(Dedup.minhashSignatures(mixed))
    assert(viaMap == viaAgg)
    // the whole banded build plans with no exchange before the write
    val banded = Dedup.minhashBandedTable(mixed)
    banded.collect()
    val nodes = SparkTestBase.planNodeNames(banded)
    assert(!nodes.exists(_.contains("Exchange")),
      s"map-only banded build shuffled: $nodes")
  }

  test("PQ on-codebook: zero quantization error makes ADC top-k equal brute force") {
    // basis: 4 vectors whose two subspace slices are 4 distinct values of
    // EQUAL norm, so full-vector normalization scales every slice the same
    // way and the trained codebooks are exactly the (normalized) values
    val vals = Seq(
      Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f), Array(0f, -1f))
    val basis = vals.zipWithIndex.map { case (v, i) => (i.toLong, v ++ v) }
      .toDF("vec_id", "embedding")
    val model = SimilarityOracles.trainPq(basis, m = 2, k = 4, iters = 2)
    assert(model.dim == 4 && model.centroids.length == 2 &&
      model.centroids.forall(_.length == 4))
    // corpus: all 16 subvector combinations — same norm √2, every slice ON
    // the codebook → quantization error 0 → PQ ranking ≡ brute force
    val corpus = (for (a <- vals; b <- vals) yield a ++ b).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val encoded = Similarity.pqEncode(corpus, model)
    val codes = encoded.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Int](1))
    assert(codes.forall { case (_, c) => c.length == 2 && c.forall(x => x >= 0 && x < 4) })
    assert(codes.map(_._2).distinct.length == 16) // all combinations distinct
    val q = Seq(0.9f, 0.1f, 0.05f, 0.95f)
    val exact = Similarity.topK(corpus, q, k = 5).collect().map(_.getLong(0)).toSeq
    val viaPq = Similarity.topKPq(encoded, model, q, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(viaPq == exact)
  }

  test("PQ on the embeddings fixture: compresses 64 floats to 8 codes, useful recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val model = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 2)
    val encoded = Similarity.pqEncode(e, model)
    assert(encoded.head.getSeq[Int](1).length == 8)
    // the compressed paths are MAP-ONLY: encode fuses into the scan, and
    // ADC is a per-row literal-table lookup feeding TakeOrderedAndProject
    // — no explode, no join, no aggregation exchange anywhere
    for (df <- Seq(encoded, Similarity.topKPq(encoded, model, q, k = 10))) {
      val nodes = SparkTestBase.planNodeNames(df)
      assert(!nodes.exists(n => n.contains("Exchange") || n.contains("Generate") ||
        n.contains("Join")), s"PQ path should be map-only: $nodes")
    }
    val exact = Similarity.topK(e, q, k = 10).collect().map(_.getLong(0)).toSet
    // raw ADC: 8×16 codes = 32 bits against near-random 64-d synthetic
    // data is the hardest case for PQ — pin that it stays useful (finds
    // the query itself + a nontrivial overlap), not that it's precise
    val approx = Similarity.topKPq(encoded, model, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.2, s"PQ recall@10 collapsed: $recall (got $approx vs $exact)")
    assert(approx.contains(0L)) // the query vector itself must surface
    // the production shape: ADC shortlist + exact rerank of k·overscan
    // rows recovers what quantization loses
    val rescored = Similarity.topKPqRescored(encoded, e, model, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val rr = (exact & rescored).size / 10.0
    assert(rr >= 0.7, s"rescored recall@10: $rr (got $rescored vs $exact)")
  }

  test("MRL routing: full overscan equals brute force; prefix routing keeps recall and self") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Double]("cos")))
    // overscan covering the corpus: the rerank IS brute force, row for row
    assert(ids(Similarity.topKMrl(e, q, k = 10, kDims = 16, overscan = 1 << 20)).toSeq ==
      ids(Similarity.topK(e, q, k = 10)).toSeq)
    // the declared production point: prefix routing at 16 of 64 dims with
    // 4x overscan finds the query itself and keeps useful recall on the
    // near-random synthetic fixture (the hardest case for a prefix cut —
    // real MRL-trained stacks concentrate signal in the prefix)
    val exact = ids(Similarity.topK(e, q, k = 10)).map(_._1).toSet
    val routed = ids(Similarity.topKMrl(e, q, k = 10, kDims = 16, overscan = 4))
      .map(_._1).toSet
    assert(routed.contains(0L), "self-match lost by prefix routing")
    val recall = (exact & routed).size / 10.0
    assert(recall >= 0.2, s"MRL recall@10 collapsed: $recall")
    // zero-prefix vectors are routed out, not crashed on
    import spark.implicits._
    val z = Seq((900L, Array.fill(16)(0f) ++ Array.fill(48)(0.5f)))
      .toDF("vec_id", "embedding")
      .unionByName(e.select(col("vec_id"), col("embedding")))
    assert(Similarity.topKMrl(z, q, k = 5, kDims = 16, overscan = 2)
      .collect().forall(_.getLong(0) != 900L))
    // a FULLY zero vector reaching the rerank shortlist (tiny corpus:
    // the shortlist is everything) scores an explicit null, never a
    // divide-by-zero — the rerank leg's guard, mirroring the route leg's
    val z2 = Seq((901L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
      .unionByName(e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")))
    val rr = Similarity.topKMrl(z2, q, k = 4, kDims = 16, overscan = 4)
      .collect()
    assert(rr.filter(_.getLong(0) == 901L).forall(_.isNullAt(1)))
  }

  test("MRL through the IVF index: full probe+overscan equals brute force; routed serving keeps self") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val index = SimilarityOracles.buildIvfIndex(e, nCells = 8, iters = 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Double]("cos")))
    // probe ALL cells + corpus-covering overscan: the composed path IS
    // brute force, row for row — the sim_topk_mrl_ivf_full bridge shape
    assert(ids(Similarity.topKMrlIvf(index, q, k = 10, kDims = 16,
      overscan = 1 << 20, nProbe = 8)).toSeq ==
      ids(Similarity.topK(e, q, k = 10)).toSeq)
    // production point: 4 of 8 cells + prefix routing still finds the
    // query itself and keeps recall on the near-random fixture
    val exact = ids(Similarity.topK(e, q, k = 10)).map(_._1).toSet
    val routed = ids(Similarity.topKMrlIvf(index, q, k = 10, kDims = 16,
      overscan = 4, nProbe = 4)).map(_._1).toSet
    assert(routed.contains(0L), "self-match lost by IVF+prefix routing")
    assert((exact & routed).size / 10.0 >= 0.2,
      s"MRL-IVF recall@10 collapsed: ${(exact & routed).size / 10.0}")
  }

  test("MRL batch join: corpus-spanning overscan equals exact topKJoin; routed keeps self per query") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant a zero-PREFIX / nonzero-tail vector built from query 0's own
    // tail, so it IS one of query 0's exact top neighbors: invisible to
    // the route (scores -Inf) but a legal topKJoin candidate — the full
    // bridge must still rerank it exactly (null routing would drop it
    // from the shortlist and break bridge equality right here)
    val q0tail = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
      .drop(16).toArray
    val corpus = e.filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Seq((902L, Array.fill(16)(0f) ++ q0tail))
        .toDF("vec_id", "embedding"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding"))
    // the plant must actually make query 0's exact top-5, or this test
    // proves nothing about shortlist eligibility
    assert(Similarity.topKJoin(corpus, queries, k = 5).collect()
      .exists(r => r.getAs[Long]("q_id") == 0L &&
        r.getAs[Long]("vec_id") == 902L),
      "fixture drift: the planted zero-prefix vector left the exact top-5")
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    // shortlist = everything (301 rows with the plant → k·overscan must
    // cover 301, not 300) → the rerank IS topKJoin, cos and all
    assert(triples(Similarity.topKJoinMrl(corpus, queries, k = 5,
      kDims = 16, overscan = 61)) ==
      triples(Similarity.topKJoin(corpus, queries, k = 5)))
    // production point: every query's own vector survives prefix routing
    val routed = Similarity.topKJoinMrl(corpus, queries, k = 5,
      kDims = 16, overscan = 4).collect()
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(
        _.map(_.getAs[Long]("vec_id")).toSet)
    (0L until 5L).foreach(q => assert(routed(q).contains(q),
      s"query $q lost its self-match through the MRL join route"))
    // composed through the IVF index: all cells + corpus-spanning
    // overscan is again exact, row for row
    val index = SimilarityOracles.buildIvfIndex(corpus, nCells = 8, iters = 1)
    assert(triples(Similarity.topKJoinMrlIvf(index, queries, k = 5,
      kDims = 16, overscan = 61, nProbe = 8)) ==
      triples(Similarity.topKJoin(corpus, queries, k = 5)))
    // pruned + routed production point keeps self per query
    val routedIvf = Similarity.topKJoinMrlIvf(index, queries, k = 5,
      kDims = 16, overscan = 4, nProbe = 4).collect()
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(
        _.map(_.getAs[Long]("vec_id")).toSet)
    (0L until 5L).foreach(q => assert(routedIvf(q).contains(q),
      s"query $q lost its self-match through the MRL-IVF join route"))
  }

  test("k · overscan past the Int range: shortlists size in Long, heaps fail loudly") {
    // 4096 · 2^20 = 2^32, which an Int product wraps to 0 — a limit(0)
    // shortlist and a silently empty result. Sized in Long it covers the
    // corpus, so each rescored serve IS brute force.
    val e = (0L until 200L).map(i =>
        (i, Array.tabulate(64)(d => math.sin(i * 31.0 + d * 7.0).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val preDir = java.nio.file.Files.createTempDirectory("mrlpre_ovf").toString
    Similarity.writeMrlPrefixes(e, 16, preDir)
    val prefixes = spark.read.parquet(preDir)
    val model = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 1)
    val encoded = Similarity.pqEncode(e, model)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Double]("cos"))).toSeq
    val exact = rows(Similarity.topK(e, q, k = 4096))
    assert(exact.length == 200)
    assert(rows(Similarity.topKMrlPre(prefixes, e, q, k = 4096, kDims = 16,
      overscan = 1 << 20)) == exact)
    assert(rows(Similarity.topKPqRescored(encoded, e, model, q, k = 4096,
      overscan = 1 << 20)) == exact)
    // the per-query heap takes an Int k: the overflowing product is an error
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding"))
    assertThrows[IllegalArgumentException] {
      Similarity.topKJoinMrl(e, queries, k = 4096, kDims = 16, overscan = 1 << 20)
    }
  }

  test("MRL persisted-prefix serving: pre forms equal their column twins and the exact bridges") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") < 300)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val preDir = java.nio.file.Files.createTempDirectory("mrlpre").toString
    Similarity.writeMrlPrefixes(corpus, 16, preDir)
    val prefixes = spark.read.parquet(preDir)
    // the persisted relation IS the projection: row-for-row slice + norm
    assert(prefixes.count() == corpus.count())
    assert(prefixes.filter(size(col("prefix")) =!= 16).count() == 0)
    // scalar: routed pre == routed column form (same shortlist, same
    // rerank); corpus-covering overscan == exact topK
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Double]("cos"))).toSeq
    assert(ids(Similarity.topKMrlPre(prefixes, corpus, q, k = 10,
      kDims = 16, overscan = 4)) ==
      ids(Similarity.topKMrl(corpus, q, k = 10, kDims = 16, overscan = 4)))
    assert(ids(Similarity.topKMrlPre(prefixes, corpus, q, k = 10,
      kDims = 16, overscan = 1000)) ==
      ids(Similarity.topK(corpus, q, k = 10)))
    // batch: same two equalities for the join form
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    assert(triples(Similarity.topKJoinMrlPre(prefixes, corpus, queries,
      k = 5, kDims = 16, overscan = 4)) ==
      triples(Similarity.topKJoinMrl(corpus, queries, k = 5,
        kDims = 16, overscan = 4)))
    assert(triples(Similarity.topKJoinMrlPre(prefixes, corpus, queries,
      k = 5, kDims = 16, overscan = 60)) ==
      triples(Similarity.topKJoin(corpus, queries, k = 5)))
    // width drift is an ERROR, not silent degradation: the dot kernel
    // nulls on length mismatch, which would quietly wreck the shortlist
    assertThrows[IllegalArgumentException] {
      Similarity.topKMrlPre(prefixes, corpus, q, k = 10,
        kDims = 32, overscan = 4)
    }
    assertThrows[IllegalArgumentException] {
      Similarity.topKJoinMrlPre(prefixes, corpus, queries, k = 5,
        kDims = 8, overscan = 4)
    }
    // retrain-free growth: append an increment's projection == rebuild
    // over the grown corpus, row for row
    val grown = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    Similarity.growMrlPrefixes(grown, 16, preDir)
    val rebuiltDir = java.nio.file.Files.createTempDirectory("mrlpre2").toString
    Similarity.writeMrlPrefixes(
      e.filter(col("vec_id") < 400), 16, rebuiltDir)
    def rows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSet
    assert(rows(preDir) == rows(rebuiltDir))
    // mixed-width growth is rejected AT THE WRITE — the one place a
    // mixed relation could be created: the serve-time take(1) guard can
    // sample either width, and mismatched rows would silently null out
    // of every shortlist instead of erroring
    assertThrows[IllegalArgumentException] {
      Similarity.growMrlPrefixes(grown, 8, preDir)
    }
    assert(rows(preDir) == rows(rebuiltDir),
      "rejected growth must not have written anything")
    // batch forms mirror the scalar query.length >= kDims guard: a query
    // batch NARROWER than kDims errors instead of silently emptying each
    // query's output (the dot kernel nulls on length mismatch and the
    // per-query heap drops every row)
    val narrowQ = queries.select(col("q_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    assertThrows[IllegalArgumentException] {
      Similarity.topKJoinMrl(corpus, narrowQ, k = 5, kDims = 16, overscan = 4)
    }
    assertThrows[IllegalArgumentException] {
      Similarity.topKJoinMrlPre(prefixes, corpus, narrowQ, k = 5,
        kDims = 16, overscan = 4)
    }
    assertThrows[IllegalArgumentException] {
      val index = SimilarityOracles.buildIvfIndex(corpus, nCells = 4, iters = 1)
      Similarity.topKJoinMrlIvf(index, narrowQ, k = 5, kDims = 16,
        overscan = 4, nProbe = 2)
    }
  }

  test("shortlist valve: above the collect cap the shortlist never transits the driver; bridge stays exact through the checkpoint branch") {
    def localRelations(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }
    val sl = spark.range(50).select(col("id").as("vec_id"))
    // below cap: collected into a driver-side LOCAL relation (returned
    // pre-wrapped in broadcast — the hash relation costs exactly the
    // collect already paid) + In filter
    val (localLo, filtLo) =
      Similarity.materializeShortlist(sl, "vec_id", collectCap = 100)
    assert(localRelations(localLo).nonEmpty && filtLo.isDefined)
    // above cap: the pin stays in executor blocks (LogicalRDD from the
    // localCheckpoint) — NO LocalRelation (no driver collect built the
    // rerank input), no In filter, and — the r16 verdict's finding — no
    // broadcast either: the frame comes back SHUFFLE_HASH-hinted, so a
    // rerank join shuffles on id instead of collecting the shortlist on
    // the driver inside a BroadcastExchange (which is what a broadcast
    // hint would do regardless of the pin). PlanLintSpec pins the
    // executed-plan shape; here we pin the returned logical contract.
    val (localHi, filtHi) =
      Similarity.materializeShortlist(sl, "vec_id", collectCap = 10)
    assert(localRelations(localHi).isEmpty,
      "above-cap branch still built a driver-side local relation")
    assert(filtHi.isEmpty)
    val hiHints = localHi.queryExecution.logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h.name
    }
    assert(hiHints.exists(_.equalsIgnoreCase("shuffle_hash")),
      s"above-cap branch lost its SHUFFLE_HASH hint: $hiHints")
    assert(!hiHints.exists(_.equalsIgnoreCase("broadcast")),
      "above-cap branch re-grew a broadcast hint — the driver-collect trap")
    // both branches pin the SAME rows — the route executed once each
    assert(localHi.collect().map(_.getLong(0)).toSet ==
      localLo.collect().map(_.getLong(0)).toSet)
    // mid band: collected locally but too many DISTINCT ids for a sane
    // In predicate — filter skipped, local relation kept
    val wide = spark.range(Similarity.ShortlistInFilterCap + 1)
      .select(col("id").as("vec_id"))
    val (_, filtMid) = Similarity.materializeShortlist(wide, "vec_id",
      collectCap = Similarity.ShortlistInFilterCap + 10)
    assert(filtMid.isEmpty)
    // end-to-end through the DEFAULT cap: 250 queries x 500-row corpus at
    // corpus-covering overscan = 125k shortlist rows > ShortlistCollectCap
    // (arithmetic pinned below), so the bridge equality here EXERCISES the
    // checkpoint branch — and must still equal exact topKJoin row for row
    assert(Similarity.ShortlistCollectCap == 100000,
      "cap changed: resize this fixture so it still exceeds the cap")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e
    val queries = e.filter(col("vec_id") < 250)
      .select(col("vec_id").as("q_id"), col("embedding"))
    assert(corpus.count() == 500 && queries.count() == 250,
      "fixture drift: need 500 corpus rows x 250 queries to exceed the cap")
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    assert(triples(Similarity.topKJoinMrl(corpus, queries, k = 5,
      kDims = 16, overscan = 100)) ==
      triples(Similarity.topKJoin(corpus, queries, k = 5)))
    // the multi-hour-cluster knob: a RELIABLE checkpointDir (pin survives
    // executor loss — the Materialize contract) routes the same branch
    // and returns the identical rows
    val ckDir = java.nio.file.Files.createTempDirectory("slck").toString
    assert(triples(Similarity.topKJoinMrl(corpus, queries, k = 5,
      kDims = 16, overscan = 100, checkpointDir = Some(ckDir))) ==
      triples(Similarity.topKJoin(corpus, queries, k = 5)))
  }

  test("serving layout: two retrain-free increments equal a same-model rebuild, artifact by artifact and at serve") {
    // the job-level composition of the spec-pinned grow functions
    // (assignToCells / pqEncode / buildCellCodes / growMrlPrefixes): build
    // on A, grow with B then C, and the layout must equal a ONE-PASS
    // rebuild of every relation over A∪B∪C under the SAME models — the
    // registry-increment invariance the dedup/packing families already
    // pin, composed across the whole ANN artifact family. ("Rebuild"
    // keeps the models: retraining on the grown corpus is a RECALL
    // decision, not an increment — assignToCells' documented posture.)
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val a = e.filter(col("vec_id") < 300)
    val b = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val c = e.filter(col("vec_id") >= 400)
    val grownDir = java.nio.file.Files.createTempDirectory("layout_g").toString
    AnnIndex.buildServingLayout(a, grownDir)
    AnnIndex.growServingLayout(spark, grownDir, b)
    AnnIndex.growServingLayout(spark, grownDir, c)
    val ivf = S.readIvfIndex(spark, s"$grownDir/ivf") // grown assignments
    val (grownCodes, pq) = S.readPqIndex(spark, s"$grownDir/pq")
    def pairs(df: org.apache.spark.sql.DataFrame, second: String) =
      df.select(col("vec_id"), col(second)).collect()
        .map(r => (r.getLong(0), r.get(1))).toSet
    // artifact by artifact: grown == one-pass rebuild under the models
    val rebuiltAsg = S.assignToCells(ivf, e)
    assert(pairs(spark.read.parquet(s"$grownDir/ivf/assignments"), "cell") ==
      pairs(rebuiltAsg, "cell"))
    val rebuiltCodes = S.pqEncode(e, pq)
    assert(pairs(grownCodes, "codes").map { case (i, x) => (i, x.toString) } ==
      pairs(rebuiltCodes, "codes").map { case (i, x) => (i, x.toString) })
    val rebuiltCells = S.buildCellCodes(
      S.IvfIndex(rebuiltAsg, ivf.centroids), rebuiltCodes)
    assert(pairs(spark.read.parquet(s"$grownDir/cellcodes"), "cell") ==
      pairs(rebuiltCells, "cell"))
    val rebuiltPreDir = java.nio.file.Files.createTempDirectory("layout_r").toString
    S.writeMrlPrefixes(e, AnnIndex.MrlDims, rebuiltPreDir)
    def preRows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSet
    assert(preRows(s"$grownDir/prefixes") == preRows(rebuiltPreDir))
    // at serve: the grown layout's exact bridges equal brute force over
    // the GROWN corpus — increments are fully visible to every probe
    val q = e.filter(col("vec_id") === 450).head.getSeq[Float](1)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Double]("cos"))).toSeq
    val prefixes = S.readMrlPrefixes(spark, s"$grownDir/prefixes")
    assert(ids(S.topKMrlPre(prefixes, e, q, k = 10,
      kDims = AnnIndex.MrlDims, overscan = 1000)) == ids(S.topK(e, q, k = 10)))
    val cellCodes = S.readCellCodes(spark, s"$grownDir/cellcodes")
    val qDf = Seq((0L, q)).toDF("q_id", "embedding")
    val served = S.topKJoinIvfPq(cellCodes, e, ivf, pq, qDf, k = 10,
      nProbe = 16, overscan = 100).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(served == S.topK(e, q, k = 10).collect().map(_.getLong(0)).toSet)
    // production-shaped probe still finds the increment's own vector
    val probed = S.topKJoinIvfPq(cellCodes, e, ivf, pq, qDf, k = 10,
      nProbe = 4, overscan = 10).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(probed.contains(450L),
      "a grown vector is invisible to the pruned IVF-PQ probe")
    // a mismatched-width increment is rejected LOUDLY at the layout's
    // one growth entry point — downstream it would not error (pqEncode
    // writes null codes, mixed-width vectors null out of reranks):
    // the same silent-degradation class the growMrlPrefixes guard closes
    def layoutCounts() = Seq("ivf/assignments", "pq/codes", "cellcodes",
      "prefixes").map(rel => rel ->
        spark.read.parquet(s"$grownDir/$rel").count()).toMap
    val before = layoutCounts()
    val narrow = e.select(col("vec_id") + 10000L as "vec_id",
      slice(col("embedding"), 1, 32).as("embedding"))
    assertThrows[IllegalArgumentException] {
      AnnIndex.growServingLayout(spark, grownDir, narrow)
    }
    // a MIXED-width increment (one bad row hidden among good ones) is
    // rejected too — take(1) sampling would miss it
    val mixed = e.filter(col("vec_id") < 20)
      .select(col("vec_id") + 20000L as "vec_id", col("embedding"))
      .unionByName(narrow.limit(1))
    assertThrows[IllegalArgumentException] {
      AnnIndex.growServingLayout(spark, grownDir, mixed)
    }
    // a kDims mismatch fails BEFORE any write — a post-append failure
    // would leave a partially grown layout whose retry double-appends
    val goodInc = e.filter(col("vec_id") < 20)
      .select(col("vec_id") + 30000L as "vec_id", col("embedding"))
    assertThrows[IllegalArgumentException] {
      AnnIndex.growServingLayout(spark, grownDir, goodInc, kDims = 8)
    }
    assert(layoutCounts() == before,
      "rejected growth must not have appended to ANY relation")
    // growMrlPrefixes' own guard: an increment NARROWER than kDims would
    // append clipped prefixes (slice clips, the serve guard samples)
    assertThrows[IllegalArgumentException] {
      S.growMrlPrefixes(narrow.select(col("vec_id"),
        slice(col("embedding"), 1, 8).as("embedding")),
        AnnIndex.MrlDims, s"$grownDir/prefixes")
    }
    assert(spark.read.parquet(s"$grownDir/prefixes").count() ==
      before("prefixes"))
  }

  test("serving layout growth is idempotent per increment: blind retry no-ops, partial-append retry completes exactly") {
    // the r16 ADVICE hazard: four sequential non-transactional appends —
    // a mid-sequence failure leaves some relations grown, and a blind
    // retry used to double-append the grown ones. Now each relation
    // records applied increments via content-keyed markers.
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    def copyTree(src: Path, dst: Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def deleteTree(p: Path): Unit = if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("layout_idem").toString
    AnnIndex.buildServingLayout(e.filter(col("vec_id") < 300), dir)
    val rels = Seq("ivf/assignments", "pq/codes", "cellcodes", "prefixes")
    def counts() = rels.map(rel => rel ->
      spark.read.parquet(s"$dir/$rel").count()).toMap
    val preGrow = Files.createTempDirectory("layout_idem_bak")
    copyTree(Paths.get(dir), preGrow)
    val b = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    AnnIndex.growServingLayout(spark, dir, b)
    val grown = counts()
    assert(rels.forall(r => grown(r) > 300L - 1), "grow fixture drift")
    // blind retry of the SAME increment: every relation carries its
    // marker — nothing double-appends, the call is a no-op
    AnnIndex.growServingLayout(spark, dir, b)
    assert(counts() == grown, "blind retry double-appended a relation")
    // simulated mid-sequence failure: restore the LAST THREE relations to
    // their pre-grow state (assignments keeps increment b + its marker —
    // exactly "crashed after the first append"), then retry must append
    // ONLY the missing three and land equal to the clean single grow
    deleteTree(Paths.get(dir, "cellcodes"))
    deleteTree(Paths.get(dir, "prefixes"))
    deleteTree(Paths.get(dir, "pq", "codes"))
    copyTree(preGrow.resolve("cellcodes"), Paths.get(dir, "cellcodes"))
    copyTree(preGrow.resolve("prefixes"), Paths.get(dir, "prefixes"))
    copyTree(preGrow.resolve("pq").resolve("codes"), Paths.get(dir, "pq", "codes"))
    AnnIndex.growServingLayout(spark, dir, b)
    assert(counts() == grown,
      "partial-append retry did not complete to the clean-grow state " +
        s"(got ${counts()}, want $grown)")
    // a DIFFERENT increment still appends everywhere (markers key on
    // increment content, not on "something was applied")
    AnnIndex.growServingLayout(spark, dir, e.filter(col("vec_id") >= 400))
    val grown2 = counts()
    assert(rels.forall(r => grown2(r) > grown(r)),
      "a new increment was wrongly skipped by another increment's marker")
  }

  test("semantic decontamination: planted eval leak drops, zero-norm rows never contaminate") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val evalVec = e.filter(col("vec_id") === 3).head.getSeq[Float](1).toArray
    val corpus = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)
      // plant: an exact copy of an eval vector (cos 1.0) and a zero
      // vector (null cosine — never contaminated, the family contract)
      .unionByName(Seq((900L, evalVec), (901L, Array.fill(64)(0f)))
        .toDF("vec_id", "embedding"))
    val evalSet = e.filter(col("vec_id") < 25)
    val out = Similarity.decontaminateSemantic(corpus, evalSet,
      minCosine = 0.99).collect().map(_.getLong(0)).toSet
    assert(!out.contains(900L), "the planted eval copy survived")
    assert(out.contains(901L), "a zero-norm vector was dropped as contaminated")
    assert(out.size == 101, s"expected 101 survivors, got ${out.size}")
    // survivors keep full rows (the operator filters, never projects)
    assert(Similarity.decontaminateSemantic(corpus, evalSet, 0.99)
      .columns.toSeq == Seq("vec_id", "embedding"))
    // plan shape: eval side broadcast — BroadcastNestedLoopJoin LeftAnti,
    // never a CartesianProduct (the corpus streams map-only)
    val plan = Similarity.decontaminateSemantic(corpus, evalSet, 0.99)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("PQ batch join: full-overscan rescored equals exact topKJoin; raw ADC finds self") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") < 300)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val model = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 1)
    val encoded = Similarity.pqEncode(corpus, model)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = pairs(Similarity.topKJoin(corpus, queries, k = 5))
    val full = pairs(Similarity.topKJoinPqRescored(encoded, corpus, queries,
      model, k = 5, overscan = 60))
    assert(full == exact)
    // raw ADC: every query's own vector is its best compressed match
    val raw = Similarity.topKJoinPq(encoded, queries, model, k = 5)
    val best = raw.collect().groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.maxBy(_.getAs[Double]("approx_cos")) }
    best.foreach { case (q, r) => assert(r.getAs[Long]("vec_id") == q,
      s"query $q's best compressed match was ${r.getAs[Long]("vec_id")}") }
  }

  test("IVF-PQ: model round-trips exactly; full-probe full-overscan equals brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val ivf = SimilarityOracles.buildIvfIndex(e, nCells = 8, iters = 1)
    val pq = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Similarity.writePqIndex(Similarity.pqEncode(e, pq), pq, dir)
    val (enc2, pq2) = Similarity.readPqIndex(spark, dir)
    assert(pq2.m == pq.m && pq2.k == pq.k && pq2.dim == pq.dim)
    assert(pq2.centroids.flatten.map(_.toSeq) sameElements pq.centroids.flatten.map(_.toSeq))
    assert(enc2.count() == 500)
    val cellCodes = Similarity.buildCellCodes(ivf, enc2)
    // probing every cell with a corpus-spanning overscan degrades to brute
    // force — the same bridge argument as the LSH/IVF/PQ full paths
    val full = Similarity.topKJoinIvfPq(cellCodes, e, ivf, pq2,
      Seq((0L, q)).toDF("q_id", "embedding"), k = 10, nProbe = 8, overscan = 51)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSet
    assert(rows(full) == rows(Similarity.topK(e, q, k = 10)))
  }

  test("fused ANN trainer equals the standalone trainers (build-step bridge)") {
    // trainAnnModels co-schedules the three Lloyd trainings in one job per
    // round and both seed prefixes in one collect — same seeds, same
    // per-family aggregations, so the models must match the standalone
    // trainers (centroids to aggregation-merge-order ulp, assignments and
    // codebook shape exactly) at the build's own constants
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e300 = e.filter(col("vec_id") < 300)
    val (ivfFull, ivf300, pq) = Similarity.trainAnnModels(
      e, e300, nCells = 16, m = 8, k = 16, iters = 2)
    val refFull = SimilarityOracles.buildIvfIndex(e, nCells = 16, iters = 2)
    val ref300 = SimilarityOracles.buildIvfIndex(e300, nCells = 16, iters = 2)
    val refPq = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 2)
    def close(a: Array[Float], b: Array[Float]): Boolean =
      a.length == b.length &&
        a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-5f }
    def cellsOf(idx: Similarity.IvfIndex) = idx.assignments
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((got, want) <- Seq((ivfFull, refFull), (ivf300, ref300))) {
      assert(got.centroids.map(_._1).toSeq == want.centroids.map(_._1).toSeq)
      assert(got.centroids.zip(want.centroids).forall {
        case ((_, a), (_, b)) => close(a, b) }, "IVF centroids diverged")
      assert(cellsOf(got) == cellsOf(want), "IVF assignments diverged")
    }
    assert(pq.m == refPq.m && pq.k == refPq.k && pq.dim == refPq.dim)
    assert(pq.centroids.flatten.toSeq.zip(refPq.centroids.flatten.toSeq)
      .forall { case (a, b) => close(a, b) }, "PQ codebooks diverged")
  }

  test("IVF-PQ batch join: full-probe full-overscan equals exact topKJoin; serving point finds self") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") < 300)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val ivf = SimilarityOracles.buildIvfIndex(corpus, nCells = 8, iters = 1)
    val pq = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 1)
    val cellCodes = Similarity.buildCellCodes(ivf, Similarity.pqEncode(corpus, pq))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    // every cell probed + corpus-spanning overscan ≡ brute-force batch join
    val full = pairs(Similarity.topKJoinIvfPq(cellCodes, corpus, ivf, pq,
      queries, k = 5, nProbe = 8, overscan = 60))
    val exact = pairs(Similarity.topKJoin(corpus, queries, k = 5))
    assert(full == exact)
    // serving point: pruned cells + small overscan still returns a full k
    // per query, and the exact rerank surfaces each query's own vector
    val approx = Similarity.topKJoinIvfPq(cellCodes, corpus, ivf, pq,
      queries, k = 5, nProbe = 3, overscan = 5).collect()
    val byQ = approx.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.foreach { case (q, rs) =>
      assert(rs.exists(_.getAs[Long]("vec_id") == q),
        s"query $q's own vector missing from its IVF-PQ top-5") }
  }

  test("IVF-PQ and rescored PQ batch joins drop a zero-norm corpus row, not abort") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clean = e.filter(col("vec_id") < 300).select("vec_id", "embedding")
    val corpus = clean.unionByName(
      Seq((9999L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val ivf = SimilarityOracles.buildIvfIndex(corpus, nCells = 8, iters = 1)
    val pq = SimilarityOracles.trainPq(e, m = 8, k = 16, iters = 1)
    val encoded = Similarity.pqEncode(corpus, pq)
    val cellCodes = Similarity.buildCellCodes(ivf, encoded)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    // corpus-covering overscan: the zero row reaches every shortlist, its
    // null rerank score drops it, and the rest is the exact join over the
    // corpus without it
    val exact = rows(Similarity.topKJoin(clean, queries, k = 5))
    val ivfPq = rows(Similarity.topKJoinIvfPq(cellCodes, corpus, ivf, pq,
      queries, k = 5, nProbe = 8, overscan = 61))
    val pqRescored = rows(Similarity.topKJoinPqRescored(encoded, corpus,
      queries, pq, k = 5, overscan = 61))
    assert(ivfPq == exact)
    assert(pqRescored == exact)
    // every other exact-verified serve scores it through the same guarded
    // cosine: the batch joins drop it (probe-all IVF is the exact join)...
    assert(rows(Similarity.topKJoin(corpus, queries, k = 5)) == exact)
    assert(rows(Similarity.topKJoinIvf(ivf, queries, k = 5, nProbe = 8)) == exact)
    val lsh = Similarity.buildLshIndex(corpus, dim = 64)
    assert(rows(Similarity.topKJoinLsh(lsh, queries, dim = 64, k = 5))
      .forall(_._2 != 9999L))
    // ...the pair verifiers never pair it...
    def noZero(pairs: org.apache.spark.sql.DataFrame) = pairs.collect()
      .forall(r => r.getAs[Long]("id_a") != 9999L && r.getAs[Long]("id_b") != 9999L)
    assert(noZero(Similarity.nearDupPairsFromIndex(lsh, minCosine = 0.3)))
    assert(noZero(Similarity.nearDupPairsExact(corpus, minCosine = 0.3)))
    // ...and the single-query serves rank its null below every real score
    val q = e.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    val exactTop = top(Similarity.topK(clean, q, k = 10))
    assert(top(Similarity.topK(corpus, q, k = 10)) == exactTop)
    assert(top(Similarity.topKIvf(ivf, q, k = 10, nProbe = 8)) == exactTop)
    assert(top(Similarity.topKLshAll(lsh, q, k = 10)) == exactTop)
    assert(top(Similarity.topKLsh(lsh, q, k = 10)).forall(_._1 != 9999L))
    assert(top(Similarity.topKPqRescored(encoded, corpus, pq, q, k = 10,
      overscan = 31)) == exactTop)
  }

  test("a pre-nrm LSH or IVF index fails to read with the named error") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val lshDir = java.nio.file.Files.createTempDirectory("lsh_nonrm").toString
    Similarity.buildLshIndex(e, dim = 64).drop("nrm")
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(lshDir)
    val lshErr = intercept[IllegalArgumentException](
      Similarity.readLshIndex(spark, lshDir))
    assert(lshErr.getMessage.contains("no persisted nrm column"), lshErr.getMessage)
    val ivf = SimilarityOracles.buildIvfIndex(e, nCells = 4, iters = 1)
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_nonrm").toString
    Similarity.writeIvfIndex(
      Similarity.IvfIndex(ivf.assignments.drop("nrm"), ivf.centroids), ivfDir)
    val ivfErr = intercept[IllegalArgumentException](
      Similarity.readIvfIndex(spark, ivfDir))
    assert(ivfErr.getMessage.contains("no persisted nrm column"), ivfErr.getMessage)
    // a current index reads back
    Similarity.writeIvfIndex(ivf, ivfDir)
    assert(Similarity.readIvfIndex(spark, ivfDir).assignments.columns.contains("nrm"))
  }

  test("incremental paragraph dedup equals full-corpus dedup restricted to the increment") {
    val all = Fixtures.paraDocs(spark)
    val corpus = all.filter(col("doc_id") < 5)
    val inc = all.filter(col("doc_id") >= 5)
    val full = Dedup.dedupParagraphs(all).filter(col("doc_id") >= 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_kept"))).toSet
    val incremental = Dedup.dedupParagraphsIncremental(
        inc, Dedup.paragraphRegistry(corpus)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_kept"))).toSet
    assert(incremental == full)
    // registry is dedup-invariant: hashes of the deduped corpus match the
    // raw corpus's (kept and dropped paragraph sets share their hash set)
    val regRaw = Dedup.paragraphRegistry(corpus).collect().map(_.getString(0)).toSet
    val regDeduped = Dedup.paragraphRegistry(
      Dedup.dedupParagraphs(corpus)).collect().map(_.getString(0)).toSet
    assert(regRaw == regDeduped)
    // the id-ordering precondition as a runtime check: a correct bound
    // passes untouched, a violated one fails loudly instead of silently
    // diverging from the proven equivalence
    val reg = Dedup.paragraphRegistry(corpus)
    assert(Dedup.dedupParagraphsIncremental(inc, reg, maxCorpusId = Some(4L))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_kept"))).toSet == full)
    val err = intercept[IllegalArgumentException] {
      Dedup.dedupParagraphsIncremental(inc, reg, maxCorpusId = Some(7L))
    }
    assert(err.getMessage.contains("precondition"))
  }

  test("shingles: sliding word 3-grams; short docs fall back to whole text") {
    val sh = docs.select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
      .filter(col("doc_id") === 0).head.getSeq[String](1)
    assert(sh.head == "the quick brown" && sh.size == 7)
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(TextFunctions.shingles(col("text"), 3)).head.getSeq[String](0)
    assert(short == Seq("two words"))
  }

  test("ngram jaccard: near-dup pair found with high score, unrelated not") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) > 0.6)
    assert(pairs.contains((0L, 4L)) && pairs((0L, 4L)) == 1.0)
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("verbatimSpans: maximal runs on the right diagonals; maxDf valve; short docs silent") {
    val vdocs = Seq(
      // 0 and 1 share tokens 3..8 of doc 0 (= 1..6 of doc 1), a 6-run
      (0L, "aa bb cc dd ee ff gg hh ii jj"),
      (1L, "cc dd ee ff gg hh zz yy xx ww"),
      // 2 repeats doc 0's FULL text -> one maximal 10-run, not many sub-runs
      (2L, "aa bb cc dd ee ff gg hh ii jj"),
      // 3 shares nothing long enough; 4 is shorter than the window
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "aa bb cc")).toDF("doc_id", "text")
    val spans = Dedup.verbatimSpans(vdocs, window = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("a_start"), r.getAs[Long]("b_start"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(spans((0L, 1L)) == ((3L, 1L, 6L)))
    assert(spans((0L, 2L)) == ((1L, 1L, 10L)))
    assert(spans((1L, 2L)) == ((1L, 3L, 6L)))
    assert(!spans.keys.exists { case (a, b) => Set(a, b).exists(Set(3L, 4L)) })
    // df valve: a window shared by every doc drops from the candidate space
    val boiler = Seq.tabulate(5)(i =>
      (i.toLong, s"common boiler plate text here unique$i tail$i")).toDF("doc_id", "text")
    assert(Dedup.verbatimSpans(boiler, window = 5, maxDf = Some(3L)).count() == 0)
    assert(Dedup.verbatimSpans(boiler, window = 5).count() == 10) // all C(5,2) pairs
    // maxDf caps DOCUMENT frequency: one spammy doc repeating a phrase
    // many times must NOT evict it for the genuine cross-doc pair (df=2)
    val spam = Seq(
      (0L, Seq.fill(12)("p q r s t").mkString(" ")), // 12 repeats, 1 doc
      (1L, "p q r s t only once here"),
      (2L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val spamSpans = Dedup.verbatimSpans(spam, window = 5, maxDf = Some(3L))
      .filter(col("id_a") === 0L && col("id_b") === 1L)
    assert(spamSpans.count() > 0,
      "within-doc repetition evicted a df=2 window (instance count, not doc frequency)")
  }

  test("dedupSubstrings: keeper survives, later occurrences cut, spans merge, short docs untouched") {
    val sdocs = Seq(
      // 0 is the keeper of the shared 6-token run "cc dd ee ff gg hh"
      (0L, "aa bb cc dd ee ff gg hh ii jj"),
      // 1 shares that run -> its windows [1..3] all cut -> tokens 1..8 gone
      (1L, "cc dd ee ff gg hh zz yy xx ww"),
      // 2 is a FULL duplicate of 0 -> comes back empty
      (2L, "aa bb cc dd ee ff gg hh ii jj"),
      // 3 repeats a 4-window WITHIN itself: first occurrence kept
      (3L, "pp qq rr ss tt uu pp qq rr ss vv ww"),
      // 4 is shorter than the window -> untouched (lowered) even though
      // its text is a prefix of 0's
      (4L, "AA BB CC")).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(sdocs, n = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "aa bb cc dd ee ff gg hh ii jj") // keeper untouched
    // doc 1: duplicated 4-windows start at 1,2,3 -> coverage [1,5) ∪
    // [2,6) ∪ [3,7) = tokens 1..6 -> survivors 7..10
    assert(out(1L) == "zz yy xx ww")
    assert(out(2L) == "") // full dup emptied
    // doc 3: the second "pp qq rr ss" (window start 7) cut -> tokens 7..10
    assert(out(3L) == "pp qq rr ss tt uu vv ww")
    assert(out(4L) == "aa bb cc") // short doc: identity on lower(text)
    // production (xxhash64) and md5-bridge keying agree window for window
    val bridge = Dedup.dedupSubstrings(sdocs, n = 4, md5Bridge = true).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bridge == out)
  }

  test("dedupSubstrings: production equals md5 bridge on the sf0.001 corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = Dedup.dedupSubstrings(corpus, n = 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Dedup.dedupSubstrings(corpus, n = 20, md5Bridge = true).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.exists { case (_, t) => t.isEmpty },
      "expected at least one fully-duplicated doc emptied at sf0.001")
  }

  test("dedupSubstrings preserveCase: matching case-insensitive, surviving text keeps casing") {
    val docs = Seq(
      (0L, "The Quick Brown Fox Jumps Over The Lazy Dog Today"),
      (1L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY"), // case-variant dup
      (2L, "A Different Start the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(docs, n = 10, preserveCase = true).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "The Quick Brown Fox Jumps Over The Lazy Dog Today",
      "keeper keeps its ORIGINAL casing")
    assert(out(1L) == "", "a case-variant of the keeper is still a duplicate")
    assert(out(2L) == "A Different Start",
      "embedded copy cut case-insensitively; survivors keep casing")
    // default mode: same cut set, lowered emission (the oracle family)
    val low = Dedup.dedupSubstrings(docs, n = 10).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(low(0L) == "the quick brown fox jumps over the lazy dog today")
    assert(low(2L) == "a different start")
  }

  test("dedupSubstringsIncremental: equals fused restricted to the batch; precondition enforced") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cut = 25L
    for (bridge <- Seq(false, true)) {
      val fused = Dedup.dedupSubstrings(all, n = 20, md5Bridge = bridge)
        .filter(col("doc_id") >= cut).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val inc = Dedup.dedupSubstringsIncremental(
        all.filter(col("doc_id") >= cut),
        Dedup.substrRegistry(all.filter(col("doc_id") < cut), n = 20,
          md5Bridge = bridge),
        n = 20, md5Bridge = bridge, maxCorpusId = Some(cut - 1)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(inc == fused, s"md5Bridge=$bridge")
      assert(inc.nonEmpty)
    }
    // an increment id at or below the corpus bound must fail loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupSubstringsIncremental(all, Dedup.substrRegistry(all, n = 20),
        n = 20, maxCorpusId = Some(cut - 1)).collect()
    }
    assert(e.getMessage.contains("precondition violated"))
  }

  test("cutSpans kernel: empty starts identity, multi-space tokens, all-cut, overlap merge") {
    import graft.plans.TextExpressions
    val df = Seq(
      ("A  b c", Array.empty[Long]),       // double space -> empty token kept
      ("a b c d", Array(1L)),              // n=2: cuts tokens 1,2
      ("a b c d", Array(1L, 2L, 3L)),      // overlapping spans cover all
      ("a b c d e", Array(2L, 4L)),        // adjacent spans merge 2..5
      ("", Array.empty[Long])).toDF("text", "starts")
    val got = df.select(TextExpressions.cutSpans(col("text"), col("starts"), 2)).collect()
      .map(_.getString(0))
    assert(got.toSeq == Seq("a  b c", "c d", "", "a", ""))
    // null text -> null out
    val nrow = Seq((Option.empty[String], Array.empty[Long])).toDF("text", "starts")
      .select(TextExpressions.cutSpans(col("text"), col("starts"), 2)).collect()
    assert(nrow(0).isNullAt(0))
  }

  test("winnowFingerprints: equals brute force; the winnowing guarantee holds") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val (k, g) = (3, 4)
    val wdocs = (0L until 8L).map { i =>
      i -> Array.fill(k + g + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length)))
    }
    val df = wdocs.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(df, k, g).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("pos"))).toSet
    // driver-side reference: rightmost-min of every window, same md5 hash
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4)
      d.foldLeft(0L)((a, b) => (a << 8) | (b & 0xFFL))
    }
    val want = (for {
      (id, t) <- wdocs
      hs = t.sliding(k).map(w => h32(w.mkString(" "))).toArray
      s <- 0 to hs.length - g
      win = (s until s + g)
    } yield {
      val m = win.map(hs).min
      (id, win.filter(p => hs(p) == m).max + 1L) // rightmost min, 1-based
    }).toSet
    assert(got == want, s"extra=${got.diff(want).take(3)} missing=${want.diff(got).take(3)}")
    // the guarantee: every g-window elected someone => gaps between
    // consecutive selected positions within a doc are < g
    for ((id, _) <- wdocs) {
      val sel = got.collect { case (i, p) if i == id => p }.toSeq.sorted
      assert(sel.nonEmpty)
      sel.sliding(2).foreach {
        case Seq(a, b) => assert(b - a <= g, s"doc $id gap $a -> $b exceeds g")
        case _ =>
      }
    }
  }

  test("winnowPairs: guaranteed candidates for long shared runs, silent on unrelated docs") {
    val docs = Seq(
      (0L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (1L, "zz aa bb cc dd ee ff gg hh ii yy xx"), // 9-token shared run
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val (k, g) = (3, 4)
    val pairs = Dedup.winnowPairs(docs, k, g, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared")).toMap
    // shared run of 9 >= g + k - 1 = 6: the winnowing guarantee promises
    // at least one shared fingerprint for (0, 1)
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) >= 1)
    assert(!pairs.keys.exists { case (a, b) => Set(a, b)(2L) })
  }

  test("winnowPairs df valve: ubiquitous boilerplate fingerprint bounded; off by default") {
    // every doc shares the same long boilerplate run, so its selected
    // fingerprints appear in all 6 docs — without a valve the self-join
    // fans out to all C(6,2) = 15 pairs
    val boiler = (0L until 6L).map(i =>
      (i, s"common boiler plate text repeated here always unique$i tail$i"))
      .toDF("doc_id", "text")
    val open = Dedup.winnowPairs(boiler, k = 3, g = 2, minShared = 1).collect()
    assert(open.length == 15, s"expected all pairs, got ${open.length}")
    // cap at 3: the all-docs fingerprints drop before the join; only
    // fingerprints private to <= 3 docs may pair (the unique tails pair
    // with nothing), so candidates collapse
    val capped = Dedup.winnowPairs(boiler, k = 3, g = 2, minShared = 1,
      maxDf = Some(3L)).collect()
    assert(capped.isEmpty, s"valve should drop the shared-by-all fingerprints: ${capped.length}")
  }

  test("minhash LSH: exact dup shares all bands; candidates include near-dup") {
    val pairs = Dedup.minhashLshPairs(docs, n = 3, numHashes = 16, bands = 4).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("n_bands"))
      .toMap
    assert(pairs((0L, 4L)) == 4L) // identical docs agree on every band
    assert(pairs.contains((0L, 1L)))
  }

  test("persisted banded minhash table: candidate self-join is shuffle-free") {
    spark.sql("DROP TABLE IF EXISTS mh_banded")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = Dedup.minhashBandedTable(docs, n = 3, numHashes = 16, bands = 4)
      LayoutTestKit.writeBucketed(banded, "mh_banded", Seq("band", "bucket"), 8)
      val persisted = spark.table("mh_banded")
      // identical candidate pairs through the persisted table
      val want = Dedup.minhashLshPairs(docs, n = 3, numHashes = 16, bands = 4)
        .collect().map(_.toSeq).toSet
      val got = Dedup.minhashLshPairsFromBanded(persisted).collect().map(_.toSeq).toSet
      assert(got == want && got.nonEmpty)
      // the join itself plans with zero exchange off the bucketed layout
      val a = persisted.as("a")
      val b = persisted.as("b")
      val join = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      assert(join.count() > 0)
      assert(LayoutTestKit.isShuffleFree(join),
        "banded self-join should not shuffle:\n" + join.queryExecution.executedPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS mh_banded")
    }
  }

  test("simhash: identical docs hamming 0; near-dups close; pairs surfaced") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sig(0L) == sig(4L))
    val ham01 = java.lang.Long.bitCount(sig(0L) ^ sig(1L))
    assert(ham01 <= 16, s"near-dup hamming was $ham01")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 4L)))
    // maxHamming beyond the 4-band pigeonhole guarantee is rejected, not
    // silently under-delivered (a distance-4+ pair can miss every band)
    val e = intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 4))
    assert(e.getMessage.contains("banding"))
  }

  test("property: simhash pairs are EXACTLY the Hamming<=3 ground truth (pigeonhole)") {
    // seeded-random corpus (scalacheck bridge not in the offline cache):
    // bases + lightly-mutated variants + exact duplicates. Candidate
    // generation over 4 rotated 16-bit bands is LOSSLESS for Hamming<=3
    // (4 bands, <=3 differing bits: one band must be untouched), so the
    // operator's output must equal the brute-force signature comparison.
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(300)(i => s"w$i")
    val corpus = (0 until 20).flatMap { _ =>
      val base = Array.fill(24)(vocab(rnd.nextInt(vocab.length)))
      val mutated = base.clone()
      (0 to rnd.nextInt(2)).foreach(_ =>
        mutated(rnd.nextInt(mutated.length)) = vocab(rnd.nextInt(vocab.length)))
      Seq(base, mutated, base.clone()) // third is an exact dup: Hamming 0
    }
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val sig = Dedup.simhash(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val ids = sig.keys.toSeq.sorted
    val truth = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(df, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(truth.size >= 20, s"corpus must exercise the property (${truth.size} true pairs)")
    assert(got == truth)
  }

  test("property: minhash-LSH recall respects the 1-(1-j^r)^b bound") {
    // pairs with CONTROLLED shingle-Jaccard: variant shares a token prefix.
    // With r=4 rows/band, b=4 bands, a pair with Jaccard j is caught with
    // p = 1-(1-j^4)^4 — empirical recall on the high-j regime must sit
    // within sampling tolerance of the bound, and exact dups (j=1) must
    // ALWAYS be caught on all 4 bands.
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(500)(i => s"w$i")
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    def addPair(keep: Int): (Long, Long) = {
      val base = Array.fill(30)(vocab(rnd.nextInt(vocab.length)))
      val variant = base.take(keep) ++
        Array.fill(30 - keep)(vocab(rnd.nextInt(vocab.length)))
      docs += ((id, base.mkString(" "))); docs += ((id + 1, variant.mkString(" ")))
      id += 2; (id - 2, id - 1)
    }
    val hiPairs = (0 until 15).map(p => addPair(27 + p % 3))  // j in [0.81, 0.93]
    val dupPairs = (0 until 5).map(_ => addPair(30))          // j = 1
    (0 until 10).foreach(p => addPair(18 + p % 8))            // j in [0.4, 0.7] background
    val df = docs.toSeq.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(df, n = 3, minJaccard = 0.0).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val lsh = Dedup.minhashLshPairs(df, n = 3, numHashes = 16, bands = 4).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("n_bands"))
      .toMap
    def bound(j: Double) = 1 - math.pow(1 - math.pow(j, 4), 4)
    // planted high-j pairs measured against their MEASURED exact jaccard
    val hi = hiPairs.filter(p => exact.getOrElse(p, 0.0) >= 0.8)
    assert(hi.size >= 12, s"expected >=12 planted j>=0.8 pairs, got ${hi.size}")
    val recall = hi.count(lsh.contains).toDouble / hi.size
    assert(recall >= bound(0.8) - 0.15,
      f"recall $recall%.2f < bound ${bound(0.8)}%.2f - 0.15 over ${hi.size} pairs")
    // exact duplicates agree on every minimum, hence on every band — always
    dupPairs.foreach { p =>
      assert(exact(p) == 1.0)
      assert(lsh.get(p).contains(4L), s"exact dup $p must share all 4 bands")
    }
  }

  test("connected components: chains merge into one cluster, min-id label (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("id_a", "id_b")
    // driver union-find path (small graph) and distributed label
    // propagation (threshold 0) must agree exactly
    for (threshold <- Seq(1000000L, 0L)) {
      val out = Dedup.connectedComponents(pairs, driverThreshold = threshold).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L && out(4L) == 1L) // chain
      assert(out(10L) == 10L && out(11L) == 10L)
      assert(out(20L) == 20L && out(21L) == 20L)
      assert(out.size == 8)
    }
  }

  test("connected components: distributed star rounds handle giant components") {
    // giant path (worst diameter), giant star (worst skew), plus a random
    // graph — distributed path (threshold 0) vs in-test union-find oracle
    val rnd = new scala.util.Random(42)
    val path = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val star = (1L to 150L).map(i => (0L, i))
    val random = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    for (edges <- Seq(path, star, random)) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), driverThreshold = 0L)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      assert(got == expected, s"mismatch on ${edges.take(3)}…")
    }
  }

  test("dedupByClusters keeps one survivor (min id) per near-dup cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)
    val kept = Dedup.dedupByClusters(docs, pairs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // cluster {0,1,4} (near/exact dups) collapses to survivor 0
    assert(kept == Set(0L, 2L, 3L, 5L))
  }

  test("softDedupWeights: every cluster contributes exactly one document of mass") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)
    val w = Dedup.softDedupWeights(docs, pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("n_members"), r.getAs[Double]("weight")))
    // every corpus doc appears exactly once — soft dedup drops nothing
    assert(w.map(_._1).toSeq.sorted == docs.collect().map(_.getLong(0)).toSeq.sorted)
    // cluster {0,1,4} → weight 1/3 each; singletons keep weight 1 with
    // themselves as cluster
    val byId = w.map(t => t._1 -> t).toMap
    Seq(0L, 1L, 4L).foreach { id =>
      assert(byId(id)._3 == 3L && math.abs(byId(id)._4 - 1.0 / 3) < 1e-6) }
    Seq(2L, 3L, 5L).foreach { id =>
      assert(byId(id) == ((id, id, 1L, 1.0))) }
    // the defining invariant: per cluster, weights sum to ~1 (6dp grid)
    w.groupBy(_._2).foreach { case (c, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < rows.length * 1e-6,
        s"cluster $c mass ${rows.map(_._4).sum}")
    }
    // reweighting is partition-deterministic (the sampler contract)
    val re = Dedup.softDedupWeights(docs.repartition(7), pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(re.toSet == w.toSet)
  }

  test("dedupByClustersBest keeps the highest-scoring member per cluster") {
    // cluster {0,1,4}: doc 1 gets the top score, so it survives instead
    // of min id 0; unclustered docs always survive
    val scored = docs.withColumn("score",
      when(col("doc_id") === 1, 10.0).otherwise(col("doc_id").cast("double")))
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)
    val kept = Dedup.dedupByClustersBest(scored, pairs, "score").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
    // equal scores tie-break to min id — identical to dedupByClusters
    val keptFlat = Dedup.dedupByClustersBest(
        docs.withColumn("score", lit(1.0)), pairs, "score").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keptFlat == Set(0L, 2L, 3L, 5L))
  }

  test("ngram jaccard maxDf: hot shingles drop out of the candidate space") {
    // "the quick brown ..." shingles are shared by docs 0/1/4 (df=3);
    // cap df<=2 removes them, so 0-1 (which share ONLY hot shingles
    // plus low-df tails) loses candidates while 0-4 (identical, all
    // shingles at df 2 after the cap... ) — verify against hand math:
    val capped = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.01, maxDf = Some(2L))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val uncapped = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.01)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // shingles common to 0,1,4 have df=3 and vanish: pair (0,1) survived
    // only via those -> gone; (0,4) still shares its df-2 tail shingles
    assert(!capped.contains((0L, 1L)))
    assert(capped.contains((0L, 4L)))
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((0L, 4L)))
    assert(capped.subsetOf(uncapped))
  }

  test("bpeCount equals an independent reference BPE on fixtures and random text") {
    // independent (deliberately naive) reference: repeatedly merge every
    // occurrence of the lowest-rank adjacent pair until quiescent
    val rank = TextFunctions.BpeMerges.zipWithIndex.toMap
    def refWord(w: String): Long = {
      var parts = w.map(_.toString).toVector
      var go = true
      while (go && parts.size > 1) {
        val cands = parts.zip(parts.tail).flatMap(p => rank.get(p).map(r => (r, p)))
        if (cands.isEmpty) go = false
        else {
          val (_, (a, b)) = cands.minBy(_._1)
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < parts.size) {
            if (k < parts.size - 1 && parts(k) == a && parts(k + 1) == b) {
              out += (a + b); k += 2
            } else { out += parts(k); k += 1 }
          }
          parts = out.result()
        }
      }
      parts.size.toLong
    }
    def refText(text: String): Long =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).map(refWord).sum
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdefghinorst!,3 İß"
    val rndTexts = (0 until 60).map { i =>
      (100L + i, (0 until rnd.nextInt(12)).map(_ =>
        (0 to rnd.nextInt(10)).map(_ =>
          alphabet.charAt(rnd.nextInt(alphabet.length))).mkString).mkString(" "))
    }
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ rndTexts
    val got = all.toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.bpeCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    all.foreach { case (id, text) =>
      assert(got(id) == refText(text), s"doc $id: '${text.take(60)}'")
    }
    // merges only ever compress: count <= plain char-run token char total,
    // and the common-English fixture text must actually compress
    val doc0 = docs.filter(col("doc_id") === 0).head.getString(1)
    assert(got(0L) < doc0.count(_ != ' ')) // fewer segments than characters
  }

  test("bpeEncode: ids match the reference merge under the canonical vocab; size == count") {
    // the id an emitted segment must carry: base symbols a-z/0-9 = 0-35,
    // merge of rank r = 36 + r (the merges-only BPE id space)
    val rank = TextFunctions.BpeMerges.zipWithIndex.toMap
    val vocab: Map[String, Int] =
      (('a' to 'z').map(c => c.toString -> (c - 'a')) ++
        ('0' to '9').map(c => c.toString -> (26 + c - '0')) ++
        TextFunctions.BpeMerges.zipWithIndex.map { case ((a, b), i) =>
          (a + b) -> (36 + i) }).toMap
    def refWordIds(w: String): Seq[Int] = {
      var parts = w.map(_.toString).toVector
      var go = true
      while (go && parts.size > 1) {
        val cands = parts.zip(parts.tail).flatMap(p => rank.get(p).map(r => (r, p)))
        if (cands.isEmpty) go = false
        else {
          val (_, (a, b)) = cands.minBy(_._1)
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < parts.size) {
            if (k < parts.size - 1 && parts(k) == a && parts(k + 1) == b) {
              out += (a + b); k += 2
            } else { out += parts(k); k += 1 }
          }
          parts = out.result()
        }
      }
      parts.map(vocab)
    }
    def refIds(text: String): Seq[Int] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
        .flatMap(refWordIds).toSeq
    val rnd = new scala.util.Random(29)
    val alphabet = "abcdefghinorst!,3 İß"
    val rndTexts = (0 until 40).map { i =>
      (100L + i, (0 until rnd.nextInt(12)).map(_ =>
        (0 to rnd.nextInt(10)).map(_ =>
          alphabet.charAt(rnd.nextInt(alphabet.length))).mkString).mkString(" "))
    }
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ rndTexts
    val got = all.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextFunctions.bpeEncode(col("text")).as("ids"),
        TextFunctions.bpeCount(col("text")).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
    all.foreach { case (id, text) =>
      val (ids, n) = got(id)
      assert(ids == refIds(text), s"doc $id ids: '${text.take(60)}'")
      assert(ids.length.toLong == n, s"doc $id: size(ids) != bpeCount")
      assert(ids.forall(_ >= 0), s"doc $id: out-of-vocab id emitted")
    }
  }

  test("bigramLogProb: order-sensitive; deterministic transitions score exactly 0") {
    // a doc whose every context is deterministic (x is always followed by
    // y, y by x) has ln P = ln 1 = 0 for every pair — exact, hand-checked
    val lone = Seq((0L, "x y x y")).toDF("doc_id", "text")
    assert(Corpus.bigramLogProb(lone).head.getDouble(1) == 0.0)
    // same token MULTISET, different order: the cycle doc's transitions
    // repeat corpus-wide, the salad doc's are one-off — unigram logprob
    // ties them, bigram separates them (the order-sensitivity claim)
    val cycle = (0 until 6).map(_ => "alpha beta gamma delta").mkString(" ")
    val salad = "alpha alpha beta delta gamma beta delta alpha gamma " +
      "delta beta gamma alpha delta beta alpha gamma gamma beta delta " +
      "alpha beta gamma delta"
    val docs2 = Seq((0L, cycle), (1L, salad)).toDF("doc_id", "text")
    val uni = Corpus.unigramLogProb(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(uni(0L) == uni(1L), "unigram must tie equal multisets")
    val bi = Corpus.bigramLogProb(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bi(0L) > bi(1L),
      s"cycle ${bi(0L)} must beat salad ${bi(1L)}")
    // docs with < 2 tokens emit nothing
    assert(Corpus.bigramLogProb(Seq((9L, "solo")).toDF("doc_id", "text")).count() == 0)
  }

  test("trainBpeMerges: equals an independent reference; deterministic under repartition") {
    // independent (deliberately naive) reference: flat word-INSTANCE list
    // per doc — no histogram reduction — so the distributed word-count
    // collapse is itself under test
    def toks(t: String) =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector
    var words: Vector[Vector[String]] = docs.collect().map(_.getString(1))
      .toVector.flatMap(toks).map(_.map(_.toString).toVector)
    val want = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    for (_ <- 0 until 30 if !stop) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (w <- words if w.size > 1; j <- 0 until w.size - 1)
        counts.updateWith((w(j), w(j + 1)))(o => Some(o.getOrElse(0L) + 1))
      if (counts.isEmpty) stop = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        want += best
        words = words.map { w =>
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < w.size) {
            if (k < w.size - 1 && w(k) == best._1 && w(k + 1) == best._2) {
              out += (best._1 + best._2); k += 2
            } else { out += w(k); k += 1 }
          }
          out.result()
        }
      }
    }
    val got = TextFunctions.trainBpeMerges(docs, 30)
    assert(got == want.toSeq)
    // exact counts + lex tie-break ⇒ partitioning-independent
    assert(TextFunctions.trainBpeMerges(docs.repartition(7), 30) == got)
    // save → load round-trips; counting under the trained table plugs
    // into bpeCount and genuinely compresses the corpus it was trained on
    val f = java.nio.file.Files.createTempDirectory("trained").resolve("merges.txt")
    TextOracles.saveBpeMerges(got, f.toString)
    assert(TextFunctions.loadBpeMerges(f.toString) == got)
    val agg = docs.agg(
      sum(TextFunctions.bpeCount(col("text"), got)),
      sum(length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))).head()
    val (bpe, chars) = (agg.getLong(0), agg.getLong(1))
    assert(bpe < chars, s"trained merges failed to compress: $bpe vs $chars")
  }

  test("trainBpeMerges: maxWords TRUNCATES the histogram (pinned, documented)") {
    // histogram: "aa" ×3, "bb" ×1 — maxWords=1 keeps only "aa" by
    // (count desc, word), so bb's pairs never vote and training
    // exhausts after the single (a,a) merge; maxWords=2 sees both
    val d = Seq((0L, "aa aa aa bb")).toDF("doc_id", "text")
    assert(TextFunctions.trainBpeMerges(d, 5, maxWords = 1) == Seq(("a", "a")))
    assert(TextFunctions.trainBpeMerges(d, 5, maxWords = 2) ==
      Seq(("a", "a"), ("b", "b")))
    // the cap selects deterministically by (count desc, word): at equal
    // counts the lexicographically smaller word survives
    val tie = Seq((0L, "cc dd")).toDF("doc_id", "text")
    assert(TextFunctions.trainBpeMerges(tie, 5, maxWords = 1) == Seq(("c", "c")))
  }

  test("loadBpeMerges: GPT-2 format round-trips into bpeCount; malformed lines fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("merges")
    val f = dir.resolve("merges.txt")
    // GPT-2 shape: #version header, rank = line order, blank line skipped
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "#version: 0.2", "t h", "th e", "", "i n", "in g"))
    val merges = TextFunctions.loadBpeMerges(f.toString)
    assert(merges == Seq(("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")))
    // counts under the loaded table: "the" merges t+h then th+e → 1 token;
    // "thing" → th,i,n,g → th,in,g → th,ing → 2; "ox" has no merges → 2
    val got = Seq((0L, "the thing ox")).toDF("doc_id", "text")
      .select(TextFunctions.bpeCount(col("text"), merges)).head.getLong(0)
    assert(got == 1L + 2L + 2L)
    val bad = dir.resolve("bad.txt")
    java.nio.file.Files.write(bad, java.util.Arrays.asList("t h", "three part line"))
    val e = intercept[IllegalArgumentException] {
      TextFunctions.loadBpeMerges(bad.toString)
    }
    assert(e.getMessage.contains("bad.txt:2"))
  }

  test("language id: stopword heuristic + CJK class") {
    val out = docs.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en" && out(2L) == "de" && out(5L) == "zh")
    assert(out(3L) == "und") // no stopwords at all
  }

  test("quality columns: ratios bounded, token counts exact") {
    val q = docs.filter(col("doc_id") === 0)
      .select(TextFunctions.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .head()
    assert(q.getAs[Long]("n_tokens") == 9L)
    assert(q.getAs[Double]("punct_ratio") == 0.0)
    assert(q.getAs[Double]("mean_token_len") > 3.0)
  }

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val nearDup = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.05f else v }
    val others = (2 until 40).map(i => i.toLong -> Array.fill(16)(rnd.nextFloat() * 2 - 1))
    ((0L -> base) +: (1L -> nearDup) +: others).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k: self first, planted near-dup second") {
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val top = Similarity.topK(vecs, q, k = 3).collect()
    assert(top(0).getAs[Long]("vec_id") == 0L && top(0).getAs[Double]("cos") == 1.0)
    assert(top(1).getAs[Long]("vec_id") == 1L && top(1).getAs[Double]("cos") > 0.99)
  }

  test("LSH index top-k finds the planted near-dup; near-dup pairs too") {
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val idx = Similarity.buildLshIndex(vecs, dim = 16)
    val ids = Similarity.topKLsh(idx, q, k = 3).collect().map(_.getAs[Long]("vec_id"))
    assert(ids.take(2).toSet == Set(0L, 1L)) // planted pair always shares buckets
    val nd = Similarity.nearDupPairs(vecs, dim = 16, minCosine = 0.99).collect()
    assert(nd.exists(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L))
    // multi-probe widens the candidate set (never narrows it): at least as
    // many results, and identical exact scores where ids overlap
    val r0 = Similarity.topKLsh(idx, q, k = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    val r1 = Similarity.topKLsh(idx, q, k = 10, probeRadius = 1).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    assert(r1.size >= r0.size)
    val shared = r0.keySet.intersect(r1.keySet)
    assert(shared.nonEmpty && shared.forall(id => r0(id) == r1(id)))
  }

  test("IVF index: full probe equals exact topK; persisted probes prune cells") {
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val idx = SimilarityOracles.buildIvfIndex(vecs, nCells = 4, iters = 2)
    // probing EVERY cell must degrade exactly to brute force
    val full = Similarity.topKIvf(idx, q, k = 5, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    val exact = Similarity.topK(vecs, q, k = 5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(full == exact)
    // the planted near-dup shares the query's cell: one probe finds it
    val one = Similarity.topKIvf(idx, q, k = 3, nProbe = 1).collect()
      .map(_.getAs[Long]("vec_id"))
    assert(one.take(2).toSet == Set(0L, 1L))
    // persisted index: model restored from cell means, probe prunes partitions
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    Similarity.writeIvfIndex(idx, dir)
    val restored = Similarity.readIvfIndex(spark, dir)
    // exact model round-trip: the TRAINED centroids come back, not means
    assert(restored.centroids.sortBy(_._1).map(_._2.toSeq).toSeq ==
      idx.centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val probe = Similarity.topKIvf(restored, q, k = 3, nProbe = 1)
    assert(probe.collect().map(_.getAs[Long]("vec_id")).take(2).toSet == Set(0L, 1L))
    val sc = SparkTestBase.fileScans(probe)
    assert(sc.nonEmpty && sc.forall(_.partitionFilters.nonEmpty),
      "IVF probe must prune cell partitions")
  }

  test("sample-trained IVF: full probe stays exact; nProbe recall near full-trained") {
    // clustered corpus (8 anchor directions, 25 vectors each): centroids
    // estimated from a 40% deterministic hash sample should serve nProbe
    // probes about as well as full-corpus training
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val many = (0 until 200).map { i =>
      val a = anchors(i % 8)
      (i.toLong, a.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }.toDF("vec_id", "embedding")
    val full = SimilarityOracles.buildIvfIndex(many, nCells = 8, iters = 2)
    val sampled = SimilarityOracles.buildIvfIndex(many, nCells = 8, iters = 2, trainPct = 40)
    // full probe degrades exactly to brute force REGARDLESS of which
    // vectors trained the centroids — the invariant the oracle leans on
    val q0 = many.filter(col("vec_id") === 0).head.getSeq[Float](1)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pairs(Similarity.topKIvf(sampled, q0, k = 5, nProbe = 8)) ==
      pairs(Similarity.topK(many, q0, k = 5)))
    def recall(idx: Similarity.IvfIndex): Double = {
      val qids = Seq(0L, 3L, 7L, 10L)
      qids.map { qid =>
        val q = many.filter(col("vec_id") === qid).head.getSeq[Float](1)
        val exact = Similarity.topK(many, q, k = 10).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        val ann = Similarity.topKIvf(idx, q, k = 10, nProbe = 4).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        exact.intersect(ann).size.toDouble / 10
      }.sum / qids.size
    }
    val (rf, rs) = (recall(full), recall(sampled))
    assert(rs >= rf - 0.2, s"sample-trained recall $rs too far below full-trained $rf")
  }

  test("k-NN join: per-query top-k equals per-vector topK; LSH variant finds planted pair") {
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val joined = Similarity.topKJoin(vecs, queries, k = 3).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(joined.keySet == Set(0L, 1L))
    // batch answer == single-query answer, query by query
    for (qid <- Seq(0L, 1L)) {
      val qv = vecs.filter(col("vec_id") === qid).head.getSeq[Float](1)
      val single = Similarity.topK(vecs, qv, k = 3).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
      val batch = joined(qid).sortBy(r => (-r.getAs[Double]("cos"), r.getAs[Long]("vec_id")))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
      assert(batch == single, s"q=$qid")
    }
    // ANN variant: each query's self + the planted near-dup both surface
    val idx = Similarity.buildLshIndex(vecs, dim = 16)
    val ann = Similarity.topKJoinLsh(idx, queries, dim = 16, k = 3).collect()
      .groupBy(_.getAs[Long]("q_id"))
    for (qid <- Seq(0L, 1L)) {
      val ids = ann(qid).map(_.getAs[Long]("vec_id")).toSet
      assert(Set(0L, 1L).subsetOf(ids), s"q=$qid got $ids")
    }
  }

  test("k-NN join: null-cos corpus rows are never elected over real neighbors") {
    // A corpus row with a null embedding element null-propagates through
    // the dot/norm kernels to a null cos. struct_topk orders null key
    // fields FIRST ascending, so without the pre-heap null filter that
    // row would displace every genuine neighbor — the opposite of the
    // replaced rank-window election and of the SQL oracles (nulls last).
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val good = (0L to 4L).map { i =>
      Row(i, Seq.tabulate(4)(d =>
        java.lang.Float.valueOf(if (d == (i % 4).toInt) 1f else 0.25f)))
    }
    val poisoned = Row(9L, Seq[java.lang.Float](1f, null, 0.25f, 0.25f))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(good :+ poisoned), schema)
    val queries = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding"))
    // k exceeds the scoreable corpus: every REAL row must return, the
    // null-cos row must not, and no emitted cos may be null
    val got = Similarity.topKJoin(corpus, queries, k = 6).collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 1L, 2L, 3L, 4L))
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("cos"))))
    // and with k smaller than the real candidate pool, the top slot is
    // the self-match, not the null row
    val top = Similarity.topKJoin(corpus, queries, k = 1).collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L))
  }

  test("IVF k-NN join: full probe equals exact topKJoin; one probe finds planted pair") {
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val idx = SimilarityOracles.buildIvfIndex(vecs, nCells = 4, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    // probing every cell must equal the brute-force batch join exactly
    assert(rows(Similarity.topKJoinIvf(idx, queries, k = 3, nProbe = 4)) ==
      rows(Similarity.topKJoin(vecs, queries, k = 3)))
    // the planted near-dup shares each query's own cell: nProbe=1 finds it
    val one = Similarity.topKJoinIvf(idx, queries, k = 3, nProbe = 1).collect()
      .groupBy(_.getAs[Long]("q_id"))
    for (qid <- Seq(0L, 1L))
      assert(Set(0L, 1L).subsetOf(one(qid).map(_.getAs[Long]("vec_id")).toSet), s"q=$qid")
  }

  test("IVF incremental assignment: increment rows land in their build-time cells") {
    val idx = SimilarityOracles.buildIvfIndex(vecs, nCells = 4, iters = 2)
    // "increment" = a slice of the corpus assigned AFTER the fact: its
    // cells must equal what the full build assigned those same rows
    val inc = vecs.filter(col("vec_id") >= 30)
    val assigned = Similarity.assignToCells(idx, inc).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val atBuild = idx.assignments.filter(col("vec_id") >= 30).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(assigned == atBuild)
    // grown index (original + increment of genuinely new vectors) serves
    // probes over the union of assignments
    val fresh = Seq((100L, vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val grown = Similarity.IvfIndex(
      idx.assignments.unionByName(Similarity.assignToCells(idx, fresh)), idx.centroids)
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val top = Similarity.topKIvf(grown, q, k = 3, nProbe = 1).collect()
      .map(_.getAs[Long]("vec_id"))
    assert(top.take(2).toSet.subsetOf(Set(0L, 100L))) // clone found in the grown index
  }

  test("persisted LSH index: probes prune to probed (table,bucket) partitions") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString + "/idx"
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val idx = Similarity.buildLshIndex(vecs, dim = 16)
    Similarity.writeLshIndex(idx, dir)
    val persisted = Similarity.readLshIndex(spark, dir)
    // same answer through the persisted index as through the in-memory one
    val wantIds = Similarity.topKLsh(idx, q, k = 3).collect().map(_.getAs[Long]("vec_id")).toSeq
    val probe = Similarity.topKLsh(persisted, q, k = 3)
    assert(probe.collect().map(_.getAs[Long]("vec_id")).toSeq == wantIds)
    // near-dup verification runs off the same persisted index
    val nd = Similarity.nearDupPairsFromIndex(persisted, minCosine = 0.99).collect()
    assert(nd.exists(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L))
    // plan: the probe becomes PARTITION filters (pruned at planning), and the
    // scan reads at most `tables` bucket directories, not the whole index
    val sc = SparkTestBase.fileScans(probe)
    assert(sc.nonEmpty)
    sc.foreach { s =>
      assert(s.partitionFilters.nonEmpty, "probe predicate must prune partitions")
      assert(s.metrics("numFiles").value <= 8,
        s"probe must read only probed buckets, read ${s.metrics("numFiles").value} files")
    }
  }

  test("partitioned index write: session conf untouched, one data file per partition dir") {
    // The write path must not depend on session-global conf: the r10 shape
    // save/set/restored spark.sql.adaptive.coalescePartitions.enabled, which
    // raced under buildAll's concurrent writers and could leak 'false' into
    // the whole session. Now it repartitions with an explicit count
    // (REPARTITION_BY_NUM — exempt from AQE coalescing) hashed on the layout
    // columns, so each partition directory still gets exactly one writer.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    val dir = java.nio.file.Files.createTempDirectory("lsh_conf").toString + "/idx"
    Similarity.writeLshIndex(Similarity.buildLshIndex(vecs, dim = 16), dir)
    assert(spark.conf.getOption(key) == before, "write must not mutate session conf")
    // one data file per (table, bucket) directory — the commit-protocol
    // invariant the repartition-by-columns exists for
    val root = new java.io.File(dir)
    def leafDirs(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val subs = f.listFiles.filter(_.isDirectory)
        if (subs.isEmpty) Seq(f) else subs.toSeq.flatMap(leafDirs)
      } else Nil
    val leaves = leafDirs(root).filter(_.getPath.contains("bucket="))
    assert(leaves.nonEmpty)
    leaves.foreach { d =>
      val dataFiles = d.listFiles.filter(f => f.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1,
        s"${d.getPath}: expected 1 data file, found ${dataFiles.length}")
    }
  }

  test("maxBucket: degenerate banded bucket capped; pair survives via remaining bands") {
    // one boilerplate bucket of 100 docs would emit 4950 candidate pairs;
    // docs 1 and 2 also meet in a small band-1 bucket, so capping the hot
    // bucket must keep exactly that pair (found via its remaining band)
    val hot = (0L until 100L).map(i => (i, 0, 999L))
    val good = Seq((1L, 1, 7L), (2L, 1, 7L))
    val banded = (hot ++ good).toDF("doc_id", "band", "bucket")
    assert(Dedup.minhashLshPairsFromBanded(banded).count() == 100L * 99 / 2)
    val capped = Dedup.minhashLshPairsFromBanded(banded, maxBucket = Some(10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == Seq((1L, 2L, 1L)))
  }

  test("cap valves are skew-proof: no window buffers the degenerate partition") {
    // The guard exists FOR the degenerate bucket — so the guard itself must
    // never funnel that bucket into one task. Skew-proof shape: grouped
    // occupancy count (map-side combined) + broadcast anti-join of the
    // over-cap keys. Assert the executed plans carry no Window node and
    // that the anti-join is a broadcast build.
    val hot = (0L until 100L).map(i => (i, 0, 999L))
    val banded = (hot ++ Seq((1L, 1, 7L), (2L, 1, 7L))).toDF("doc_id", "band", "bucket")
    val capped = Dedup.minhashLshPairsFromBanded(banded, maxBucket = Some(10L))
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val nodes = SparkTestBase.planNodeNames(capped)
    assert(!nodes.exists(_.contains("Window")), s"occupancy valve planned a window: $nodes")
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"over-cap key list must broadcast into the anti-join: $nodes")
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.01, maxDf = Some(2L))
    jac.collect()
    val jNodes = SparkTestBase.planNodeNames(jac)
    assert(!jNodes.exists(_.contains("Window")), s"df valve planned a window: $jNodes")
    assert(jNodes.exists(_.contains("BroadcastHashJoin")))
  }

  test("maxBucket: simhash boilerplate clones capped; genuine pair survives") {
    // 50 identical boilerplate docs share every band (C(50,2)=1225 pairs);
    // the planted pair (1,2) is identical too but sits in its own small
    // buckets — the cap drops the clone blowup, keeps the real pair
    val clones = (100L until 150L).map(i =>
      (i, "boilerplate navigation header terms conditions copyright footer"))
    val pair = Seq(
      (1L, "ein kurzer deutscher text ueber etwas anderes ganz eigenes"),
      (2L, "ein kurzer deutscher text ueber etwas anderes ganz eigenes"))
    val df = (clones ++ pair).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(df, maxHamming = 3).count() == 50L * 49 / 2 + 1)
    val capped = Dedup.simhashPairs(df, maxHamming = 3, maxBucket = Some(10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("maxBucket: hot embedding bucket capped in the near-dup index join") {
    // a mass of identical embeddings in one (table,bucket) — the LSH analog
    // of boilerplate text; the cap bounds candidates, the small bucket's
    // genuine pair survives
    val hot = (0 until 50).map(i => (i.toLong, Seq(1.0f, 0.0f), 0, 0L))
    val ok = Seq((100L, Seq(0.0f, 1.0f), 1, 5L), (101L, Seq(0.0f, 0.5f), 1, 5L))
    val idx = (hot ++ ok).toDF("vec_id", "embedding", "table", "bucket")
      .withColumn("nrm", Similarity.norm(col("embedding"))) // as buildLshIndex persists it
    assert(Similarity.nearDupPairsFromIndex(idx, minCosine = 0.9).count() == 50L * 49 / 2 + 1)
    val capped = Similarity
      .nearDupPairsFromIndex(idx, minCosine = 0.9, maxBucket = Some(10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("paragraph registry persisted bucketed: the incremental anti-join reads it in place") {
    spark.sql("DROP TABLE IF EXISTS para_registry")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val all = Fixtures.paraDocs(spark)
      LayoutTestKit.writeBucketed(Dedup.paragraphRegistry(all.filter(col("doc_id") < 5)),
        "para_registry", Seq("ph"), 8)
      val inc = Dedup.dedupParagraphsIncremental(
        all.filter(col("doc_id") >= 5), spark.table("para_registry"))
      assert(inc.count() > 0)
      // the registry (corpus-sized at scale) enters the anti-join from its
      // bucketed layout; only the increment shuffles
      assert(LayoutTestKit.joinSideShuffleFree(inc, "para_registry"),
        "registry side must not re-shuffle:\n" + inc.queryExecution.executedPlan)
      // checker sanity: an UNBUCKETED registry must fail the assertion
      // (its scan reaches the anti-join through an inserted exchange)
      spark.sql("DROP TABLE IF EXISTS para_registry_flat")
      Dedup.paragraphRegistry(all.filter(col("doc_id") < 5))
        .write.saveAsTable("para_registry_flat")
      val flat = Dedup.dedupParagraphsIncremental(
        all.filter(col("doc_id") >= 5), spark.table("para_registry_flat"))
      flat.count()
      assert(!LayoutTestKit.joinSideShuffleFree(flat, "para_registry_flat"),
        "checker failed to flag a shuffled registry side")
      spark.sql("DROP TABLE IF EXISTS para_registry_flat")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS para_registry")
    }
  }

  test("IVF metric consistency: high-norm cosine neighbor found at nProbe=1") {
    // Cells are assigned in the UNIT space. Under raw-vector (euclidean)
    // training, v = (3,1) minimizes ||c||² − 2v·c at the tiny-norm cluster
    // (≈ −1) over the huge-norm one (≈ 9400), while the PARALLEL query
    // q = 100·v flips sign on the same formula (≈ −50000 vs −19) and probes
    // the huge-norm cell — a guaranteed top-1 miss at nProbe=1. Normalized,
    // v and q share a direction, so v's cell IS q's first probe.
    val a = (0 until 20).map(i => (i.toLong, Seq(100.0f, 0.2f * i)))
    val b = (20 until 40).map(i => (i.toLong, Seq(0.01f * (i - 20), 1.0f)))
    val emb = (a ++ b :+ (99L, Seq(3.0f, 1.0f))).toDF("vec_id", "embedding")
    val idx = SimilarityOracles.buildIvfIndex(emb, nCells = 4, iters = 2)
    val q = Seq(300.0f, 100.0f) // parallel to v, 100× the norm
    val top = Similarity.topKIvf(idx, q, k = 1, nProbe = 1).collect()
    assert(top.head.getLong(0) == 99L, s"nProbe=1 must find the parallel vector, got ${top.toSeq}")
    assert(top.head.getAs[Double]("cos") >= 0.999999)
    // full probe still degrades exactly to brute force on this corpus
    val full = Similarity.topKIvf(idx, q, k = 5, nProbe = 4).collect().map(_.toSeq).toSeq
    val exact = Similarity.topK(emb, q, k = 5).collect().map(_.toSeq).toSeq
    assert(full == exact)
    // norms persisted with the assignments (no per-candidate recompute)
    assert(idx.assignments.columns.contains("nrm"))
  }

  test("topKLshAll: probe-all through the index equals brute force; norms persisted") {
    val q = vecs.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val idx = Similarity.buildLshIndex(vecs, dim = 16)
    assert(idx.columns.contains("nrm"))
    val all = Similarity.topKLshAll(idx, q, k = 5).collect().map(_.toSeq).toSeq
    val exact = Similarity.topK(vecs, q, k = 5).collect().map(_.toSeq).toSeq
    assert(all == exact)
  }

  test("connectedComponents with a reliable checkpoint dir: same labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    // distributed path (threshold 0) forced so the checkpoints actually run
    val got = Dedup.connectedComponents(pairs, driverThreshold = 0L,
        checkpointDir = Some(dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the reliable checkpoints landed in the directory (not executor-local)
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), s"no checkpoint data under $dir")
  }

  test("multimodal: stub decode is deterministic; metadata-only stats prune payload") {
    implicit val s = spark
    val media = Fixtures.media(spark)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.checksum).toSeq == f2.map(_.checksum).toSeq)
    assert(f1.forall(f => f.thumb_w <= 64 && f.thumb_h <= 64 && f.feature.length == 24))
    // frames_sampled counts frames actually entropy-decoded: >=1 on the
    // avi-mjpeg and stub paths, honestly 0 on the container-walk-only
    // mp4-meta/mkv-meta paths
    val walkOnly = Set("mp4-meta", "mkv-meta")
    assert(f1.filter(f => f.kind == "video" && !walkOnly(f.decoder))
      .forall(_.frames_sampled >= 1))
    assert(f1.filter(f => f.kind != "video" || walkOnly(f.decoder))
      .forall(_.frames_sampled == 0))
    // REAL decode paths: fixture images are valid BMPs, PNGs, or JPEGs,
    // audio valid WAVs
    val imgDecoders = f1.filter(_.kind == "image").map(_.decoder).toSet
    assert(imgDecoders == Set("bmp", "png", "jpeg", "jpeg-progressive"),
      s"got $imgDecoders")
    // audio splits between PCM WAV decode and the MP3 side-info envelope
    val audDecoders = f1.filter(_.kind == "audio").map(_.decoder).toSet
    assert(audDecoders == Set("wav", "mp3-sideinfo"), s"got $audDecoders")
    // video splits between REAL MJPEG-AVI decode, the MP4/Matroska
    // container walks, and the codec-bound stub
    val vidDecoders = f1.filter(_.kind == "video").map(_.decoder).toSet
    assert(vidDecoders == Set("avi-mjpeg", "mp4-meta", "mkv-meta", "stub"),
      s"got $vidDecoders")
    // the avi path reports the REAL number of frames it entropy-decoded
    f1.filter(_.decoder == "avi-mjpeg").foreach { f =>
      assert(f.frames_sampled >= 2 && f.frames_sampled <= 8,
        s"media ${f.media_id}: frames_sampled ${f.frames_sampled}")
      // MJPEG frames carry the same upward-brightening gradient content
      val top = f.feature.take(4).sum / 4
      val bottom = f.feature.slice(12, 16).sum / 4
      assert(top > bottom, s"media ${f.media_id}: top $top !> bottom $bottom")
    }
    // grid-luminance features are genuine content: bounded, non-flat,
    // and brighter at the image top (the fixture's G channel grows upward)
    f1.filter(f => Set("bmp", "png", "jpeg")(f.decoder)).foreach { f =>
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
      val top = f.feature.take(4).sum / 4
      val bottom = f.feature.slice(12, 16).sum / 4
      assert(top > bottom, s"media ${f.media_id}: top $top !> bottom $bottom")
    }
    // WAV RMS envelope follows the fixture's decaying amplitude; the
    // audio feature is 16-dim, zero-padded into the 24-dim schema
    f1.filter(_.decoder == "wav").foreach { f =>
      assert(f.feature.head > f.feature(15),
        s"media ${f.media_id}: envelope ${f.feature.toSeq}")
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
      assert(f.feature.drop(16).forall(_ == 0f))
    }
    // a corrupt payload of a decodable kind falls back to the stub
    import spark.implicits._
    val broken = Seq((999L, "image", Array[Byte](1, 2, 3), 8, 8, 0, "d"))
      .toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "doc_ref")
    assert(Multimodal.extractFeatures(broken).collect().head.decoder == "stub")
    // stats refuses a frame without the persisted byte-size metadata …
    val e = intercept[IllegalArgumentException](Multimodal.stats(media))
    assert(e.getMessage.contains("n_bytes"))
    // … and with it, total_bytes matches the actual payload sizes
    val st = Multimodal.stats(Multimodal.withByteStats(media)).collect()
    assert(st.map(_.getAs[String]("kind")).toSet == Set("image", "audio", "video"))
    val wantTotal = media.collect().map(_.getAs[Array[Byte]]("payload").length.toLong).sum
    assert(st.map(_.getAs[Long]("total_bytes")).sum == wantTotal)
  }

  test("clustered SemDeDup: drops exactly the vectors with a smaller-id cluster-mate above tau") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 4)
    val out = Similarity.semanticDedupClustered(e, seeds, minCosine = 0.45)
    val kept = out.collect().map(_.getAs[Long]("vec_id")).toSet
    // independent formulation: brute-force pairs restricted to equal cells
    val cells = Similarity.kmeansAssign(e, seeds).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val dropped = Similarity.nearDupPairsExact(e, 0.45).collect()
      .filter(r => cells(r.getAs[Long]("id_a")) == cells(r.getAs[Long]("id_b")))
      .map(_.getAs[Long]("id_b")).toSet
    assert(kept == cells.keySet -- dropped)
    assert(dropped.nonEmpty, "fixture must exercise the drop path")
    // the emitted cell is the kmeans assignment
    out.collect().foreach(r =>
      assert(r.getAs[Int]("cell") == cells(r.getAs[Long]("vec_id"))))
    // hot-cell valve: cap below any cell's occupancy -> nothing pairs, all survive
    val capped = Similarity.semanticDedupClustered(e, seeds, 0.45, maxCell = Some(0L))
    assert(capped.count() == e.count())
  }

  test("incremental SemDeDup: registry + batch probe == fused dedup restricted to the batch") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 4)
    val path = java.nio.file.Files.createTempDirectory("sem_reg").toString + "/reg"
    Similarity.writeSemanticRegistry(e.filter(col("vec_id") < 60), seeds, path)
    val inc = Similarity.semanticDedupIncrement(
      e.filter(col("vec_id") >= 60), seeds, path, minCosine = 0.45)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toSet
    val fused = Similarity.semanticDedupClustered(e, seeds, minCosine = 0.45)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toSet
      .filter(_._1 >= 60)
    assert(inc == fused, s"inc ${inc.size} vs fused-batch ${fused.size}")
    assert(inc.nonEmpty && inc.size < e.filter(col("vec_id") >= 60).count(),
      "fixture must exercise both keep and drop paths")
    // a second, later batch probes the same registry without rescanning old vectors
    val scans = SparkTestBase.fileScans(Similarity.semanticDedupIncrement(
      e.filter(col("vec_id") >= 60), seeds, path, 0.45))
    assert(scans.exists(_.relation.location.rootPaths.exists(_.toString.contains("sem_reg"))),
      "increment must serve the old side from the registry")
    // the registry scan is PARTITION-PRUNED to the batch's touched cells:
    // a one-vector batch touches one cell, so the registry scan must read
    // at most one cell partition (not all of them)
    val one = e.filter(col("vec_id") === 60)
    val oneScan = SparkTestBase.fileScans(
        Similarity.semanticDedupIncrement(one, seeds, path, 0.45))
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("sem_reg")))
    assert(oneScan.nonEmpty)
    oneScan.foreach { s =>
      assert(s.partitionFilters.nonEmpty, "registry scan must carry a cell filter")
      assert(s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .map(_.files.size).sum <= 1,
        "one-cell batch must prune the registry to at most one cell partition")
    }
    // id-domain contract: a negative batch id fails fast instead of
    // silently vanishing into registry rank
    val bad = one.withColumn("vec_id", lit(-5L))
    val err = intercept[Exception](
      Similarity.semanticDedupIncrement(bad, seeds, path, 0.45).collect())
    assert(err.getMessage != null)
  }

  test("temperature mixture: alpha=1 is the natural mix, alpha<1 lifts the small source") {
    val docs = Seq.tabulate(40)(i => (i.toLong, if (i < 36) "big" else "small", 100L))
      .toDF("doc_id", "source", "n_chars")
    def w(alpha: Double): Map[String, (Double, Double)] =
      Corpus.temperatureWeights(docs, alpha).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Double]("p_raw"), r.getAs[Double]("weight")))).toMap
    val nat = w(1.0)
    assert(nat("big")._1 == 0.9 && nat("small")._1 == 0.1)
    assert(nat.values.forall { case (p, wt) => math.abs(p - wt) < 1e-6 })
    val cooled = w(0.3)
    assert(cooled("small")._2 > 0.1 && cooled("big")._2 < 0.9)
    assert(math.abs(cooled.values.map(_._2).sum - 1.0) < 1e-5)
    assert(cooled("big")._2 > cooled("small")._2, "order still follows mass")
    // weights come from ONE corpus aggregation: the plan has no second scan
    val scans = SparkTestBase.fileScans(
      Corpus.temperatureWeights(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 0.3))
    assert(scans.size <= 1)
  }

  test("gopher gate: each rule trips on its designed violator") {
    val good = (("good", ("the fox and the hound went to the market of smalltown " +
      "and that day they have come with friends to be merry ") * 3))
    val rows = Seq(
      good, // passes every rule
      ("short", "the cat and dog have fun with that being plenty of words to be"),
      ("symbols", ("the story # continues ... " * 20) + good._2),
      ("bullets", (1 to 60).map(i => s"- item $i of the list").mkString("\n") +
        "\nthe end of that have with"),
      ("ellipsis", (1 to 40).map(i => s"the line $i trails off ...").mkString("\n") + "\n" + good._2.take(120)),
      ("numeric", ("12345 67890 " * 40) + "the of and that have with to be"),
      ("nostop", "verdant zeppelin quixotic marmalade " * 30))
      .toDF("name", "text")
    val cols = TextFunctions.gopherColumns(col("text")).map { case (n, c) => c.as(n) }
    val out = rows.select(col("name") +: cols: _*).collect()
      .map(r => r.getAs[String]("name") -> r).toMap
    assert(out("good").getAs[Boolean]("keep"),
      s"good doc must pass: ${out("good")}")
    assert(out("short").getAs[Long]("n_words") < 50 && !out("short").getAs[Boolean]("keep"))
    assert(out("symbols").getAs[Double]("symbol_ratio") >= 0.1 && !out("symbols").getAs[Boolean]("keep"))
    assert(out("bullets").getAs[Double]("bullet_ratio") >= 0.9 && !out("bullets").getAs[Boolean]("keep"))
    assert(out("ellipsis").getAs[Double]("ellipsis_ratio") >= 0.3 && !out("ellipsis").getAs[Boolean]("keep"))
    assert(out("numeric").getAs[Double]("alpha_ratio") <= 0.8 && !out("numeric").getAs[Boolean]("keep"))
    assert(out("nostop").getAs[Long]("stop_hits") < 2 && !out("nostop").getAs[Boolean]("keep"))
  }

  test("int8 top-k: high recall against the full-precision list") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val full = Similarity.topK(e, q, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val int8 = Similarity.topKInt8(e, q, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (full & int8).size
    assert(recall >= 8, s"int8 recall@10 = $recall (full $full, int8 $int8)")
    // the native VectorKernels.int8DequantCos kernel is BIT-identical to the
    // interpreted HOF formulation it replaced — ids AND quantized scores
    // (the HOF form is the retained spec oracle, mirroring the SQL oracle)
    val nat = Similarity.topKInt8(e, q, 500).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    val hof = SimilarityOracles.topKInt8Hof(e, q, 500).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(nat == hof, "native int8 cosine diverges from the HOF oracle")
  }

  test("int8 top-k: degenerate vectors score NULL and rank last, never NaN-first") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val degenerate = Seq(
      (1000001L, Array.fill(64)(0f), 0),   // zero-norm: HOF aborts (ANSI), kernel → NULL
      (1000002L, Array.fill(32)(0.5f), 0)) // dim mismatch: HOF → NULL, kernel → NULL
      .toDF("vec_id", "embedding", "label")
    // the kernel returns SQL NULL for both (NaN would sort FIRST under
    // desc and displace a real neighbor from rank 1)
    val scores = degenerate.select(col("vec_id"),
      graft.plans.VectorExpressions.int8DequantCos(
        col("embedding"), q.map(_.toDouble)).as("cos")).collect()
    assert(scores.forall(_.isNullAt(1)), s"expected NULL scores: ${scores.mkString(",")}")
    // and a served top-k over a poisoned corpus never admits them
    val top = Similarity.topKInt8(e.unionByName(degenerate), q, 10).collect()
    assert(top.forall(r => r.getAs[Long]("vec_id") < 1000001L),
      s"degenerate vector entered the top-k: ${top.mkString(",")}")
    assert(top.forall(r => !r.isNullAt(1) && !r.getAs[Double]("cos").isNaN))
  }

  test("int8 quantization: reconstruction within scale/2, codes bounded, zero vector safe") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .union(Seq((9999L, Array.fill(64)(0f), 0)).toDF("vec_id", "embedding", "label"))
    val q = Similarity.quantizeInt8(e).collect()
    val vecs = e.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    assert(q.length == vecs.valuesIterator.map(_.length).sum)
    q.foreach { r =>
      val (id, scale, dim, code) = (r.getAs[Long]("vec_id"), r.getAs[Double]("scale"),
        r.getAs[Int]("dim"), r.getAs[Long]("code"))
      assert(math.abs(code) <= 127)
      val v = vecs(id)(dim).toDouble
      if (id == 9999L) assert(code == 0L && scale == 0d)
      // half-up rounding + 6dp scale quantization + clamp: |v - c·s| ≤ s/2 + dim·ulp slack
      else assert(math.abs(v - code * scale) <= scale / 2 + 1e-6,
        s"vec $id dim $dim: v=$v code=$code scale=$scale")
    }
  }

  test("multimodal: PNG decode recovers planted pixels; corrupt headers degrade, never throw") {
    import graft.operators.Multimodal
    // the PNG fixture plants the SAME pixel gradient as the BMP fixture
    // (and cycles all five row filters), so the two real decoders must
    // produce byte-for-byte identical features from the same content
    for ((w, h, seed) <- Seq((32, 48, 3), (48, 32, 7), (33, 17, 11))) {
      val Some(("png", pw, ph, pf)) = Multimodal.decodeImage(Fixtures.pngBytes(w, h, seed))
      val Some(("bmp", bw, bh, bf)) = Multimodal.decodeImage(Fixtures.bmpBytes(w, h, seed))
      assert((pw, ph) == (w, h) && (bw, bh) == (w, h))
      assert(pf.toSeq == bf.toSeq, s"png/bmp features diverge at ${(w, h, seed)}")
      // planted gradient: G grows toward the top row (luma rows 0 vs 3)
      assert(pf.take(4).sum > pf.slice(12, 16).sum)
    }
    // RGBA (color type 6) decodes too, alpha ignored by the luma grid
    val Some((_, _, _, fa)) = Multimodal.decodeImage(Fixtures.pngBytes(16, 16, 2, alpha = true))
    val Some((_, _, _, f3)) = Multimodal.decodeImage(Fixtures.pngBytes(16, 16, 2))
    assert(fa.toSeq == f3.toSeq)
    // ADVICE r11 regressions — untrusted header ints must return None, not throw:
    val bmp = Fixtures.bmpBytes(8, 8, 0)
    def withLe32(src: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val b = src.clone()
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
      b
    }
    assert(Multimodal.decodeImage(withLe32(bmp, 10, -2000)).isEmpty)        // negative pixOff
    assert(Multimodal.decodeImage(withLe32(bmp, 18, 0x2AAAAAAA)).isEmpty)   // w*3 overflows Int
    val wav = Fixtures.wavBytes(16000, 64, 0)
    assert(Multimodal.decodeWav(withLe32(wav, 40, 0x7FFFFFF0)).isEmpty)   // data sz overflows walk
    assert(Multimodal.decodeWav(withLe32(wav, 16, 0x7FFFFFF0)).isEmpty)   // fmt sz overflows walk
    assert(Multimodal.decodeWav(wav.take(wav.length - 2)).isEmpty)         // data cut short
    assert(Multimodal.decodeWav(wav).exists(_._2 == 64L))
    // corrupt PNGs: IDAT cut inside the pixel data, bad chunk length,
    // short signature
    val png = Fixtures.pngBytes(16, 16, 1)
    assert(Multimodal.decodeImage(png.take(png.length / 2)).isEmpty)
    assert(Multimodal.decodeImage({ val b = png.clone(); b(8) = 0x7F; b }).isEmpty)
    assert(Multimodal.decodeImage(Array[Byte](0x89.toByte, 'P', 'N', 'G')).isEmpty)
  }

  test("multimodal: baseline JPEG decode recovers the planted gradient in all layouts") {
    import graft.operators.Multimodal
    // the oracle: grid means of the encoder's exact luma plane
    def expectGrid(w: Int, h: Int, seed: Int): Array[Double] = {
      def lumaAt(x: Int, y: Int): Double = {
        val r = (x + (h - 1 - y) + seed * 11) % 256
        val g = (h - 1 - y) * 255 / math.max(1, h - 1)
        val b = (x * 255 / math.max(1, w - 1) + seed * 37) % 256
        0.299 * r + 0.587 * g + 0.114 * b
      }
      val sums = new Array[Double](16)
      val counts = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = math.min(3, y * 4 / h) * 4 + math.min(3, x * 4 / w)
        sums(cell) += lumaAt(x, y); counts(cell) += 1
      }
      Array.tabulate(16)(i => sums(i) / counts(i) / 255.0)
    }
    val cases = Seq(
      ("gray", Fixtures.jpegBytes(40, 24, 3, gray = true), 40, 24, 3),
      ("4:4:4", Fixtures.jpegBytes(33, 47, 7), 33, 47, 7),
      ("4:2:0", Fixtures.jpegBytes(48, 32, 5, subsample = true), 48, 32, 5),
      ("4:2:0+RST", Fixtures.jpegBytes(48, 32, 5, subsample = true,
        restartEvery = 2), 48, 32, 5))
    for ((label, bytes, w, h, seed) <- cases) {
      val got = Multimodal.decodeImage(bytes)
      assert(got.isDefined, s"$label failed to decode")
      val Some((tag, gw, gh, feat)) = got
      assert((tag, gw, gh) == (("jpeg", w, h)), label)
      val want = expectGrid(w, h, seed)
      for (c <- 0 until 16)
        assert(math.abs(feat(c) - want(c)) <= 2.5 / 255.0,
          f"$label cell $c: got ${feat(c)}%.4f want ${want(c)}%.4f")
    }
    // 4:2:0 and restart variants reconstruct the same content
    val a = Multimodal.decodeImage(cases(2)._2).get._4
    val b = Multimodal.decodeImage(cases(3)._2).get._4
    for (c <- 0 until 16) assert(math.abs(a(c) - b(c)) <= 0.5 / 255.0)
    // corrupt / unsupported payloads return None, never throw
    val jb = cases(1)._2
    assert(Multimodal.decodeImage(jb.take(jb.length / 2)).isEmpty)       // truncated
    // cut anywhere in the scan data, the JDK returns a partial image
    // with only a warning ("Premature end of JPEG file"): still a None
    for (bytes <- Seq(jb, Fixtures.jpegProgressiveBytes(33, 47, 7))) {
      val scan = (0 until bytes.length - 1).find(i =>
        (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) == 0xDA).get
      for (n <- scan until bytes.length)
        assert(Multimodal.decodeImage(bytes.take(n)).isEmpty, s"cut at $n of ${bytes.length}")
    }
    assert(Multimodal.decodeImage({ val x = jb.clone()
      // flip SOF0 (0xC0) to progressive SOF2 (0xC2)
      val i = (0 until x.length - 1).find(i =>
        (x(i) & 0xFF) == 0xFF && (x(i + 1) & 0xFF) == 0xC0).get
      x(i + 1) = 0xC2.toByte; x }).isEmpty)
    // the magic bytes pick the reader: PNG bytes never reach the JPEG one
    assert(Multimodal.decodeImage(Fixtures.pngBytes(16, 16, 1)).map(_._1).contains("png"))
    assert(Multimodal.decodeImage(Array[Byte](0x12, 0x34, 0x56, 0x78)).isEmpty)
    assert(Multimodal.decodeImage(Array[Byte](0xFF.toByte, 0xD8.toByte)).isEmpty)
    // payload ending exactly at an empty SOS header (… FF DA 00 02 EOF,
    // after a valid SOF0): the ns read sits at p.length — must be None,
    // not AIOOBE
    val sosAt = (0 until jb.length - 1).find(i =>
      (jb(i) & 0xFF) == 0xFF && (jb(i + 1) & 0xFF) == 0xDA).get
    assert(Multimodal.decodeImage(
      jb.take(sosAt) ++ Array(0xFF, 0xDA, 0x00, 0x02).map(_.toByte)).isEmpty)
    // BMP height Int.MinValue: math.abs is still negative — must be None,
    // not a bogus zero-feature "success" with a negative height
    val bmpMinH = Fixtures.bmpBytes(8, 8, 1).clone()
    bmpMinH(22) = 0; bmpMinH(23) = 0; bmpMinH(24) = 0; bmpMinH(25) = 0x80.toByte
    assert(Multimodal.decodeImage(bmpMinH).isEmpty)
  }

  test("multimodal: chroma grids separate color-only duplicates; gray stays neutral") {
    import graft.operators.Multimodal
    implicit val s = spark
    import s.implicits._
    // JPEG: same luminance, different planted color cast — luma grid
    // must agree, chroma grids must differ, for both subsampling modes
    for (sub <- Seq(false, true)) {
      val neutral = Multimodal.decodeImage(
        Fixtures.jpegBytes(32, 32, 5, subsample = sub)).get._4
      val cast = Multimodal.decodeImage(
        Fixtures.jpegBytes(32, 32, 5, subsample = sub, cbOff = 40, crOff = -30)).get._4
      for (c <- 0 until 16)
        assert(math.abs(neutral(c) - cast(c)) <= 1.0 / 255.0,
          s"sub=$sub luma cell $c moved: ${neutral(c)} vs ${cast(c)}")
      // planted offsets recovered at the grid (±2 gray levels for q=4)
      for (c <- 16 until 20)
        assert(math.abs(cast(c) - (128 + 40) / 255.0) <= 2.5 / 255.0, s"cb cell $c: ${cast(c)}")
      for (c <- 20 until 24)
        assert(math.abs(cast(c) - (128 - 30) / 255.0) <= 2.5 / 255.0, s"cr cell $c: ${cast(c)}")
      for (c <- 16 until 24)
        assert(math.abs(neutral(c) - 128 / 255.0) <= 2.5 / 255.0, s"neutral cell $c")
    }
    // grayscale JPEG: chroma grids sit at neutral gray exactly
    val gray = Multimodal.decodeImage(Fixtures.jpegBytes(32, 32, 5, gray = true)).get._4
    for (c <- 16 until 24) assert(gray(c) == (128.0 / 255.0).toFloat)
    // BMP solids with EQUAL integer luma, different chroma: luma grid
    // identical, near-dup must NOT pair them — while a byte-different
    // same-color pair still pairs. bt601(123,123,123) = bt601(200,80,150) = 123:
    def lumaOf(r: Int, g: Int, b: Int) = (r * 299 + g * 587 + b * 114) / 1000
    assert(lumaOf(123, 123, 123) == lumaOf(200, 80, 150))
    val rows = Seq(
      (1L, "image", TestFixtures.bmpSolid(32, 32, 123, 123, 123), 32, 32, 0, "a"),
      (2L, "image", TestFixtures.bmpSolid(32, 32, 200, 80, 150), 32, 32, 0, "b"),
      (3L, "image", { val x = TestFixtures.bmpSolid(32, 32, 200, 80, 150)
        x(2) = 99.toByte; x }, 32, 32, 0, "c")) // header-byte noise, same pixels
      .toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "doc_ref")
    val feats = Multimodal.extractFeatures(rows)
    val byId = feats.collect().map(f => f.media_id -> f.feature).toMap
    assert(byId(1L).take(16).toSeq == byId(2L).take(16).toSeq, "luma grids must agree")
    assert(byId(1L).drop(16).toSeq != byId(2L).drop(16).toSeq, "chroma grids must differ")
    val pairs = Similarity.nearDupPairsExact(
        feats.select(col("media_id").as("vec_id"), col("feature").as("embedding")),
        minCosine = 0.9995)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((2L, 3L)), s"same-color pair must survive: $pairs")
    assert(!pairs.contains((1L, 2L)), s"color-only duplicates must separate: $pairs")
  }

  test("multimodal: NULL payload degrades to the stub row, never an NPE") {
    implicit val s = spark
    import s.implicits._
    // nullable binary column: decode must not dereference payload before
    // the degrade valve
    val rows = Seq(
      (900L, "image", Option.empty[Array[Byte]], 8, 8, 0, "d1"),
      (901L, "video", Option.empty[Array[Byte]], 8, 8, 0, "d2"))
      .toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "doc_ref")
    val out = Multimodal.extractFeatures(rows).collect().sortBy(_.media_id)
    assert(out.length == 2)
    assert(out.forall(f => f.decoder == "stub" && f.n_bytes == 0L))
    assert(out.find(_.media_id == 901L).get.frames_sampled == 1) // stub video shape
  }

  test("multimodal: decodeAvi maxSample=1 on a multi-frame AVI samples the first frame") {
    import graft.operators.Multimodal
    val avi = Fixtures.aviBytes(32, 32, nFrames = 5, seed = 4)
    val Some((w, h, total, sampled, feat)) = Multimodal.decodeAvi(avi, maxSample = 1)
    assert((w, h, total, sampled) == (32, 32, 5, 1))
    // the single sampled frame is frame 0 exactly
    val f0 = Multimodal.decodeImage(Fixtures.jpegBytes(32, 32, 400)).get._4
    assert(feat.sameElements(f0))
  }

  test("multimodal: MJPEG AVI decode samples frames and averages pixel content") {
    import graft.operators.Multimodal
    // under the sample cap every frame is decoded, and the feature is the
    // exact elementwise mean of the per-frame JPEG features
    val avi = Fixtures.aviBytes(32, 32, nFrames = 5, seed = 4)
    val Some((w, h, total, sampled, feat)) = Multimodal.decodeAvi(avi)
    assert((w, h, total, sampled) == (32, 32, 5, 5))
    val want = {
      val acc = new Array[Double](24)
      for (f <- 0 until 5; (v, c) <- Multimodal.decodeImage(
          Fixtures.jpegBytes(32, 32, 400 + f)).get._4.zipWithIndex)
        acc(c) += v
      acc.map(a => (a / 5).toFloat)
    }
    assert(feat.sameElements(want),
      s"got ${feat.toSeq} want ${want.toSeq}")
    // over the cap: frames are COUNTED in full but only 8 evenly-spaced
    // ones are entropy-decoded (the 100 TB posture: count is a size walk,
    // decode is sampled)
    val Some((_, _, t2, s2, _)) = Multimodal.decodeAvi(
      Fixtures.aviBytes(24, 16, nFrames = 20, seed = 9))
    assert(t2 == 20 && s2 == 8)
    // the rec-grouped interleaved layout decodes identically to flat
    val Some((fw, fh, ft, fs, ff)) = Multimodal.decodeAvi(
      Fixtures.aviBytes(24, 16, 3, 7))
    val Some((rw, rh, rt, rs, rf)) = Multimodal.decodeAvi(
      Fixtures.aviBytes(24, 16, 3, 7, nested = true))
    assert((fw, fh, ft, fs) == (rw, rh, rt, rs) && ff.sameElements(rf))
    // corrupt / truncated payloads degrade to None, never throw
    assert(Multimodal.decodeAvi(avi.take(avi.length / 2)).isEmpty)
    assert(Multimodal.decodeAvi(Fixtures.wavBytes(16000, 64, 1)).isEmpty) // RIFF, not AVI
    assert(Multimodal.decodeAvi(Array[Byte]('R', 'I', 'F', 'F')).isEmpty)
  }

  test("multimodal: MP3 side-info parse recovers the planted loudness ramp") {
    import graft.operators.Multimodal
    // mono: frame walk counts frames, envelope follows the rising
    // global_gain ramp exactly (mean gg/255 per 16-segment bucket)
    val Some((rate, n, env)) = Multimodal.parseMp3(Fixtures.mp3Bytes(16, 5))
    assert(rate == 44100 && n == 16)
    val gains = for (f <- 0 until 16; gr <- 0 until 2)
      yield math.min(255, 40 + 5 % 16 + (f * 2 + gr) * 3)
    val want = Array.tabulate(16) { seg =>
      val xs = gains.zipWithIndex.collect {
        case (g, i) if math.min(15, i.toLong * 16 / gains.length) == seg => g / 255.0 }
      (xs.sum / xs.size).toFloat
    }
    assert(env.sameElements(want), s"got ${env.toSeq} want ${want.toSeq}")
    assert(env.head < env.last, "ramp must rise across the stream")
    // stereo + ID3v2: granule gain is the channel mean; the tag is skipped
    // (8 frames = 16 granules, one per segment, so no segment is empty)
    val Some((r2, n2, env2)) = Multimodal.parseMp3(
      Fixtures.mp3Bytes(8, 3, stereo = true, id3 = true))
    assert(r2 == 44100 && n2 == 8 && env2.head < env2.last)
    // resync across leading junk; truncated final frame tolerated
    val m = Fixtures.mp3Bytes(4, 1)
    assert(Multimodal.parseMp3(Array[Byte](0, 1, 2, 3) ++ m).exists(_._2 == 4))
    assert(Multimodal.parseMp3(m.take(m.length - 100)).exists(_._2 == 3))
    // a single isolated false sync (or one lone frame) is rejected:
    // >= 2 clean consecutive frames required
    assert(Multimodal.parseMp3(m.take(417)).isEmpty)
    assert(Multimodal.parseMp3(Array.fill[Byte](64)(0xFF.toByte)).isEmpty)
  }

  test("progressive JPEG: every scan kind reconstructs the baseline feature") {
    import graft.operators.Multimodal
    // jpegProgressiveBytes carries IDENTICAL content, quantizer and
    // entropy tables as jpegBytes, re-scripted as SOF2 scans (DC
    // first/refine at Al=1→0, two Y spectral bands + AC refinement,
    // full-precision chroma passes riding multi-block EOB runs).
    // Successive approximation reconstructs every coefficient exactly,
    // so the 24-dim features must agree to float round-off — the only
    // divergence is grid-sum accumulation ORDER (baseline streams in MCU
    // order, progressive finalizes in used-block order).
    val cases = Seq(
      ("gray", (true, false, 0, 0, 0, 1), 40, 24, 3),
      ("4:4:4", (false, false, 0, 0, 0, 1), 33, 47, 7),
      ("4:4:4+color", (false, false, 40, -30, 0, 1), 32, 32, 5),
      ("4:2:0", (false, true, 0, 0, 0, 1), 48, 32, 5),
      ("4:2:0+color", (false, true, 40, -30, 0, 1), 32, 32, 5),
      // restart markers inside every progressive scan kind (DC pred +
      // EOB-run reset — its own decoder branch); content identical, so
      // the restarted stream must still reproduce the baseline feature
      ("4:2:0+RST", (false, true, 25, -15, 2, 1), 48, 32, 5),
      ("4:4:4+RST1", (false, false, 0, 0, 1, 1), 24, 24, 11),
      // deeper successive-approximation ladder (libjpeg's default script
      // ships Al=2): refinement decoded at two bit positions per coef
      ("4:4:4+Al2", (false, false, 0, 0, 0, 2), 40, 40, 13),
      ("4:2:0+Al3+RST", (false, true, 30, -20, 3, 3), 48, 32, 5))
    // pseudo-random pixels: full-spectrum AC energy hits the refinement
    // edge paths (ZRL with interleaved correction bits, dense
    // newly-significant insertions) that smooth gradients rarely reach
    val noiseCases = Seq(
      ("noise+Al2", (false, false, 0, 0, 0, 2), 40, 40, 21),
      ("noise+420+Al3+RST", (false, true, 15, -25, 2, 3), 48, 32, 22),
      ("noise+gray", (true, false, 0, 0, 0, 1), 33, 47, 23))
    for ((label, (gray, sub, cb, cr, rst, lvl), w, h, seed) <- cases ++ noiseCases) {
      val noisy = label.startsWith("noise")
      val base = Multimodal.decodeImage(
        Fixtures.jpegBytes(w, h, seed, gray = gray, subsample = sub,
          cbOff = cb, crOff = cr, noise = noisy))
      val prog = Multimodal.decodeImage(
        Fixtures.jpegProgressiveBytes(w, h, seed, gray = gray,
          subsample = sub, cbOff = cb, crOff = cr, restartEvery = rst,
          acAl = lvl, noise = noisy))
      assert(base.exists(_._1 == "jpeg"), s"$label baseline failed")
      assert(prog.exists(_._1 == "jpeg-progressive"), s"$label progressive failed")
      val (_, bw, bh, bf) = base.get
      val (_, pw, ph, pf) = prog.get
      assert((pw, ph) == (bw, bh), label)
      for (c <- 0 until 24)
        assert(math.abs(pf(c) - bf(c)) <= 1e-6f,
          f"$label dim $c: prog ${pf(c)}%.7f vs base ${bf(c)}%.7f")
    }
    // the dispatcher tags the path: a progressive payload through
    // extractFeatures reads decoder = "jpeg-progressive"
    implicit val s = spark
    import s.implicits._
    val row = graft.operators.Multimodal.extractFeatures(
      Seq((1L, "image", Fixtures.jpegProgressiveBytes(32, 32, 9), 32, 32, 0, "d1"))
        .toDF("media_id", "kind", "payload", "width", "height",
          "sample_rate", "doc_ref")).collect()
    assert(row.length == 1 && row(0).decoder == "jpeg-progressive")
  }

  test("progressive JPEG valve keys on coefficient-plane bytes, not raw pixels") {
    import graft.operators.Multimodal
    // same pixel count, different sampling layout: 2052x2052 at 4:4:4
    // allocates 257^2 blocks x 3 full-res planes ~ 50.7 MB of Int
    // coefficients (> the 48 MB valve -> rejected at SOF2), while 4:2:0
    // at the SAME dims is ~25.6 MB and decodes. A raw-pixel valve could
    // not tell these apart — the r14 ADVICE fix, pinned.
    val dim = 2052
    assert(Multimodal.decodeImage(
      Fixtures.jpegProgressiveBytes(dim, dim, 3)).isEmpty,
      "4:4:4 progressive over the plane-byte cap must be rejected")
    val ok = Multimodal.decodeImage(
      Fixtures.jpegProgressiveBytes(dim, dim, 3, subsample = true))
    assert(ok.exists { case (_, w, h, _) => w == dim && h == dim },
      "4:2:0 progressive at the same pixel count must decode")
  }

  /** A minimal PNG: IHDR (`colorType`, `depth`, non-interlaced), an
    * optional PLTE, and one IDAT deflating `rows(y)` (filter byte 0
    * prepended) row by row, so a large image never sits in memory. */
  private def pngOf(w: Int, h: Int, colorType: Int, depth: Int,
      plte: Array[Byte] = Array.emptyByteArray)(rows: Int => Array[Byte]): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length).put(t)
        .put(data).putInt(crc.getValue.toInt).array()
    }
    val z = new java.io.ByteArrayOutputStream()
    val deflate = new java.util.zip.DeflaterOutputStream(z)
    for (y <- 0 until h) { deflate.write(0); deflate.write(rows(y)) }
    deflate.close()
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++
      (if (plte.isEmpty) Array.emptyByteArray else chunk("PLTE", plte)) ++
      chunk("IDAT", z.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
  }

  test("multimodal: palette and 16-bit PNG are refused, not misread") {
    // the grid feature reads 8-bit samples of a direct colour model; a
    // palette image's band holds indices and a 16-bit one wider samples
    val (w, h) = (24, 20)
    val palette = pngOf(w, h, 3, 8, Array[Byte](10, 20, 30, 40, 50, 60))(y =>
      Array.tabulate(w)(x => ((x + y) % 2).toByte))
    val rgb16 = pngOf(w, h, 2, 16)(y => Array.tabulate(w * 6)(i => (i + y).toByte))
    val rgb8 = pngOf(w, h, 2, 8)(y => Array.tabulate(w * 3)(i => (i + y).toByte))
    assert(Multimodal.decodeImage(palette).isEmpty)
    assert(Multimodal.decodeImage(rgb16).isEmpty)
    assert(Multimodal.decodeImage(rgb8).map(_._1).contains("png"))
  }

  /** A 3-component baseline JPEG coded as three one-component scans (so
    * its first scan has Ns = 1 < Nf = 3), each component carrying the
    * gray fixture's samples: the gray file's tables and scan data under a
    * 3-component SOF0, one SOS per component. */
  private def nonInterleavedJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val g = Fixtures.jpegBytes(w, h, seed, gray = true)
    def at(m: Int): Int =
      (0 until g.length - 1).find(i => (g(i) & 0xFF) == 0xFF && (g(i + 1) & 0xFF) == m).get
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val (sof, sos) = (at(0xC0), at(0xDA))
    val sofEnd = sof + 2 + (((g(sof + 2) & 0xFF) << 8) | (g(sof + 3) & 0xFF))
    val scan = g.slice(sos + 10, g.length - 2) // after the Ns = 1 SOS, before EOI
    g.take(sof) ++
      bytes(0xFF, 0xC0, 0, 17, 8, h >> 8, h, w >> 8, w, 3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0) ++
      g.slice(sofEnd, sos) ++
      (1 to 3).flatMap(c => bytes(0xFF, 0xDA, 0, 8, 1, c, 0x00, 0, 63, 0) ++ scan) ++
      bytes(0xFF, 0xD9)
  }

  test("multimodal: a non-interleaved sequential JPEG meets the coefficient-plane valve") {
    // libjpeg buffers a whole frame's coefficients in native memory when
    // the first scan codes fewer components than the frame, exactly as
    // for progressive; the walk to the first SOS applies the same valve
    val gray = Multimodal.decodeImage(Fixtures.jpegBytes(40, 24, 3, gray = true)).get._4
    val Some((tag, w, h, f)) = Multimodal.decodeImage(nonInterleavedJpeg(40, 24, 3))
    assert((tag, w, h) == (("jpeg", 40, 24)))
    for (c <- 0 until 16) assert(math.abs(f(c) - gray(c)) <= 1e-6f, s"luma cell $c")
    // 2052x2052 at 4:4:4 is ~50.7 MB of planes: refused when non-interleaved,
    // decoded when interleaved (one scan, no frame buffer)
    assert(Multimodal.decodeImage(nonInterleavedJpeg(2052, 2052, 3)).isEmpty)
    assert(Multimodal.decodeImage(Fixtures.jpegBytes(2052, 2052, 3)).exists(_._2 == 2052))
    // a few-KB file declaring 65500x65500 (libjpeg's largest) is refused
    // by the walk: its planes would be ~13 GB of native memory
    val huge = nonInterleavedJpeg(16, 16, 3)
    val sof = (0 until huge.length - 1).find(i =>
      (huge(i) & 0xFF) == 0xFF && (huge(i + 1) & 0xFF) == 0xC0).get
    Seq(0xFF, 0xDC, 0xFF, 0xDC).zipWithIndex.foreach { case (b, i) => huge(sof + 5 + i) = b.toByte }
    assert(Multimodal.decodeImage(huge).isEmpty)
  }

  test("multimodal: a truncated JPEG declaring a huge frame stops at the first warning") {
    // under 1 KB of scan data under a 65500x65500 SOF0: once the data
    // runs out, libjpeg warns and would decode the rest of the declared
    // frame from zeros (4.3 G pixels, ~11 s on a 4-core x86 box); the
    // first warning aborts the read (~0.1 s)
    val jb = Fixtures.jpegBytes(64, 64, 4)
    val sof = (0 until jb.length - 1).find(i =>
      (jb(i) & 0xFF) == 0xFF && (jb(i + 1) & 0xFF) == 0xC0).get
    val cut = jb.take(jb.length * 3 / 4)
    Seq(0xFF, 0xDC, 0xFF, 0xDC).zipWithIndex.foreach { case (b, i) => cut(sof + 5 + i) = b.toByte }
    val t0 = System.nanoTime()
    assert(Multimodal.decodeImage(cut).isEmpty)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 2.0, f"truncated huge-frame decode took $secs%.1f s")
  }

  test("multimodal: a raster over the 64 MiB valve decodes through source subsampling") {
    // a 4800x4800 RGB PNG is a 69 MB raster, over the 64 MiB cap, so it
    // decodes at subsampling step 2: even source columns only. Even
    // columns carry a quadrant layout and odd columns are white, so a
    // full decode would average the white in; the step-2 decode sees
    // exactly the quadrant colours, each grid cell lying in one quadrant.
    val (w, h) = (4800, 4800)
    def rgb(x: Int, y: Int): (Int, Int, Int) =
      if (x % 2 == 1) (255, 255, 255)
      else (if (x < w / 2) 200 else 40, if (y < h / 2) 180 else 20, 90)
    val top = Array.tabulate(w * 3) { i => val (r, g, b) = rgb(i / 3, 0)
      Seq(r, g, b)(i % 3).toByte }
    val bottom = Array.tabulate(w * 3) { i => val (r, g, b) = rgb(i / 3, h - 1)
      Seq(r, g, b)(i % 3).toByte }
    val png = pngOf(w, h, 2, 8)(y => if (y < h / 2) top else bottom)
    val Some(("png", dw, dh, feat)) = Multimodal.decodeImage(png)
    assert((dw, dh) == (w, h))
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val (r, g, b) = rgb(cx * w / 4, cy * h / 4)
      assert(feat(cy * 4 + cx) == ((r * 299 + g * 587 + b * 114) / 1000 / 255.0).toFloat,
        s"luma cell ($cx,$cy): ${feat(cy * 4 + cx)}")
    }
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val (r, g, b) = rgb(cx * w / 2, cy * h / 2)
      val cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
      assert(math.abs(feat(16 + cy * 2 + cx) - cb / 255.0) <= 1e-6, s"cb cell ($cx,$cy)")
    }
  }

  test("multimodal: extractFeatures plans print one stable, named partition function") {
    implicit val s = spark
    def fns(): Seq[String] = {
      val qe = Multimodal.extractFeatures(spark.read.parquet(Fixtures.MediaParquet))
        .queryExecution
      val names = qe.optimizedPlan.collect {
        case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m.func.toString
      }
      assert(names.forall(qe.toString.contains), qe.toString)
      names
    }
    val (a, b) = (fns(), fns())
    assert(a == Seq("FeatureExtractor(24,64)"), a)
    assert(a == b && !(a ++ b).exists(_.contains("$$Lambda")), s"$a vs $b")
  }

  test("multimodal: the committed media fixture decodes every image, WAV and AVI row") {
    implicit val s = spark
    // the parquet the media_* queries read, not a regenerated frame: a
    // stale commit (JPEGs a conformant decoder refuses) reads as stub
    val media = spark.read.parquet(Fixtures.MediaParquet)
    val decoder = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.decoder).toMap
    def riff(p: Array[Byte], form: String): Boolean = p.length >= 12 &&
      new String(p, 0, 4, "US-ASCII") == "RIFF" && new String(p, 8, 4, "US-ASCII") == form
    val rows = media.select("media_id", "kind", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
    val images = rows.filter(_._2 == "image").map(r => decoder(r._1))
    assert(images.length == 22)
    assert(images.toSet == Set("bmp", "png", "jpeg", "jpeg-progressive"), images.toSeq)
    val wavs = rows.filter(r => r._2 == "audio" && riff(r._3, "WAVE")).map(r => decoder(r._1))
    val avis = rows.filter(r => r._2 == "video" && riff(r._3, "AVI ")).map(r => decoder(r._1))
    assert(wavs.nonEmpty && wavs.forall(_ == "wav"), wavs.toSeq)
    assert(avis.nonEmpty && avis.forall(_ == "avi-mjpeg"), avis.toSeq)
  }

  test("multimodal: MKV without the mandatory TrackNumber is a parse failure") {
    import graft.operators.Multimodal
    // mirror Fixtures.mkvBytes' EBML writer, minus the TrackNumber
    // element: without it blocks can't be attributed to the video track,
    // and counting every track's blocks would inflate nFrames on
    // multiplexed files — absence must read as None, not a guess
    def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    def sz(n: Long): Array[Byte] =
      Array(0x01.toByte) ++ (6 to 0 by -1).map(i => ((n >> (8 * i)) & 0xFF).toByte)
    def el(i: Array[Byte], payload: Array[Byte]): Array[Byte] =
      i ++ sz(payload.length.toLong) ++ payload
    def uintEl(i: Array[Byte], v: Long): Array[Byte] = {
      var bytes = List.empty[Byte]
      var x = v
      do { bytes = (x & 0xFF).toByte :: bytes; x >>= 8 } while (x > 0)
      el(i, bytes.toArray)
    }
    val ebml = el(id(0x1A, 0x45, 0xDF, 0xA3),
      el(id(0x42, 0x82), "webm".getBytes("US-ASCII")))
    val trackEntry = el(id(0xAE), // TrackType video + Video dims, NO 0xD7
      uintEl(id(0x83), 1) ++
        el(id(0xE0), uintEl(id(0xB0), 640) ++ uintEl(id(0xBA), 360)))
    val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), trackEntry)
    val block = el(id(0xA3),
      Array[Byte](0x81.toByte, 0, 0, 0) ++ Array.fill[Byte](50)(7))
    val cluster = el(id(0x1F, 0x43, 0xB6, 0x75), uintEl(id(0xE7), 0) ++ block)
    val noTrackNum = ebml ++ el(id(0x18, 0x53, 0x80, 0x67), tracks ++ cluster)
    assert(Multimodal.parseMkv(noTrackNum).isEmpty)
    // sanity: the complete fixture (same writer WITH TrackNumber) parses
    assert(Multimodal.parseMkv(Fixtures.mkvBytes(640, 360, 3, 1)).isDefined)
  }

  test("multimodal: MP4 box walk recovers dims, frame count and size envelope") {
    import graft.operators.Multimodal
    val p = Fixtures.mp4Bytes(320, 240, nFrames = 12, seed = 7)
    val Some((w, h, n, feat)) = Multimodal.parseMp4(p)
    assert((w, h, n) == (320, 240, 12))
    // frame-size envelope: content-derived (per-frame encoded sizes),
    // normalized by the largest segment — deterministic, peak at 1.0,
    // and NOT flat (the planted size pattern varies per frame)
    assert(feat.length == 16 && feat.max == 1.0f)
    assert(feat.distinct.length > 1, feat.mkString(","))
    assert(Multimodal.parseMp4(p).get._4.toSeq == feat.toSeq)
    // different footage (seed) → different envelope; same dims
    val other = Multimodal.parseMp4(Fixtures.mp4Bytes(320, 240, 12, seed = 8)).get
    assert(other._4.toSeq != feat.toSeq)
    // audio-only / truncated / non-BMFF payloads degrade, never throw
    assert(Multimodal.parseMp4(p.take(p.length / 3)).forall(_._1 > 0))
    assert(Multimodal.parseMp4(Fixtures.wavBytes(16000, 64, 1)).isEmpty)
    assert(Multimodal.parseMp4(Array[Byte](0, 0, 0, 8, 'f', 't', 'y', 'p')).isEmpty)
    // dispatcher: an mp4 payload through extractFeatures reads
    // decoder = "mp4-meta" with the container's dims overriding metadata
    implicit val s = spark
    import s.implicits._
    val row = Multimodal.extractFeatures(
      Seq((1L, "video", p, 0, 0, 0, "d1"))
        .toDF("media_id", "kind", "payload", "width", "height",
          "sample_rate", "doc_ref")).collect()
    assert(row.length == 1 && row(0).decoder == "mp4-meta")
    assert(row(0).thumb_w == 64 && row(0).thumb_h == 48) // 320x240 aspect
  }

  test("multimodal: Matroska EBML walk recovers dims, frame count and size envelope") {
    import graft.operators.Multimodal
    val p = Fixtures.mkvBytes(640, 360, nFrames = 9, seed = 4)
    val Some((w, h, n, feat)) = Multimodal.parseMkv(p)
    assert((w, h, n) == (640, 360, 9))
    assert(feat.length == 16 && feat.max == 1.0f)
    assert(feat.distinct.length > 1, feat.mkString(","))
    // deterministic; different footage separates
    assert(Multimodal.parseMkv(p).get._4.toSeq == feat.toSeq)
    assert(Multimodal.parseMkv(
      Fixtures.mkvBytes(640, 360, 9, seed = 5)).get._4.toSeq != feat.toSeq)
    // non-EBML / truncated payloads degrade, never throw
    assert(Multimodal.parseMkv(Fixtures.mp4Bytes(64, 48, 4, 1)).isEmpty)
    assert(Multimodal.parseMkv(p.take(20)).isEmpty)
    // dispatcher tag
    implicit val s = spark
    import s.implicits._
    val row = Multimodal.extractFeatures(
      Seq((1L, "video", p, 0, 0, 0, "d1"))
        .toDF("media_id", "kind", "payload", "width", "height",
          "sample_rate", "doc_ref")).collect()
    assert(row.length == 1 && row(0).decoder == "mkv-meta")
  }

  test("packEmitIds: bin membership matches packSequences over bpeCount; sequences concatenate in id order") {
    val budget = 16L
    val emitted = Corpus.packEmitIds(docs, budget, groups = 4).collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("bin")) ->
        ((r.getSeq[Int](r.fieldIndex("seq_ids")),
          r.getAs[Long]("bin_tokens"), r.getAs[Long]("n_docs")))).toMap
    // reference layout: the declared packer over bpeCount budgets
    val packed = Corpus.packSequences(
      docs.select(col("doc_id"),
        graft.functions.TextFunctions.bpeCount(col("text")).as("n_tokens")),
      budget, groups = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("grp"),
        r.getAs[Long]("bin"), r.getAs[Long]("n_tokens")))
    // per-doc ids straight from the expression (already reference-pinned)
    val idsOf = docs.select(col("doc_id"),
        graft.functions.TextFunctions.bpeEncode(col("text")).as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val byBin = packed.groupBy(t => (t._2, t._3))
    assert(emitted.keySet == byBin.keySet)
    for (((grp, bin), members) <- byBin) {
      val (seq, binTokens, nDocs) = emitted((grp, bin))
      val sorted = members.sortBy(_._1)
      assert(nDocs == members.length, s"($grp,$bin)")
      assert(binTokens == members.map(_._4).sum, s"($grp,$bin)")
      // the structural invariant + the exact concatenation
      assert(seq.length.toLong == binTokens, s"($grp,$bin) size != tokens")
      assert(seq == sorted.flatMap(m => idsOf(m._1)).toSeq, s"($grp,$bin)")
    }
    // global conservation: every token id lands in exactly one bin slot
    assert(emitted.values.map(_._1.length).sum == idsOf.values.map(_.length).sum)
  }

  test("packSequencesInc: incremental chain is batch-boundary-invariant vs fused packing") {
    // three append-only batches, state folded after each: the union of
    // the three packings must equal packing everything fused (the
    // ExactSubstr/semantic-registry invariance, applied to layout)
    val d = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val budget = 16L
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("grp"),
        r.getAs[Long]("bin"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("running"))).toSet
    val fused = Corpus.packSequences(d, budget, groups = 4)
    val b1 = Corpus.packSequences(d.filter(col("doc_id") < 2), budget, groups = 4)
    val s1 = Corpus.packState(b1)
    val b2 = Corpus.packSequencesInc(
      d.filter(col("doc_id") >= 2 && col("doc_id") < 4), s1, budget, groups = 4)
    // state folds over the UNION seen so far (a group silent in batch 2
    // must keep its batch-1 total)
    val s2 = Corpus.packState(b1.unionByName(b2))
    val b3 = Corpus.packSequencesInc(d.filter(col("doc_id") >= 4), s2, budget, groups = 4)
    assert(rows(b1) ++ rows(b2) ++ rows(b3) == rows(fused))
    // an empty state packs like the fused form from zero
    val empty = Corpus.packState(Corpus.packSequences(d.limit(0), budget, groups = 4))
    assert(rows(Corpus.packSequencesInc(d, empty, budget, groups = 4)) == rows(fused))
  }

  test("multimodal: container walks round-trip over randomized geometry") {
    import graft.operators.Multimodal
    // seeded sweep over arbitrary dims / frame counts / size patterns:
    // both walks must recover exactly what the writer planted
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val w = 16 + rnd.nextInt(4000)
      val h = 16 + rnd.nextInt(2400)
      val n = 1 + rnd.nextInt(48)
      val s = rnd.nextInt(10000)
      assert(Multimodal.parseMp4(Fixtures.mp4Bytes(w, h, n, s))
        .map(t => (t._1, t._2, t._3)).contains((w, h, n)), s"mp4 $w x $h n=$n")
      assert(Multimodal.parseMkv(Fixtures.mkvBytes(w, h, n, s))
        .map(t => (t._1, t._2, t._3)).contains((w, h, n)), s"mkv $w x $h n=$n")
    }
  }

  test("multimodal: decoders never throw on mutated payloads (deterministic fuzz)") {
    import graft.operators.Multimodal
    // the untrusted-payload contract, exercised mechanically: random
    // byte flips / truncations of VALID payloads must yield Some or
    // None, never an exception (a corrupt object in a 100 TB corpus
    // must cost one stub row, not a task). Seeded RNG → reproducible.
    val rnd = new scala.util.Random(0xC0FFEE)
    val bases: Seq[(String, Array[Byte])] = Seq(
      ("bmp", Fixtures.bmpBytes(24, 16, 1)),
      ("png", Fixtures.pngBytes(24, 16, 1)),
      ("png-rgba", Fixtures.pngBytes(16, 16, 2, alpha = true)),
      ("jpeg", Fixtures.jpegBytes(24, 16, 1)),
      ("jpeg-420", Fixtures.jpegBytes(32, 32, 2, subsample = true, restartEvery = 1)),
      ("jpeg-prog", Fixtures.jpegProgressiveBytes(24, 16, 1)),
      ("jpeg-prog-420", Fixtures.jpegProgressiveBytes(32, 32, 2,
        subsample = true, cbOff = 25, crOff = -15, restartEvery = 2)),
      ("wav", Fixtures.wavBytes(16000, 256, 1)),
      ("avi", Fixtures.aviBytes(24, 16, 3, 1)),
      ("avi-rec", Fixtures.aviBytes(16, 16, 2, 2, nested = true)),
      ("mp3", Fixtures.mp3Bytes(4, 1)),
      ("mp3-stereo-id3", Fixtures.mp3Bytes(3, 2, stereo = true, id3 = true)),
      ("mp4", Fixtures.mp4Bytes(64, 48, 6, 3)),
      ("mkv", Fixtures.mkvBytes(64, 48, 5, 2)))
    def runAll(p: Array[Byte]): Unit = {
      Multimodal.decodeImage(p); Multimodal.decodeWav(p)
      Multimodal.decodeAvi(p); Multimodal.parseMp3(p)
      Multimodal.parseMp4(p); Multimodal.parseMkv(p)
      ()
    }
    for ((label, base) <- bases; trial <- 0 until 200) {
      val m = base.clone()
      val mode = trial % 3
      try {
        if (mode == 0) { // flip 1-4 random bytes
          (0 to rnd.nextInt(4)).foreach { _ =>
            m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte }
          runAll(m)
        } else if (mode == 1) { // truncate at a random point
          runAll(m.take(rnd.nextInt(m.length)))
        } else { // flip bytes then truncate
          (0 to rnd.nextInt(8)).foreach { _ =>
            m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte }
          runAll(m.take(1 + rnd.nextInt(m.length)))
        }
      } catch {
        case e: Throwable =>
          fail(s"$label trial $trial mode $mode threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("multimodal: content near-dup pairs identical pixels across different bytes/ids") {
    implicit val s = spark
    import spark.implicits._
    // same image content twice (different ids), a third distinct image,
    // and a WAV whose envelope must not pair with any image grid
    val rows = Seq(
      (1L, "image", Fixtures.bmpBytes(32, 32, seed = 5), 32, 32, 0, "a"),
      (2L, "image", Fixtures.bmpBytes(32, 32, seed = 5), 32, 32, 0, "b"),
      (3L, "image", Fixtures.bmpBytes(32, 32, seed = 40), 32, 32, 0, "c"),
      (4L, "audio", Fixtures.wavBytes(16000, 512, seed = 1), 0, 0, 16000, "d"))
      .toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "doc_ref")
    val feats = graft.operators.Multimodal.extractFeatures(rows)
      .select(col("media_id").as("vec_id"), col("feature").as("embedding"))
    val pairs = Similarity.nearDupPairsExact(feats, minCosine = 0.9999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"identical content must pair: $pairs")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L },
      s"audio envelope must not pair with image grids: $pairs")
  }

  test("multimodal: stats over the persisted table never reads payload bytes") {
    val q = Multimodal.stats(spark.read.parquet(Fixtures.MediaParquet))
    assert(q.count() == 3)
    val sc = SparkTestBase.fileScans(q)
    assert(sc.nonEmpty)
    // ReadSchema is the pruned set of columns the parquet reader decodes —
    // the binary payload must not be in it (at 100 TB it IS the table)
    sc.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(!read.contains("payload"),
        s"stats scan must prune the payload column, read: $read")
      assert(read.contains("n_bytes"))
    }
  }
}
