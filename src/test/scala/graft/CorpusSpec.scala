package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup, Similarity, Sketches}

/** Encoder-visible row type for the streaming-probe test's MemoryStream. */
case class ProbeDoc(doc_id: Long, text: String)
case class SemVec(vec_id: Long, embedding: Array[Float])

class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val ids = spark.range(0, 1000).toDF("doc_id")

  test("hashBucket: in range, partitioning-invariant, roughly uniform") {
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"), Corpus.hashBucket(col("doc_id")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b1 = buckets(ids)
    val b2 = buckets(ids.repartition(7)) // layout must not change assignments
    assert(b1 == b2)
    assert(b1.values.forall(v => v >= 0 && v < 100))
    assert(b1.values.toSet.size > 90) // 1000 draws over 100 buckets: near-full
  }

  test("splitAssign: ~80/10/10, and a doc's split survives corpus growth") {
    val counts = Corpus.splitAssign(ids).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 160)
    assert(counts("test") > 50 && counts("test") < 160)
    // adding docs 500..999 must not move docs 0..499 (hash, not ntile/rand)
    val small = Corpus.splitAssign(ids.filter(col("doc_id") < 500))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val large = Corpus.splitAssign(ids).filter(col("doc_id") < 500)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small == large)
  }

  test("sampleByHash: exactly the salted-bucket<pct rows, every run") {
    val sampled = Corpus.sampleByHash(ids, pct = 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = ids
      .filter(Corpus.hashBucket(col("doc_id"), 100, Corpus.SampleSalt) < 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == expected && sampled.nonEmpty)
    assert(Corpus.sampleByHash(ids, 0).count() == 0)
    assert(Corpus.sampleByHash(ids, 100).count() == 1000)
  }

  test("sampling is hash-independent of split assignment") {
    // REGRESSION: when sampling shared the split hash stream, a 20% sample
    // kept only buckets 0-19 — all 'train' — and stratified rebalancing at
    // rate < 90 could never emit a 'test' row
    val splits = Corpus.splitAssign(Corpus.sampleByHash(ids, 20))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"),
      s"a 20% sample must still carry every split: $splits")
    assert(splits("train") > splits("val") * 3) // rates still ~80/10/10
    val docs = ids.withColumn("src", when(col("doc_id") % 2 === 0, "a").otherwise("b"))
    val bal = Corpus.splitAssign(Corpus.sampleStratified(docs, "src", Map("a" -> 40), 60))
    assert(bal.filter(col("split") === "test").count() > 0)
  }

  test("sampleStratified: per-stratum rates; raising a rate only adds rows") {
    val docs = ids.withColumn("stratum",
      when(col("doc_id") % 2 === 0, "big").otherwise("small"))
    val out = Corpus.sampleStratified(docs, "stratum", Map("big" -> 10), defaultPct = 80)
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("big") < 100 && out("small") > 320) // ~10% of 500 vs ~80% of 500
    // monotonicity: the 10% kept set is a subset of the 30% kept set
    def kept(p: Int) = Corpus.sampleStratified(docs, "stratum", Map("big" -> p),
      defaultPct = 0).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept(10).subsetOf(kept(30)))
  }

  test("capPerStratum: exact cap, stable under growth elsewhere, rank-limit plan") {
    val docs = ids.withColumn("stratum",
      when(col("doc_id") % 10 === 0, "small").otherwise("mega"))
    val out = Corpus.capPerStratum(docs, "stratum", maxDocs = 50)
    val counts = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // mega (900 docs) capped exactly; small (100) capped exactly too
    assert(counts == Map("mega" -> 50L, "small" -> 50L))
    // growth in one stratum never touches another stratum's kept set
    val megaKept = out.filter(col("stratum") === "mega")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val grown = docs.union(spark.range(10000, 11000).toDF("doc_id")
      .withColumn("stratum", lit("small")))
    val megaKept2 = Corpus.capPerStratum(grown, "stratum", maxDocs = 50)
      .filter(col("stratum") === "mega")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(megaKept == megaKept2)
    // the plan is a rank LIMIT, not a full per-stratum sort: Spark's
    // WindowGroupLimit prunes each map task to <= maxDocs rows per
    // stratum BEFORE the exchange (the skew posture the cap exists for)
    val nodes = SparkTestBase.planNodeNames(out)
    assert(nodes.exists(_.contains("WindowGroupLimit")),
      s"no WindowGroupLimit in: $nodes")
    // REGRESSION: the cap ranks on its own salt stream. When it ranked on
    // the sampling stream, survivors were exactly the low-hash head, so a
    // downstream hash sample kept ~100% of them regardless of rate — here
    // a 20% sample of the 100 capped docs must keep roughly 20
    val sampledAfterCap = Corpus.sampleByHash(out, pct = 20).count()
    assert(sampledAfterCap >= 5 && sampledAfterCap <= 40,
      s"sample-after-cap biased: kept $sampledAfterCap of 100")
  }

  test("splitLeakage: exactly the cross-split near-dup pairs, labels from ids") {
    val base = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta run $i"))
    // near-dup mutations of the first 20 docs: ids offset by 1000, one
    // token changed -> high but sub-1.0 Jaccard with their originals
    val dups = (1 to 20).map(i =>
      (1000L + i, s"alpha beta gamma delta epsilon zeta eta theta jog $i"))
    val docs = spark.createDataFrame(base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.3).collect()
    assert(pairs.nonEmpty)
    val leaks = Corpus.splitLeakage(docs, n = 3, minJaccard = 0.3).collect()
    // every reported pair is a real pair whose id-derived splits differ
    def splitOf(id: Long): String = {
      val r = spark.range(id, id + 1).toDF("doc_id")
        .select(Corpus.splitExpr(col("doc_id"))).head()
      r.getString(0)
    }
    val expected = pairs.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => splitOf(a) != splitOf(b) }.toSet
    assert(leaks.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(leaks.forall(r => r.getString(3) != r.getString(4)))
  }

  test("tfidfTop: rare terms outrank corpus-wide terms; ubiquitous terms score 0") {
    val docs = Seq(
      (0L, "apple banana banana"),
      (1L, "apple cherry"),
      (2L, "apple durian")).toDF("doc_id", "text")
    val out = Corpus.tfidfTop(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")) ->
        (r.getAs[String]("term"), r.getAs[Double]("tfidf"))).toMap
    // df(apple)=3 of N=3 → idf=ln(1)=0; any unique term beats it
    assert(out((0L, 1L))._1 == "banana")
    assert(out((1L, 1L))._1 == "cherry")
    assert(out((0L, 2L)) == ("apple", 0.0))
    assert(out((0L, 1L))._2 == math.round(2 * math.log(3.0) * 1e6) / 1e6)
    assert(out.keys.map(_._2).max <= 2) // k bound
  }

  test("tokenEntropy: zero for repetition, ln(k) for uniform k tokens") {
    val docs = Seq(
      (0L, "spam spam spam spam"),
      (1L, "one two three four")).toDF("doc_id", "text")
    val out = Corpus.tokenEntropy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("entropy")).toMap
    assert(out(0L) == 0.0)
    assert(out(1L) == math.round(math.log(4.0) * 1e6) / 1e6)
  }

  test("ngramContainmentPairs: embedded template scores 1.0 where Jaccard is low") {
    val tpl = "please unsubscribe from this mailing list here"
    val docs = Seq(
      (0L, tpl), // the template itself: 7 tokens → 5 shingles
      (1L, s"a very long and entirely different document body follows now $tpl"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, n = 3, minContainment = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(cont((0L, 1L)) == 1.0) // every template shingle inside doc 1
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5).collect()
    assert(jac.isEmpty) // Jaccard can't see it: |T|/|D| under threshold
  }

  test("unigramLogProb: corpus-rare tokens drag the score down") {
    val docs = Seq(
      (0L, "common common common common"),
      (1L, "common common zzqy common")).toDF("doc_id", "text")
    // corpus: common=7, zzqy=1, total=8
    val out = Corpus.unigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logprob")).toMap
    assert(out(0L) == math.round(math.log(7.0 / 8) * 1e6) / 1e6)
    assert(out(1L) ==
      math.round((3 * math.log(7.0 / 8) + math.log(1.0 / 8)) / 4 * 1e6) / 1e6)
    assert(out(0L) > out(1L))
  }

  test("lmRefScore: reference-LM perplexity ranks in-distribution above unseen, floors exactly") {
    // reference: "the cat sat" twice → bigrams (the,cat)=2 (cat,sat)=2;
    // unigrams the=2 cat=2 sat=2, N=6, V=3
    val ref = Seq((100L, "the cat sat"), (101L, "the cat sat"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (0L, "the cat sat"),        // every transition seen
      (1L, "the sat cat"),        // known tokens, unseen transitions
      (2L, "zz qq ww"),           // nothing known: pure Laplace floor
      (3L, "one"))                // <2 tokens: emits nothing
      .toDF("doc_id", "text")
    val lam = 0.9
    val out = Corpus.lmRefScore(ref, docs, lam).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("lm_ref")).toMap
    assert(!out.contains(3L), "sub-bigram doc must emit nothing")
    assert(out(0L) > out(1L) && out(1L) > out(2L),
      s"ranking violated: $out")
    def q6(x: Double) = math.round(x * 1e6) / 1e6
    // doc 0: both pairs P = lam*(2/2) + (1-lam)*(2+1)/(6+3)
    val pSeen = lam + (1 - lam) * 3.0 / 9
    assert(out(0L) == q6(math.log(pSeen)))
    // doc 2: every pair at the exact unseen-token floor (1-lam)*1/(N+V)
    assert(out(2L) == q6(math.log((1 - lam) * 1.0 / 9)))
    // doc 1: unseen bigrams back off to the known-unigram term only
    assert(out(1L) == q6(math.log((1 - lam) * 3.0 / 9)))
  }

  test("lmRefScore count pruning: floor 1 is identity, floor 2 prunes singleton bigrams to the backoff term, c1 never renormalizes") {
    // reference: (the,cat)=2 but (cat,sat)=1 and (cat,ran)=1 —
    // c1(cat)=2 must stay 2 after pruning drops both singletons
    val ref = Seq((100L, "the cat sat"), (101L, "the cat ran"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (0L, "the cat"),            // surviving bigram
      (1L, "cat sat"),            // pruned bigram → unigram backoff
      (2L, "the cat sat"))        // one of each
      .toDF("doc_id", "text")
    val lam = 0.9
    def run(m: Option[Long]) = Corpus.lmRefScore(ref, docs, lam,
        minBigramCount = m).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("lm_ref")).toMap
    val base = run(None)
    // floor 1 keeps every bigram (counts are >= 1): byte-identical
    assert(run(Some(1L)) == base)
    val pruned = run(Some(2L))
    def q6(x: Double) = math.round(x * 1e6) / 1e6
    // N=6, V=4 (the=2 cat=2 sat=1 ran=1); unigram(sat)=(1+1)/10
    // doc 0 survives with c2/c1 = 2/2 intact (no renormalization)
    assert(pruned(0L) == q6(math.log(lam + (1 - lam) * 3.0 / 10)))
    assert(pruned(0L) == base(0L))
    // doc 1's (cat,sat) was pruned: exactly the unseen-transition backoff
    assert(pruned(1L) == q6(math.log((1 - lam) * 2.0 / 10)))
    // monotone per row: pruning only removes a non-negative λ term
    assert(docs.collect().map(_.getLong(0)).filter(base.contains)
      .forall(id => pruned(id) <= base(id)), s"$pruned vs $base")
    assert(pruned(2L) < base(2L))
  }

  test("packSequences: next-fit bins from running token totals; zero-token prefix safe") {
    // groups=1 puts every doc in one stream → hand-checkable bins
    val docs = Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 0L), (4L, 25L))
      .toDF("doc_id", "n_tokens")
    val out = Corpus.packSequences(docs, budget = 10, groups = 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bin"), r.getAs[Long]("running"))).toMap
    // running: 4, 8, 12, 12, 37 → bin = (running-1) div 10: 0, 0, 1, 1, 3
    assert(out == Map(0L -> (0L, 4L), 1L -> (0L, 8L), 2L -> (1L, 12L),
      3L -> (1L, 12L), 4L -> (3L, 37L)))
    // zero-token doc FIRST in the stream: running=0 must not go negative
    val zeroFirst = Seq((0L, 0L), (1L, 5L)).toDF("doc_id", "n_tokens")
    val z = Corpus.packSequences(zeroFirst, budget = 10, groups = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    assert(z == Map(0L -> 0L, 1L -> 0L))
  }

  test("packSequences: bins partition each group contiguously") {
    val docs = ids.withColumn("n_tokens", (col("doc_id") % 97 + 1).cast("long"))
    val out = Corpus.packSequences(docs, budget = 512, groups = 8).collect()
    val byGroup = out.groupBy(_.getAs[Long]("grp"))
    assert(byGroup.size == 8)
    byGroup.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      // running is a prefix sum in id order
      var acc = 0L
      sorted.foreach { r =>
        acc += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("running") == acc)
      }
      // bins are non-decreasing along the stream and start at 0
      val bins = sorted.map(_.getAs[Long]("bin"))
      assert(bins.head == 0L)
      assert(bins.zip(bins.tail).forall { case (a, b) => b >= a })
    }
  }

  test("chunkDocs: chunks within budget, round-trip concat, packing units fit") {
    val docs = Seq(
      (0L, "a b c d e f g h i j k"),         // 11 tokens → 3+ chunks at budget 4
      (1L, "one two three"),                  // under budget → 1 chunk
      (2L, ""),                               // empty → still 1 (empty) chunk
      (3L, (1 to 64).map(i => s"t$i").mkString(" ")), // exact multiples
      (4L, null.asInstanceOf[String]))        // null → same as empty, never lost
      .toDF("doc_id", "text")
    val ch = Corpus.chunkDocs(docs, budget = 4).collect()
    // every chunk within budget, n_tokens never null (a null n_tokens
    // poisons packBoundaries' manifest concat downstream)
    assert(ch.forall(r => !r.isNullAt(r.fieldIndex("n_tokens")) &&
      r.getAs[Long]("n_tokens") <= 4L))
    // every doc represented; chunk indices contiguous from 0
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // the null-text doc chunks exactly like the empty-text doc
    assert(byDoc(4L).map(r => (r.getAs[Long]("chunk"), r.getAs[String]("chunk_text"),
        r.getAs[Long]("n_tokens"))).toSeq ==
      byDoc(2L).map(r => (r.getAs[Long]("chunk"), r.getAs[String]("chunk_text"),
        r.getAs[Long]("n_tokens"))).toSeq)
    // cost-based chunking must not drop the null-text doc either
    assert(Corpus.chunkDocsByCost(docs, 4, _ => lit(1L)).filter(col("doc_id") === 4L)
      .count() == 1L)
    byDoc.foreach { case (id, rows) =>
      val idxs = rows.map(_.getAs[Long]("chunk")).sorted.toSeq
      assert(idxs == (0L until idxs.length.toLong).toSeq, s"doc $id chunks $idxs")
      // concatenation round-trips to the lowercased ws-normalized text
      val joined = rows.sortBy(_.getAs[Long]("chunk"))
        .map(_.getAs[String]("chunk_text")).mkString(" ")
      val src = docs.filter(col("doc_id") === id).head.getString(1)
      val want = if (src == null) "" else src.toLowerCase // null chunks as empty
      assert(joined == want, s"doc $id round-trip")
      // zero-padded chunk_id string order == numeric chunk order
      val byIdOrder = rows.sortBy(_.getAs[String]("chunk_id")).map(_.getAs[Long]("chunk"))
      assert(byIdOrder.toSeq == idxs.toSeq)
    }
    // doc 0: 11 tokens → chunks of 4,4,3; doc 3: 64 tokens → 16 full chunks
    assert(byDoc(0L).map(_.getAs[Long]("n_tokens")).sorted.toSeq == Seq(3L, 4L, 4L))
    assert(byDoc(3L).length == 16 && byDoc(3L).forall(_.getAs[Long]("n_tokens") == 4L))
    assert(byDoc(2L).map(r => (r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text")))
      .toSeq == Seq((1L, ""))) // split("") = [""] — one empty token, like the oracle
    // chunk then pack at the same budget: every unit fits, so a unit never
    // straddles more than one bin boundary (bin span per unit <= 2)
    val packed = Corpus.packSequences(
      Corpus.chunkDocs(docs, budget = 4), budget = 4,
      groups = 2, tokenCol = "n_tokens", idCol = "chunk_id").collect()
    packed.foreach { r =>
      val (run, n, bin) = (r.getAs[Long]("running"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bin"))
      val startBin = math.max(run - n, 0L) / 4
      assert(bin - startBin <= 1, s"unit spans ${bin - startBin + 1} bins")
    }
  }

  test("chunkDocsSentences: boundaries at sentence ends, lossless reassembly, oversized sentences ship whole") {
    val docs = Seq(
      (0L, "One two three. Four five! Six seven eight nine? Ten."),
      (1L, "no terminal punctuation at all just words"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, (1 to 20).map(i => s"w$i").mkString(" ") + ". Short one."),
      (5L, "Version 3.5 shipped. U.S. sales rose."))
      .toDF("doc_id", "text")
    val ch = Corpus.chunkDocsSentences(docs, budget = 5).collect()
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L)) // no doc vanishes
    // lossless reassembly: chunks in order reproduce the lowercased
    // document's CHARACTER CONTENT (mid-token periods like "3.5" split
    // the sentence and gain a boundary space, but drop no text)
    byDoc.foreach { case (id, rows) =>
      val joined = rows.sortBy(_.getAs[Long]("chunk"))
        .map(_.getAs[String]("chunk_text")).mkString(" ")
      val src = Option(docs.filter(col("doc_id") === id).head.getString(1))
        .getOrElse("")
      assert(joined.replace(" ", "") == src.toLowerCase.replace(" ", ""),
        s"doc $id dropped text: [$joined] vs [$src]")
      // and docs WITHOUT mid-token terminators round-trip exactly
      if (id != 5L) {
        val want = src.toLowerCase.trim.replaceAll("\\s+", " ")
        assert(joined == want, s"doc $id: [$joined] != [$want]")
      }
    }
    // sentence integrity: every chunk ends at a sentence boundary (a
    // terminator run) or is the document's final chunk
    byDoc.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("chunk"))
      sorted.dropRight(1).foreach { r =>
        val t = r.getAs[String]("chunk_text")
        assert(t.isEmpty || t.matches(".*[.!?]+$"),
          s"doc $id chunk [${t}] ends mid-sentence")
      }
    }
    // budget: a chunk exceeds it only by its straddling/oversized
    // sentence (doc 4's 20-token first sentence ships whole)
    val big = byDoc(4L).sortBy(_.getAs[Long]("chunk"))
    assert(big.head.getAs[Long]("n_tokens") == 20L,
      "oversized sentence was split")
    // multi-sentence packing at the budget: doc 0's 3+2-token sentences
    // pack next-fit (5-token chunk boundary after sentence two)
    val d0 = byDoc(0L).sortBy(_.getAs[Long]("chunk"))
      .map(r => (r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens")))
    assert(d0.head == ("one two three. four five!", 5L), s"got ${d0.head}")
    // empty/null docs: one empty chunk each, identical shape
    assert(byDoc(2L).map(r => (r.getAs[Long]("chunk"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens"))).toSeq ==
      byDoc(3L).map(r => (r.getAs[Long]("chunk"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens"))).toSeq)
  }

  test("chunkDocsOverlap: stride=budget equals chunkDocs; stride<budget shares context") {
    val docs = Seq(
      (0L, (1 to 11).map(i => s"w$i").mkString(" ")), // 11 tokens
      (1L, "one two three"),
      (2L, ""),
      (3L, (1 to 8).map(i => s"t$i").mkString(" ")))  // exact multiple of stride
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // bridge: stride == budget degenerates to the plain chunker
    assert(rows(Corpus.chunkDocsOverlap(docs, 4, 4)) ==
      rows(Corpus.chunkDocs(docs, 4)))
    // budget 4, stride 2: window k covers [2k, 2k+4)
    val ch = Corpus.chunkDocsOverlap(docs, budget = 4, stride = 2).collect()
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    // doc 0: 11 tokens → starts at 0,2,4,6,8,10 → 6 windows
    val d0 = byDoc(0L).sortBy(_.getAs[Long]("chunk"))
    assert(d0.length == 6)
    assert(d0.map(_.getAs[String]("chunk_text")).take(2).toSeq ==
      Seq("w1 w2 w3 w4", "w3 w4 w5 w6")) // 2 shared context tokens
    assert(d0.last.getAs[String]("chunk_text") == "w11")
    // doc 3: 8 tokens → starts 0,2,4,6 → windows 4,4,4,2 tokens
    assert(byDoc(3L).map(_.getAs[Long]("n_tokens")).sorted.toSeq == Seq(2L, 4L, 4L, 4L))
    // empty doc still emits one (empty) window
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getAs[String]("chunk_text") == "")
    // every token of doc 0 appears in ≥1 window; interior tokens in exactly 2
    val cover = d0.flatMap(_.getAs[String]("chunk_text").split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, o) => t -> o.length }
    assert((1 to 11).forall(i => cover.getOrElse(s"w$i", 0) >= 1))
    assert((3 to 10).forall(i => cover(s"w$i") == 2), s"coverage: $cover")
  }

  test("CostChunks kernel: fuzz against an independent running-sum fold (incl. zero and varying costs)") {
    // the r17 kernel replaced a window plan that was itself hash-verified;
    // this pins the full semantics (running = inclusive prefix sum,
    // chunk = (max(run,1)-1) div budget, text joined in token order,
    // n_tokens = per-chunk cost sum) against a PLAIN Scala fold sharing
    // no code with the kernel, over randomized token/cost streams
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 40) {
      val n = rnd.nextInt(30)
      val toks = (0 until n).map(i => s"w${rnd.nextInt(8)}_$i")
      val costs = (0 until n).map(_ => rnd.nextInt(5).toLong) // incl. 0
      val budget = 1L + rnd.nextInt(7)
      // independent fold
      var run = 0L
      val expect = scala.collection.mutable.LinkedHashMap[Long, (List[String], Long)]()
      toks.zip(costs).foreach { case (t, c) =>
        run += c
        val chunk = (math.max(run, 1L) - 1L) / budget
        val (ts, s) = expect.getOrElse(chunk, (Nil, 0L))
        expect(chunk) = (ts :+ t, s + c)
      }
      val df = Seq((toks, costs)).toDF("toks", "costs")
        .select(explode(graft.plans.TextExpressions.costChunks(
          col("toks"), col("costs"), budget)).as("c"))
        .select(col("c.chunk"), col("c.chunk_text"), col("c.n_tokens"))
      val got = df.collect().map(r =>
        r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = expect.map { case (k, (ts, s)) => k -> (ts.mkString(" "), s) }.toMap
      assert(got == want, s"trial $trial (n=$n budget=$budget): $got vs $want")
    }
    // all-null costs: running never moves (SUM's null rule), one chunk 0,
    // null n_tokens
    val nullCosts = Seq((Seq("a", "b"), Seq[java.lang.Long](null, null)))
      .toDF("toks", "costs")
      .select(explode(graft.plans.TextExpressions.costChunks(
        col("toks"), col("costs"), 4L)).as("c"))
      .select(col("c.chunk"), col("c.chunk_text"), col("c.n_tokens")).collect()
    assert(nullCosts.length == 1 && nullCosts.head.getLong(0) == 0L &&
      nullCosts.head.getString(1) == "a b" && nullCosts.head.isNullAt(2))
  }

  test("chunkDocsByCost: unit cost equals chunkDocs exactly; BPE costs conserve totals") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (0L, "the thing of the other thing and another thing here now"),
      (1L, "one two three"),
      (2L, ""),
      (3L, (1 to 64).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk"), r.getAs[String]("chunk_id"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens"))).toSet
    // the hash-verified bridge's claim, pinned in spec: unit cost makes
    // running = position + 1, so membership, text and counts are identical
    assert(rows(Corpus.chunkDocsByCost(docs, 4, _ => lit(1L))) ==
      rows(Corpus.chunkDocs(docs, budget = 4)))
    // BPE costs: chunk boundaries fall at merged-token budgets
    val budget = 6L
    val ch = Corpus.chunkDocsByCost(docs, budget,
      tok => TextFunctions.bpeCount(tok)).collect()
    val costOfText = docs.select(col("doc_id"),
      TextFunctions.bpeCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == Set(0L, 1L, 2L, 3L)) // empty doc still chunks
    byDoc.foreach { case (id, rs) =>
      // whitespace splitting never splits an alnum run: per-chunk BPE
      // costs sum exactly to the document's total
      assert(rs.map(_.getAs[Long]("n_tokens")).sum == costOfText(id), s"doc $id")
      // n_tokens IS the BPE count of the chunk's own text
      rs.foreach { r =>
        val recount = Seq(Tuple1(r.getAs[String]("chunk_text"))).toDF("t")
          .select(TextFunctions.bpeCount(col("t"))).head.getLong(0)
        assert(r.getAs[Long]("n_tokens") == recount)
      }
      // round-trip: chunks concatenate back to the ws-normalized original
      val joined = rs.sortBy(_.getAs[Long]("chunk"))
        .map(_.getAs[String]("chunk_text")).mkString(" ")
      assert(joined == docs.filter(col("doc_id") === id).head.getString(1).toLowerCase)
      // next-fit bound: a chunk exceeds the budget by at most its
      // straddling token's cost − 1 (single-word costs are small here)
      val maxWordCost = docs.filter(col("doc_id") === id)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .select(TextFunctions.bpeCount(col("w"))).collect()
        .map(_.getLong(0)).foldLeft(0L)(math.max)
      rs.foreach(r => assert(r.getAs[Long]("n_tokens") <= budget + maxWordCost - 1,
        s"doc $id chunk ${r.getAs[Long]("chunk")} overflows"))
    }
  }

  test("stripMarkup: tags, script/style/comment bodies, entities — decoded exactly once") {
    import graft.functions.TextFunctions
    val got = Fixtures.markupDocs(spark)
      .select(col("doc_id"), TextFunctions.stripMarkup(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(
      0L -> "plain prose stays exactly as is",
      1L -> "a paragraph and bold text",
      2L -> "visible body", // script CONTENT vanished, not just its tags
      3L -> "styled body",
      4L -> "before after", // comment spanning a newline
      5L -> "entities & escapes: 1 < 2 > 0 \"q\" 'a' 'b' x y",
      6L -> "double escape &lt; decodes once", // &amp;lt; decoded ONCE
      7L -> "one two", // tags become spaces, list items don't fuse
      8L -> "mixed tags here", // case-insensitive script/tags
      9L -> "unclosed sign", // greedy-to-first-> for a dangling <
      10L -> "")
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet)}")
  }

  test("normalizeText: every rule fires; clean text and empty string are fixpoints") {
    val cases = Seq(
      "curly ‘quotes’ and “double” ones" -> "curly 'quotes' and \"double\" ones",
      "dashes – en and — em" -> "dashes - en and - em",
      "windows\r\nline\rendings" -> "windows\nline\nendings",
      "control\u0001chars\u0007here\u007F" -> "controlcharshere",
      "nbsp\u00A0separated" -> "nbsp separated",
      "  pad  " -> "pad",
      "tabs\t\tand   runs" -> "tabs and runs",
      "a\n\n\n\n\nb" -> "a\n\nb",
      " x \n y " -> "x\ny",
      "already clean text" -> "already clean text",
      "" -> "")
    val df = spark.createDataFrame(cases.zipWithIndex.map { case ((in, _), i) =>
      (i.toLong, in)
    }).toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(out(i.toLong) == want, s"case $i: ${out(i.toLong)} != $want (in: $in)")
    }
    // idempotent: normalizing normalized text is the identity
    val twice = df.select(col("id"),
      TextFunctions.normalizeText(TextFunctions.normalizeText(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == out)
  }

  test("redactPii: every pattern scrubbed; counts audit the raw text; clean rows intact") {
    val counts = TextFunctions.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    val out = Fixtures.piiDocs(spark)
      .select(Seq(col("pii_id"), col("text"),
        TextFunctions.redactPii(col("text")).as("redacted")) ++ counts: _*)
      .collect().map(r => r.getAs[Long]("pii_id") -> r).toMap
    assert(out(0L).getAs[String]("redacted") ==
      "contact <EMAIL> for the quarterly report")
    assert(out(1L).getAs[String]("redacted") == "servers <IP> and <IP> rotated their keys")
    assert(out(2L).getAs[String]("redacted") == "call <PHONE> or <PHONE> before noon")
    assert(out(3L).getAs[String]("redacted") ==
      "card <ID> was declined; account <ID> flagged")
    // clean + near-miss rows byte-identical
    assert(out(5L).getAs[String]("redacted") == out(5L).getAs[String]("text"))
    assert(out(6L).getAs[String]("redacted") == out(6L).getAs[String]("text"))
    // mixed row: one of each kind, none double-counted
    val r9 = out(9L)
    assert(r9.getAs[String]("redacted") == "mixed: <EMAIL> at <IP> dialed <PHONE>")
    assert(r9.getAs[Long]("n_email") == 1 && r9.getAs[Long]("n_ip") == 1 &&
      r9.getAs[Long]("n_phone") == 1 && r9.getAs[Long]("n_idnum") == 0)
  }

  test("piiCounts reconcile with the redaction chain when patterns overlap") {
    // the 9-digit local part is consumed by the email redaction; counting
    // idnum on RAW text would report phantom unredacted PII (n_idnum=1
    // with no <ID> in the output) — progressive counts must say 0
    val counts = TextFunctions.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    val row = Seq((0L, "reach me at 123456789@example.com today"))
      .toDF("pii_id", "text")
      .select(Seq(TextFunctions.redactPii(col("text")).as("redacted")) ++ counts: _*)
      .head()
    assert(row.getAs[String]("redacted") == "reach me at <EMAIL> today")
    assert(row.getAs[Long]("n_email") == 1 && row.getAs[Long]("n_idnum") == 0)
  }

  test("approx sketches track their exact twins within declared error") {
    val dir = "/root/testdata/sf0.001"
    val exactD = SparkEntry.queries("distinct_counts")(spark, dir).head()
    val approxD = SparkEntry.queries("distinct_counts_approx")(spark, dir).head()
    for (c <- Seq("n_parts", "n_supps", "n_orders")) {
      val e = exactD.getAs[Long](c).toDouble
      val a = approxD.getAs[Long](c).toDouble
      assert(math.abs(a - e) / e < 0.1, s"$c: approx $a vs exact $e") // rsd 0.02, 5σ slack
    }
    val exactQ = SparkEntry.queries("value_quantiles")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    val approxQ = SparkEntry.queries("value_quantiles_approx")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    for ((flag, (p50, p95)) <- exactQ; (a50, a95) = approxQ(flag)) {
      assert(math.abs(a50 - p50) / p50 < 0.05, s"$flag p50: $a50 vs $p50")
      assert(math.abs(a95 - p95) / p95 < 0.05, s"$flag p95: $a95 vs $p95")
    }
  }

  test("dropBottomQuantile: bottom decile cut exactly; approx twin close") {
    // scores 0..99, each 10 times: the 0.1-quantile interpolates to 9.9,
    // so exactly the 900 rows scoring >= 10 survive
    val scored = ids.withColumn("score", (col("doc_id") % 100).cast("double"))
    val kept = Corpus.dropBottomQuantile(scored, "score", 0.1).collect()
    assert(kept.length == 900)
    assert(kept.map(_.getAs[Double]("score")).min == 10.0)
    val approxKept = Corpus.dropBottomQuantile(scored, "score", 0.1, approx = true).count()
    assert(math.abs(approxKept - 900L) <= 30L)
  }

  test("dropBottomQuantileByStratum: each stratum loses ITS worst decile, not the global one") {
    // stratum a scores 0..99, stratum b scores 1000..1099 (500 rows each):
    // a global 10% cut would fall entirely on stratum a
    val scored = ids.withColumn("stratum",
      when(col("doc_id") % 2 === 0, "a").otherwise("b"))
      .withColumn("score",
        (col("doc_id") % 100 + when(col("stratum") === "b", 1000).otherwise(0))
          .cast("double"))
    val kept = Corpus.dropBottomQuantileByStratum(scored, "score", 0.1, "stratum")
    val byStratum = kept.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), min(col("score")).as("lo"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 10 rows per score value (a: even residues, b: odd+1000): the
    // within-stratum 0.1-quantile interpolates to 9.8 / 1010.8, so each
    // stratum keeps exactly its top 450
    assert(byStratum("a") == ((450L, 10.0)), s"a: ${byStratum("a")}")
    assert(byStratum("b") == ((450L, 1011.0)), s"b: ${byStratum("b")}")
    // contrast: the global cut takes everything from stratum a
    val globalKept = Corpus.dropBottomQuantile(scored, "score", 0.1)
    assert(globalKept.filter(col("stratum") === "b").count() == 500)
  }

  test("quality gates pay ONE scoring pass: the gate plan reads a materialized frame") {
    // the scored lineage (unigramLogProb: explode + two counting aggs +
    // joins) must appear ONCE — materialized before thresholding — not
    // re-expanded in both the threshold aggregate and the filter. The
    // gate's own plan therefore contains NO Generate (explode) node and
    // scans the checkpointed RDD instead.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val gated = Corpus.dropBottomQuantile(
      Corpus.unigramLogProb(docs), "logprob", 0.1)
    val nodes = SparkTestBase.planNodeNames(gated)
    assert(!nodes.exists(_.contains("Generate")),
      s"scoring lineage re-expanded inside the gate plan: $nodes")
    assert(nodes.exists(n => n.contains("ExistingRDD") || n.contains("Scan")),
      s"expected a materialized scan: $nodes")
    assert(gated.count() > 0)
    val strat = Corpus.dropBottomQuantileByStratum(
      Corpus.unigramLogProb(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
      "logprob", 0.1, "source")
    val statNodes = SparkTestBase.planNodeNames(strat)
    assert(!statNodes.exists(_.contains("Generate")),
      s"stratified gate re-expanded scoring: $statNodes")
    assert(strat.count() > 0)
  }

  test("corpusDiff: all four statuses; whitespace reflow reads as unchanged") {
    val prev = Seq((1L, "kept the same"), (2L, "will change"), (3L, "will vanish"),
      (4L, "spaced   out text")).toDF("doc_id", "text")
    val cur = Seq((1L, "kept the same"), (2L, "has changed"), (5L, "brand new"),
      (4L, "  spaced out   text ")).toDF("doc_id", "text")
    val st = Corpus.corpusDiff(prev, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      5L -> "added", 4L -> "unchanged"))
    // presence is a flag, not fingerprint nullness: null-text docs are
    // still PRESENT in their snapshot
    val prevN = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "real text")).toDF("doc_id", "text")
    val curN = Seq((1L, null.asInstanceOf[String]), (2L, "now has text"))
      .toDF("doc_id", "text")
    val stN = Corpus.corpusDiff(prevN, curN).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stN == Map(1L -> "unchanged", // null -> null: same (null-safe)
      2L -> "changed",                   // null -> text: changed, not 'added'
      3L -> "removed"),                  // present only in prev despite null fp
      s"got $stN")
  }

  test("mergeable HLL sketches: disjoint increments merge to the one-pass estimate") {
    val docs = ids.withColumn("lang",
      when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    val incA = docs.filter(Corpus.hashBucket(col("doc_id")) < 50)
    val incB = docs.filter(Corpus.hashBucket(col("doc_id")) >= 50)
    // per-increment sketch rows survive a parquet round-trip (binary col)
    val dir = java.nio.file.Files.createTempDirectory("hll_inc").toString
    Sketches.hllIncrement(incA, Seq("lang"), "doc_id").write.parquet(s"$dir/a")
    Sketches.hllIncrement(incB, Seq("lang"), "doc_id").write.parquet(s"$dir/b")
    val persisted = spark.read.parquet(s"$dir/a")
      .unionByName(spark.read.parquet(s"$dir/b"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("doc_id_distinct"), r.getAs[Long]("n_rows"))).toMap
    val merged = asMap(Sketches.hllMerge(persisted, Seq("lang"), "doc_id"))
    // HLL union is register-wise max: merging disjoint increment sketches
    // must equal sketching the whole corpus in one pass, byte-for-byte
    val onePass = asMap(Sketches.hllMerge(
      Sketches.hllIncrement(docs, Seq("lang"), "doc_id"), Seq("lang"), "doc_id"))
    assert(merged == onePass)
    // row counts are exact; distinct estimates within HLL error of exact
    val exact = docs.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("d"), count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("d"), r.getAs[Long]("n"))).toMap
    assert(merged.keySet == exact.keySet)
    exact.foreach { case (lang, (d, n)) =>
      assert(merged(lang)._2 == n, s"$lang row count")
      assert(math.abs(merged(lang)._1 - d) <= math.max(1L, (d * 0.05).toLong),
        s"$lang distinct estimate ${merged(lang)._1} vs exact $d")
    }
  }

  test("KLL quantile sketches: increments merge within rank error, counts exact") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val incA = li.filter(Corpus.hashBucket(col("l_orderkey")) < 50)
    val incB = li.filter(Corpus.hashBucket(col("l_orderkey")) >= 50)
    // per-increment sketch rows survive a parquet round-trip (binary col)
    val dir = java.nio.file.Files.createTempDirectory("kll_inc").toString
    Sketches.kllIncrement(incA, Seq("l_returnflag"), "l_extendedprice")
      .write.parquet(s"$dir/a")
    Sketches.kllIncrement(incB, Seq("l_returnflag"), "l_extendedprice")
      .write.parquet(s"$dir/b")
    val persisted = spark.read.parquet(s"$dir/a")
      .unionByName(spark.read.parquet(s"$dir/b"))
    // TypedImperativeAggregate partials merge map-side: the plan carries
    // a partial and a final ObjectHashAggregate around one exchange, so
    // raw rows never cross the wire — only sketch state does
    val incPlan = SparkTestBase.planNodeNames(
      Sketches.kllIncrement(incA, Seq("l_returnflag"), "l_extendedprice"))
    assert(incPlan.count(_.contains("ObjectHashAggregate")) >= 2,
      s"KLL increment must map-side combine: $incPlan")
    val merged = Sketches.kllMerge(persisted, Seq("l_returnflag"), "l_extendedprice")
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Long]("n_rows")))
      .toMap
    // exact values per group, collected once for rank evaluation
    val exactVals = li.select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (f, vs) => f -> vs.map(_._2).sorted }
    assert(merged.keySet == exactVals.keySet)
    // KLL guarantee (merge preserves it): the estimate's NORMALIZED RANK
    // in the exact data is within the sketch's rank error of the target
    // — KLL bounds rank, not value, so that is the honest assertion.
    // k=200 gives ~1.65% at 99% conf; 4% absorbs randomized compaction.
    def rankOf(vs: Array[Double], q: Double): Double =
      vs.count(_ <= q).toDouble / vs.length
    exactVals.foreach { case (flag, vs) =>
      val (p50, p95, n) = merged(flag)
      assert(n == vs.length, s"$flag row count") // counts are exact sums
      assert(math.abs(rankOf(vs, p50) - 0.5) <= 0.04, s"$flag p50 rank drift")
      assert(math.abs(rankOf(vs, p95) - 0.95) <= 0.04, s"$flag p95 rank drift")
    }
    // merge ≡ one-pass in the ERROR-BOUND sense (not bytewise — KLL
    // compaction is randomized): the one-pass sketch's estimates obey the
    // same rank bound, so both routes answer within tolerance of exact
    val onePass = Sketches.kllMerge(
      Sketches.kllIncrement(li, Seq("l_returnflag"), "l_extendedprice"),
      Seq("l_returnflag"), "l_extendedprice")
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    exactVals.foreach { case (flag, vs) =>
      assert(math.abs(rankOf(vs, onePass(flag)._1) - 0.5) <= 0.04)
      assert(math.abs(rankOf(vs, onePass(flag)._2) - 0.95) <= 0.04)
    }
  }

  test("kllMerge: k threads to the union buffer; rank names never collide") {
    // DataSketches union adopts the SMALLEST k involved — so merging
    // k=400 increments through a default k=200 union buffer would
    // silently degrade accuracy; with k threaded, the merged sketch
    // keeps the configured k (observable via its serialized state size /
    // normalized rank error bound staying at the k=400 level)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val inc = Sketches.kllIncrement(li, Seq("l_returnflag"), "l_extendedprice",
      k = 400)
    val merged = Sketches.kllMerge(inc, Seq("l_returnflag"), "l_extendedprice",
      ranks = Seq(0.5), k = 400)
    assert(merged.columns.toSeq == Seq("l_returnflag", "p50", "n_rows"))
    assert(merged.count() > 0)
    // fractional-percent ranks get unambiguous names instead of both
    // rounding to p95/p96 (or colliding)
    assert(Sketches.rankColName(0.954) == "p95_4")
    assert(Sketches.rankColName(0.955) == "p95_5")
    assert(Sketches.rankColName(0.5) == "p50")
    assert(Sketches.rankColName(1.0) == "p100")
    val twoClose = Sketches.kllMerge(inc, Seq("l_returnflag"),
      "l_extendedprice", ranks = Seq(0.954, 0.955), k = 400)
    assert(twoClose.columns.distinct.length == twoClose.columns.length,
      twoClose.columns.mkString(","))
  }

  test("kllMerge: sketch rows persisted as KllDoublesSketch bytes merge and read through the built-ins") {
    import org.apache.datasketches.kll.KllDoublesSketch
    // increments persisted in the KllDoublesSketch.toByteArray layout
    // (the binary state the earlier hand-written aggregate wrote) union
    // with built-in sketch rows and read through kllMerge unchanged
    def legacy(vs: Range): Array[Byte] = {
      val sk = KllDoublesSketch.newHeapInstance(Sketches.KllK)
      vs.foreach(v => sk.update(v.toDouble))
      sk.toByteArray
    }
    val old = Seq(("a", legacy(1 to 500), 500L), ("b", legacy(1 to 100), 100L))
      .toDF("grp", "v_kll", "n_rows")
    val fresh = Sketches.kllIncrement(
      (501 to 1000).map(i => ("a", i.toDouble)).toDF("grp", "v"), Seq("grp"), "v")
    val merged = Sketches.kllMerge(old.unionByName(fresh), Seq("grp"), "v")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("p50"), r.getAs[Long]("n_rows"))).toMap
    assert(merged("a")._2 == 1000L && merged("b")._2 == 100L)
    assert(math.abs(merged("a")._1 - 500.0) <= 40.0, s"merged p50 ${merged("a")}")
    assert(math.abs(merged("b")._1 - 50.0) <= 4.0, s"legacy-only p50 ${merged("b")}")
    // an all-null group sketches nothing and reads a null quantile
    val nulls = Sketches.kllMerge(Sketches.kllIncrement(
        Seq(("z", Option.empty[Double]), ("z", None)).toDF("grp", "v"), Seq("grp"), "v"),
      Seq("grp"), "v").collect()
    assert(nulls.length == 1 && nulls(0).isNullAt(1) && nulls(0).isNullAt(2) &&
      nulls(0).getAs[Long]("n_rows") == 2L, nulls.mkString(","))
  }

  test("cleanCorpus: every gate and both dedup passes fire; survivors get splits") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and that is for the win"),
      (1L, "the quick brown fox jumps over the lazy dog and that is for the win"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat and that is for the win"), // near dup of 0
      (3L, "der hund und die katze das ist nicht ein mit und der die das und der"), // wrong language
      (4L, "1234 5678 9012 3456 7890 1234 5678 9012 3456 7890 1111 2222 3333"), // digit-heavy
      (5L, "short text the")) // too few tokens
      .toDF("doc_id", "text")
    val out = Corpus.cleanCorpus(docs).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(0L))
    assert(out.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
  }

  test("cleanCorpus full: decontamination, redaction, and rebalancing stages fire") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and that is the winner here", "a"),
      // survives base clean but matches the eval doc's n-grams → decontaminated
      (1L, "for the record the exam answer is strictly forty two and that is final", "a"),
      // survives; carries PII that must come out redacted
      (2L, "contact the office for details and email me at bob@example.com for the data", "b"),
      // survives base clean but stratum 'c' samples at 0% → rebalanced away
      (3L, "an entirely different sentence about the weather and the tides for today", "c"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((100L, "the exam answer is strictly forty two")).toDF("doc_id", "text")
    // base clean keeps all four (no dups, all en, long enough)
    assert(Corpus.cleanCorpus(docs).collect().map(_.getAs[Long]("doc_id")).toSet ==
      Set(0L, 1L, 2L, 3L))
    val full = Corpus.cleanCorpus(docs, evalDocs = Some(ev), evalMinOverlap = 3,
      redact = true, strata = Some(("source", Map("c" -> 0), 100))).collect()
    val byId = full.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(byId.keySet == Set(0L, 2L)) // 1 decontaminated, 3 rebalanced out
    assert(byId(2L).contains("<EMAIL>") && !byId(2L).contains("bob@example.com"))
    assert(full.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
  }

  test("plan shapes: splits/sample/redaction are map-only; decontamination broadcasts eval") {
    val docsPath = java.nio.file.Files.createTempDirectory("corpus_plan").toString
    ids.withColumn("text", concat(lit("alpha beta gamma delta epsilon zeta eta doc "),
      col("doc_id"))).write.mode("overwrite").parquet(docsPath)
    val docs = spark.read.parquet(docsPath)
    // split / sample / redact: pure scan+project/filter — ZERO exchanges
    // (the 100 TB claim: assigning splits costs nothing beyond the scan)
    for (df <- Seq(
        graft.operators.Corpus.splitAssign(docs),
        graft.operators.Corpus.sampleByHash(docs, 10),
        graft.operators.Corpus.chunkDocs(docs, budget = 4),
        docs.select(TextFunctions.redactPii(col("text"))))) {
      df.queryExecution.toRdd.count()
      val nodes = SparkTestBase.planNodeNames(df)
      assert(!nodes.exists(_.contains("Exchange")), s"unexpected shuffle in: $nodes")
    }
    // decontamination: eval side reaches the shingle join as a BROADCAST,
    // and the CORPUS side streams map-only into it — no shuffle exchange
    // anywhere beneath a corpus scan (the only exchanges aggregate the
    // post-join matches; the eval branch may shuffle, it is tiny)
    val evPath = java.nio.file.Files.createTempDirectory("corpus_plan_ev").toString
    docs.filter(col("doc_id") < 20).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(evPath)
    val ev = spark.read.parquet(evPath)
    val pairs = Corpus.contaminationPairs(docs, ev, n = 3, minOverlap = 1)
    pairs.queryExecution.toRdd.count()
    val plan = pairs.queryExecution.executedPlan
    val joins = SparkTestBase.planSeq(plan).filter(_.nodeName.contains("BroadcastHashJoin"))
    assert(joins.nonEmpty, s"no broadcast join in: ${SparkTestBase.planNodeNames(pairs)}")
    // the join's STREAMED side is the corpus scan with no shuffle between
    val streamed = SparkTestBase.planSeq(joins.head.children.head)
    assert(streamed.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.exists(_.metadata.get("Location").exists(_.contains(docsPath))),
      "streamed join side is not the corpus scan")
    assert(!streamed.exists(p =>
      p.nodeName.contains("Exchange") && !p.nodeName.contains("Broadcast")),
      s"corpus-side shuffle below the contamination join: ${streamed.map(_.nodeName)}")
  }

  test("decontaminate: corpus docs overlapping the eval set drop; others survive") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight again"), // contains eval text
      (1L, "entirely unrelated corpus content speaks of other things"),
      (2L, "the quick brown fox appears briefly here")) // shares only 2 shingles
      .toDF("doc_id", "text")
    val ev = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Corpus.contaminationPairs(corpus, ev, n = 3, minOverlap = 5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id"),
        r.getAs[Long]("n_shared")))
    assert(pairs.toSeq == Seq((0L, 100L, 7L))) // eval doc has 7 shingles, all in doc 0
    val kept = Corpus.decontaminate(corpus, ev, n = 3, minOverlap = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L)) // doc 2's 2-shingle brush is under the threshold
  }

  test("decontaminateWinnow: the winnowing guarantee catches long verbatim quotes") {
    // doc 0 embeds a 9-token verbatim eval passage: >= g + k - 1 = 8
    // tokens, so the guarantee promises >= 1 shared selected fingerprint
    // and at minShared=1 the doc MUST drop; doc 1 is unrelated; doc 2
    // brushes the eval text with fewer than k shared tokens (no shared
    // k-gram at all, let alone a selected one)
    val corpus = Seq(
      (0L, "intro words then the quick brown fox jumps over the lazy dog tonight"),
      (1L, "entirely unrelated corpus content speaks of other things at length"),
      (2L, "the quick brown cat appears briefly here with more words after"))
      .toDF("doc_id", "text")
    val ev = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val kept = Corpus.decontaminateWinnow(corpus, ev, k = 5, g = 4, minShared = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L))
    // eval docs inside the corpus remove themselves (they share ALL their
    // own fingerprints) — the decontaminate parity property
    val withEval = corpus.unionByName(ev.select(col("doc_id"), col("text")))
    val kept2 = Corpus.decontaminateWinnow(withEval, ev, k = 5, g = 4, minShared = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!kept2.contains(100L) && kept2.contains(1L))
  }

  test("ngramRepetition: looped sentence scores ~1, diverse text 0, short doc 0") {
    val docs = Seq(
      // one sentence repeated: every 3-gram after the first pass is a dup
      (0L, Array.fill(10)("the cat sat on the mat").mkString(" ")),
      (1L, "each word here appears exactly once in this document"),
      (2L, "two words")) // < n tokens: whole-text fallback, one shingle
      .toDF("doc_id", "text")
    val out = Corpus.ngramRepetition(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_ngram_ratio")).toMap
    assert(out(0L) > 0.85, s"looped doc scored ${out(0L)}")
    assert(out(1L) == 0.0 && out(2L) == 0.0)
    // token-level distinct_ratio cannot see it: the looped doc's sentence
    // is internally diverse (6 distinct tokens of 60 -> 0.1 is LOW here,
    // but a loop of a LONG diverse sentence defeats it; the 3-gram
    // instance ratio catches both)
    val looped = Array.fill(4)(
      "every token in this long sentence is distinct and carefully chosen").mkString(" ")
    val one = Corpus.ngramRepetition(Seq((9L, looped)).toDF("doc_id", "text"), n = 3)
      .head.getAs[Double]("dup_ngram_ratio")
    assert(one > 0.7, s"long-loop doc scored $one")
    // a pure projection: no explode fan-out, no shuffle
    val nodes = SparkTestBase.planNodeNames(Corpus.ngramRepetition(docs))
    assert(!nodes.exists(n => n.contains("Exchange") || n.contains("Generate")),
      s"repetition ratio should be map-only: $nodes")
  }

  test("lineRepetition: one huge duplicated line dominates chars, not instances") {
    val docs = Seq(
      (0L, "a\nb\nc\nd"),                       // all unique
      (1L, "same line\nsame line\nsame line"),  // all dup
      // 1 big line twice + 4 short uniques: instance ratio 1/6 is small,
      // char ratio is dominated by the big line — the signal the char
      // form exists for
      (2L, Seq("x", "y", "z", "w",
        "this enormously long boilerplate line occurs exactly twice here",
        "this enormously long boilerplate line occurs exactly twice here")
        .mkString("\n")))
      .toDF("doc_id", "text")
    val out = Corpus.lineRepetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("dup_line_ratio"), r.getAs[Double]("dup_char_ratio")))).toMap
    assert(out(0L) == ((0.0, 0.0)))
    assert(out(1L) == ((0.666667, 1.0))) // rounded to 6dp by the operator
    val (lr, cr) = out(2L)
    assert(lr < 0.2 && cr > 0.9, s"instance=$lr char=$cr")
  }

  test("mixByBudget: per-stratum mass tracks weight·budget; unlisted strata drop") {
    // 3 strata × 300 docs of 100 chars each (30k chars per stratum)
    val docs = ids.limit(900)
      .withColumn("src", concat(lit("s"), col("doc_id") % 3))
      .withColumn("n_chars", lit(100L))
    val mixed = Corpus.mixByBudget(docs, Map("s0" -> 0.6, "s1" -> 0.4),
      budget = 20000, strataCol = "src")
    val mass = mixed.groupBy(col("src")).agg(sum(col("n_chars")).as("m"))
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Long]("m")).toMap
    // targets: s0 → 12k of 30k (rate .4), s1 → 8k (rate .267), s2 → gone
    assert(!mass.contains("s2"))
    assert(math.abs(mass("s0") - 12000L) < 3000, s"s0 mass ${mass("s0")}")
    assert(math.abs(mass("s1") - 8000L) < 3000, s"s1 mass ${mass("s1")}")
    // weight large enough → rate caps at 1.0, stratum kept whole
    val whole = Corpus.mixByBudget(docs, Map("s0" -> 10.0), budget = 1e9,
      strataCol = "src")
    assert(whole.count() == 300)
    // deterministic: same inputs, same rows
    assert(mixed.collect().map(_.getLong(0)).toSet ==
      Corpus.mixByBudget(docs, Map("s0" -> 0.6, "s1" -> 0.4), budget = 20000,
        strataCol = "src").collect().map(_.getLong(0)).toSet)
  }

  test("mixWithRepeats: rates above 1 ship epochs; mass tracks weight·budget; map-only") {
    // 2 strata × 300 docs of 100 chars (30k chars per stratum)
    val docs = spark.range(0, 600).toDF("doc_id")
      .withColumn("src", concat(lit("s"), col("doc_id") % 2))
      .withColumn("n_chars", lit(100L))
    val mixed = Corpus.mixWithRepeats(docs, Map("s0" -> 0.7, "s1" -> 0.3),
      budget = 100000, strataCol = "src")
    // s0 rate = 70k/30k ≈ 2.33: every doc ships >= 2 epochs, ~1/3 ship 3
    val s0 = mixed.filter(col("src") === "s0")
    val perDoc = s0.groupBy(col("doc_id")).count().collect().map(_.getLong(1))
    assert(perDoc.forall(n => n == 2 || n == 3))
    // copy_idx is a dense 0-based epoch index per doc
    val idx = s0.filter(col("doc_id") === s0.agg(min(col("doc_id"))).head().getLong(0))
      .select(col("copy_idx")).collect().map(_.getLong(0)).sorted
    assert(idx.headOption.contains(0L) && idx.sameElements(idx.indices.map(_.toLong)))
    // shipped mass tracks weight·budget for both the >1 and <1 rate
    val mass = mixed.groupBy(col("src")).agg(sum(col("n_chars")).as("m"))
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Long]("m")).toMap
    assert(math.abs(mass("s0") - 70000L) < 5000, s"s0 mass ${mass("s0")}")
    assert(math.abs(mass("s1") - 30000L) < 5000, s"s1 mass ${mass("s1")}")
    // map-only plan: no exchange anywhere (the totals agg is a separate job)
    val nodes = SparkTestBase.planNodeNames(mixed)
    assert(!nodes.exists(_.contains("Exchange")), s"shuffle in: $nodes")
    // epoch-cap guard fails loudly
    intercept[IllegalArgumentException] {
      Corpus.mixWithRepeats(docs, Map("s0" -> 1.0), budget = 1e9,
        strataCol = "src", maxRepeat = 100)
    }
  }

  test("shardAssign: map-only, balanced, independent of split buckets; keys unique") {
    val out = Corpus.shardAssign(ids, nShards = 16)
    val rows = out.collect()
    val nodes = SparkTestBase.planNodeNames(out)
    assert(!nodes.exists(_.contains("Exchange")), s"shard assignment shuffled: $nodes")
    val byShard = rows.groupBy(_.getAs[Long]("shard")).view.mapValues(_.length)
    assert(byShard.size == 16 && byShard.values.forall(n => n > 30 && n < 100),
      s"unbalanced shards: ${byShard.toMap}")
    // sort_key is a total order: no ties across 1000 docs
    assert(rows.map(_.getAs[String]("sort_key")).distinct.length == rows.length)
    // independent streams: one shard mixes many split buckets (on a shared
    // stream, shard s would hold only buckets ≡ s mod 16)
    val shard0Buckets = Corpus.splitAssign(Corpus.shardAssign(ids, nShards = 16))
      .filter(col("shard") === 0).select(col("bucket")).distinct().count()
    assert(shard0Buckets > 16, s"shard 0 holds only $shard0Buckets split buckets")
  }

  test("writeShards: one directory per shard, rows hash-ordered within, re-run identical") {
    val path = java.nio.file.Files.createTempDirectory("shards").toString
    Corpus.writeShards(ids, path, nShards = 8)
    val back = spark.read.parquet(path)
    assert(back.count() == 1000)
    assert(back.select(col("shard")).distinct().count() == 8)
    // within one shard directory the file rows are sorted by sort_key
    val one = spark.read.parquet(s"$path/shard=3").select(col("sort_key"))
      .collect().map(_.getString(0)).toSeq
    assert(one.nonEmpty && one == one.sorted, "shard 3 not internally sorted")
    // determinism: a second writer run reproduces the same membership
    val path2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Corpus.writeShards(ids, path2, nShards = 8)
    val a = spark.read.parquet(s"$path/shard=3").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val b = spark.read.parquet(s"$path2/shard=3").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("decontaminateBloom: removals contain the exact operator's; clean docs survive") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight again"), // 7 shared
      (1L, "entirely unrelated corpus content speaks of other things"),
      (2L, "the quick brown fox appears briefly here"), // 2 shared < minOverlap
      // 3 shingles shared with eval doc A + 3 with eval doc B: exact
      // per-pair counting keeps it, bloom UNION counting (6 >= 5) drops
      // it — the documented one-sided difference
      (3L, "the quick brown fox jumps past seven green bottles stood on shelves"))
      .toDF("doc_id", "text")
    val ev = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "seven green bottles stood on the wall"))
      .toDF("doc_id", "text")
    val exact = Corpus.decontaminate(corpus, ev, n = 3, minOverlap = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val bloom = Corpus.decontaminateBloom(corpus, ev, n = 3, minOverlap = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(exact == Set(1L, 2L, 3L))
    assert(bloom == Set(1L, 2L)) // union criterion drops 3; never leaks 0
    assert(bloom.subsetOf(exact), "bloom survivors must be a subset of exact survivors")
  }

  test("decontaminateBloom plan: corpus side is map-only up to the match aggregation") {
    // the probe must be a filter fused into the corpus scan+explode — no
    // join, no exchange before the flagged-shingle aggregation
    val docs = ids.withColumn("text",
      concat(lit("alpha beta gamma delta epsilon zeta doc "), col("doc_id")))
    val ev = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Corpus.decontaminateBloom(docs, ev, n = 3, minOverlap = 4)
    assert(out.collect().isEmpty) // every doc shares the 4-shingle boilerplate
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe expression missing from the plan:\n$plan")
    val joins = SparkTestBase.planNodeNames(out).count(_.contains("Join"))
    assert(joins == 1, s"expected ONLY the final anti-join, got $joins joins")
  }

  test("semanticDedup: min id per cosine cluster survives, singletons untouched") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // cosine ~0.995 with 0
      (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 0/1
      (3L, Array(0.0f, 0.98f, 0.2f))) // cosine ~0.98 with 2
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairsExact(vecs, minCosine = 0.9)
    val out = Similarity.semanticDedup(vecs.select(col("vec_id")), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 2L)) // 1 collapsed into 0, 3 into 2
  }

  test("asofJoin: latest right row at-or-before each left ts, per key, inclusive ties") {
    import graft.operators.TimeSeries
    val left = Seq(
      (1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L), // key 10 at t=100,205,300
      (4L, 20L, 150L), // key 20: no prior right row at t=150
      (5L, 20L, 210L))
      .toDF("event_id", "k", "t")
    val right = Seq(
      (10L, 100L, 1.0), (10L, 200L, 2.0), (10L, 205L, 3.0), // tie with left t=205
      (20L, 200L, 9.0))
      .toDF("k", "t", "v")
    val out = TimeSeries.asofJoin(left, right, Seq("k"), "t", Seq("v"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[Any]("v_asof")).map(_.asInstanceOf[Double])).toMap
    assert(out == Map(
      1L -> Some(1.0), // exact-ts match is inclusive
      2L -> Some(3.0), // tie at 205 → the right row at the same ts wins
      3L -> Some(3.0), // latest of the three right rows
      4L -> None,      // nothing at-or-before t=150 for key 20
      5L -> Some(9.0)))
  }

  test("asofJoin: null timestamps never match; reused suffix rejected") {
    import graft.operators.TimeSeries
    // a null-ts RIGHT row precedes nothing (DuckDB ASOF never matches a
    // null r.ts) — it must not hand its value to unmatched left rows
    val left = Seq((1L, 10L, Some(50L)), (2L, 10L, Some(250L)),
      (3L, 10L, None)) // null-ts LEFT row: no match in either direction
      .toDF("event_id", "k", "t")
    val right = Seq((10L, None, 7.0), (10L, Some(200L), 2.0))
      .toDF("k", "t", "v")
    def matches(dir: String) =
      TimeSeries.asofJoin(left, right, Seq("k"), "t", Seq("v"), direction = dir)
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v_asof")).map(_.asInstanceOf[Double])).toMap
    assert(matches("backward") == Map(
      1L -> None,      // only the null-ts right row 'precedes' — no match
      2L -> Some(2.0),
      3L -> None))     // null left ts: no as-of position
    assert(matches("forward") == Map(
      1L -> Some(2.0),
      2L -> None,      // nothing at-or-after 250
      3L -> None))     // null left ts must NOT inherit the minimum-ts row
    // chaining with the same suffix would let left rows' first-join values
    // become match candidates — rejected loudly
    val once = TimeSeries.asofJoin(left, right, Seq("k"), "t", Seq("v"))
    val e = intercept[IllegalArgumentException](
      TimeSeries.asofJoin(once, right, Seq("k"), "t", Seq("v")))
    assert(e.getMessage.contains("suffix"))
  }

  test("resampleLocf: hourly grid from first observation, LOCF values, tie rules") {
    import graft.operators.TimeSeries
    val ev = Seq(
      (1L, 10L, "2024-01-01 00:30:00", 1.0),
      (2L, 10L, "2024-01-01 01:45:00", 2.0),
      (3L, 10L, "2024-01-01 01:45:00", 3.0), // same-ts tie: higher event_id wins
      (4L, 10L, "2024-01-01 03:30:00", 4.0), // grid instant 02:30 carries 3.0
      (5L, 20L, "2024-01-01 05:00:00", 9.0)) // single-obs key: one grid point
      .toDF("event_id", "user_id", "s", "value")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = TimeSeries.resampleLocf(ev, Seq("user_id"), "ts", "value",
        stepSeconds = 3600, idCol = "event_id")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.time.LocalDateTime]("ts").toString) -> r.getAs[Double]("value")).toMap
    assert(out == Map(
      (10L, "2024-01-01T00:30") -> 1.0, // grid origin = first obs, carries itself
      (10L, "2024-01-01T01:30") -> 1.0,
      (10L, "2024-01-01T02:30") -> 3.0, // both 01:45 obs precede; max event_id wins
      (10L, "2024-01-01T03:30") -> 4.0, // obs at the instant itself is inclusive
      (20L, "2024-01-01T05:00") -> 9.0), s"got $out")
    val interp = TimeSeries.resampleInterp(ev, Seq("user_id"), "ts", "value",
        stepSeconds = 3600, idCol = "event_id")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.time.LocalDateTime]("ts").toString) -> r.getAs[Double]("value")).toMap
    assert(interp == Map(
      (10L, "2024-01-01T00:30") -> 1.0,      // at an obs: exact (Δprev = 0)
      (10L, "2024-01-01T01:30") -> 1.8,      // 60/75 of the way to the FIRST 01:45 obs
      (10L, "2024-01-01T02:30") -> 3.428571, // between 3.0@01:45 and 4.0@03:30
      (10L, "2024-01-01T03:30") -> 4.0,      // last instant: LOCF fallback
      (20L, "2024-01-01T05:00") -> 9.0), s"got $interp")
  }

  test("asofJoin: single shuffle on the key, micros-timestamp inputs (plan)") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // The r9→r10 testdata swap changed events.ts from TIMESTAMP(NANOS)-as-long
    // to TIMESTAMP_MICROS; pin the plan shape on the new dtype so a future
    // data swap can't silently change it: the union-window as-of core must
    // stay ONE hash shuffle on the key — not a sort-merge join plus window,
    // not one exchange per input.
    val left = Seq((1L, 10L, "2024-01-01 00:01:00"), (2L, 10L, "2024-01-01 00:02:00"))
      .toDF("event_id", "k", "t")
      .withColumn("t", col("t").cast("timestamp_ntz"))
    val right = Seq((10L, "2024-01-01 00:00:30", 1.0))
      .toDF("k", "t", "v")
      .withColumn("t", col("t").cast("timestamp_ntz"))
    val out = TimeSeries.asofJoin(left, right, Seq("k"), "t", Seq("v"))
    out.collect() // materialize so AQE's final plan is inspectable
    val shuffles = SparkTestBase.planSeq(out.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one shuffle, got: $shuffles")
    assert(shuffles.head.outputPartitioning.toString.contains("k"),
      s"shuffle not on the key: ${shuffles.head.outputPartitioning}")
  }

  test("winnow attribution is consistent with the winnow removal") {
    // Removal counts shared fps against the UNION of eval fingerprints;
    // attribution counts per eval doc. A doc can be removed on fps drawn
    // from two different eval docs without any single pair reaching
    // minShared, so: attributed docs ⊆ removed docs — and every
    // attributed pair must share at least minShared fingerprints.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ev = docs.filter(graft.operators.Corpus.hashBucket(col("doc_id")) < 5)
      .select(col("doc_id"), col("text"))
    val attrib = graft.operators.Corpus
      .decontaminateWinnowAttribution(docs, ev, k = 5, g = 4, minShared = 2)
      .collect()
    assert(attrib.forall(_.getAs[Long]("n_shared") >= 2))
    val attributed = attrib.map(_.getAs[Long]("doc_id")).toSet
    val kept = graft.operators.Corpus
      .decontaminateWinnow(docs, ev, k = 5, g = 4, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- kept
    assert(attributed.subsetOf(removed),
      s"attributed-but-not-removed ids: ${attributed -- removed}")
    assert(attributed.nonEmpty) // eval ⊂ corpus → self-pairs guarantee rows
  }

  test("driver contract: every oracle has a query; builds disjoint from queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracleSql keys without a query: ${o -- q}")
    // build steps are timed by Bench but excluded from the correctness
    // dump — a build key leaking into queries would re-create the
    // permanent no_oracle row the r10 verdict flagged
    val b = SparkEntry.builds.keySet
    assert((b & q).isEmpty, s"build steps leaked into queries: ${b & q}")
    assert((b & o).isEmpty, s"build steps leaked into oracleSql: ${b & o}")
    assert(b.contains("sim_index_build"))
  }

  test("events ingestion reads both timestamp layouts identically") {
    // The events table has shipped as TIMESTAMP(NANOS) (reads as a long
    // column under the nanosAsLong legacy conf) and as TIMESTAMP_MICROS;
    // SparkEntry.events branches on the loaded dtype. Write the same rows
    // in both layouts and assert a declared events query returns identical
    // results — so neither layout can silently regress again.
    val rows = Seq(
      (1L, "2024-03-01 10:15:00", 7L, "click", 1.5, """{"k":1}"""),
      (2L, "2024-03-01 10:45:00", 7L, "click", 2.5, """{"k":2}"""),
      (3L, "2024-03-01 11:05:00", 8L, "purchase", 4.0, """{"k":3}"""))
    val base = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val microsDir = java.nio.file.Files.createTempDirectory("ev_micros").toString
    base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
    val nanosDir = java.nio.file.Files.createTempDirectory("ev_nanos").toString
    // INT64 nanos-since-epoch: the shape the legacy layout presents to the
    // engine (nanosAsLong surfaces TIMESTAMP(NANOS) as plain LongType)
    base.withColumn("ts",
        unix_micros(col("ts").cast("timestamp_ntz").cast("timestamp")) * 1000L)
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    // UTC-adjusted TIMESTAMP_MICROS (isAdjustedToUTC=true → TimestampType):
    // the third layout in the wild; under a UTC-pinned session it must read
    // identically (events() requires the pin and fails loudly otherwise,
    // because the NTZ cast is session-timezone dependent)
    val adjDir = java.nio.file.Files.createTempDirectory("ev_adj").toString
    base.withColumn("ts", col("ts").cast("timestamp_ntz").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$adjDir/events.parquet")
    val q = SparkEntry.queries("events_window")
    def canon(dir: String) = q(spark, dir)
      .collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted.toSeq
    val micros = canon(microsDir)
    assert(micros == canon(nanosDir))
    assert(micros == canon(adjDir))
    assert(micros.nonEmpty)
  }

  test("asofJoin sliced: identical to the plain path on a hot-key fixture") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(19)
    // ONE pathologically hot key (7) plus a sparse one; right rows carry
    // nulls in one value column to exercise the per-column carry semantics
    val left = (1 to 400).map(i =>
      (i.toLong, if (i % 50 == 0) 99L else 7L, rnd.nextInt(5000).toLong))
    val right = rnd.shuffle((0 until 5000 by 7).toVector).take(150).map { t =>
      (7L, t.toLong,
        if (rnd.nextBoolean()) Some(rnd.nextDouble()) else None,
        rnd.nextInt(100).toLong)
    } :+ ((99L, 100L, Some(1.5), 5L))
    val lDf = left.toDF("event_id", "k", "t")
    val rDf = right.toDF("k", "t", "v", "u")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "k", "t", "v_asof", "u_asof").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSet
    val plain = norm(TimeSeries.asofJoin(lDf, rDf, Seq("k"), "t", Seq("v", "u")))
    // slice widths spanning every regime: per-ts slices, mid, one-slice
    for (sec <- Seq(1L, 100L, 1000L, 100000L)) {
      val sliced = norm(TimeSeries.asofJoin(lDf, rDf, Seq("k"), "t",
        Seq("v", "u"), sliceSeconds = Some(sec)))
      assert(sliced == plain, s"sliceSeconds=$sec")
    }
  }

  test("rangeJoin: inclusive bounds, multi-bucket intervals, keys isolate") {
    import graft.operators.TimeSeries
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, t("2024-01-01 00:00:00")), // == start: inclusive
      (2L, 10L, t("2024-01-01 00:05:00")), // inside
      (3L, 10L, t("2024-01-01 00:10:00")), // == end: inclusive
      (4L, 10L, t("2024-01-01 00:10:01")), // just past end
      (5L, 20L, t("2024-01-01 00:05:00"))) // other key, same time window
      .toDF("event_id", "k", "ts")
    val right = Seq(
      (10L, 7L, t("2024-01-01 00:00:00"), t("2024-01-01 00:10:00")))
      .toDF("k", "interval_id", "wstart", "wend")
    // bucketSeconds=60 << the 10-min interval: it must explode across 11
    // buckets and still emit each qualifying pair exactly once
    val out = TimeSeries.rangeJoin(left, right, Seq("k"), "ts", "wstart", "wend",
      bucketSeconds = 60).collect()
    assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(out.length == 3) // exactly once each, despite 11 bucket replicas
  }

  test("asofJoin and rangeJoin match brute force on randomized inputs") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 3) {
      // small key/ts space forces collisions, ties, and empty matches;
      // right rows unique per (key, ts) per the operator contract
      val left = (1 to 60).map(i => (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(40).toLong))
      val right = rnd.shuffle(
        (for (k <- 0 to 3; t <- 0 to 39) yield (k.toLong, t.toLong)).toSeq)
        .take(25).map { case (k, t) => (k, t, rnd.nextDouble()) }
      val lDf = left.toDF("event_id", "k", "t")
      val rDf = right.toDF("k", "t", "v")
      // as-of: latest right at-or-before, per key
      val asof = TimeSeries.asofJoin(lDf, rDf, Seq("k"), "t", Seq("v"))
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v_asof"))).toMap
      for ((id, k, t) <- left) {
        val expect = right.filter(p => p._1 == k && p._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(asof(id) == expect, s"asof round $round id=$id k=$k t=$t")
      }
      // forward as-of: EARLIEST right at-or-after, per key
      val fwd = TimeSeries.asofJoin(lDf, rDf, Seq("k"), "t", Seq("v"),
          direction = "forward")
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v_asof"))).toMap
      for ((id, k, t) <- left) {
        val expect = right.filter(p => p._1 == k && p._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
        assert(fwd(id) == expect, s"fwd round $round id=$id k=$k t=$t")
      }
      // tolerance: a match staler than 5s is nulled, never substituted by
      // an older one
      val tolr = TimeSeries.asofJoin(lDf, rDf, Seq("k"), "t", Seq("v"),
          toleranceSeconds = Some(5L))
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v_asof"))).toMap
      for ((id, k, t) <- left) {
        val expect = right.filter(p => p._1 == k && p._2 <= t && p._2 >= t - 5)
          .sortBy(_._2).lastOption.map(_._3)
        assert(tolr(id) == expect, s"tol round $round id=$id k=$k t=$t")
      }
      // range: every pair within [start, start+7], via 3-second buckets
      val rWin = rDf.withColumn("wend", col("t") + 7)
        .select(col("k"), col("t").as("wstart"), col("wend"), col("v"))
      val got = TimeSeries.rangeJoin(lDf, rWin, Seq("k"), "t", "wstart", "wend",
          bucketSeconds = 3)
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("v"))).sorted.toSeq
      val want = (for ((id, k, t) <- left; (rk, rt, v) <- right
        if rk == k && t >= rt && t <= rt + 7) yield (id, v)).sorted
      assert(got == want, s"range round $round")
    }
  }

  test("corpus ops are streaming-safe: split+redact+langId run in a readStream pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    // stateless projections compose into structured streaming untouched
    val q = Corpus.splitAssign(in.toDS().toDF())
      .withColumn("normalized", TextFunctions.normalizeText(col("text")))
      .withColumn("redacted", TextFunctions.redactPii(col("normalized")))
      .withColumn("pred_lang", TextFunctions.langId(col("text")))
      .select("doc_id", "split", "redacted", "pred_lang")
      .writeStream.format("memory").queryName("corpus_stream_out")
      .outputMode("append").start()
    try {
      // doc 1 arrives with ragged double spaces: the assertion below only
      // holds if normalizeText actually ran inside the stream
      in.addData(ProbeDoc(1L, "email  bob@example.com  and the  word the"),
        ProbeDoc(2L, "der hund ist nicht das katze und"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("corpus_stream_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("split"), r.getAs[String]("redacted"), r.getAs[String]("pred_lang")))
      .toMap
    assert(rows(1L)._2 == "email <EMAIL> and the word the" && rows(1L)._3 == "en")
    assert(rows(2L)._3 == "de")
    // streaming assignments match the batch operator exactly
    val batch = Corpus.splitAssign(Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(rows.view.mapValues(_._1).toMap == batch)
  }

  test("streaming sketch increments: per-batch HLL rows merge to whole-stream stats") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the incremental-stats contract in its streaming form: each
    // micro-batch persists one tiny sketch row per group; corpus-wide
    // stats at any point = merge of the persisted rows, raw data never
    // revisited
    val dir = java.nio.file.Files.createTempDirectory("hll_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketches.hllIncrement(
            batch.withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de")),
            Seq("lang"), "doc_id")
          .write.mode("append").parquet(dir)
        ()
    }.start()
    try {
      in.addData((0 until 300).map(i => ProbeDoc(i.toLong, s"doc $i")): _*)
      q.processAllAvailable()
      in.addData((300 until 500).map(i => ProbeDoc(i.toLong, s"doc $i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val merged = Sketches.hllMerge(spark.read.parquet(dir), Seq("lang"), "doc_id")
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("doc_id_distinct"), r.getAs[Long]("n_rows"))).toMap
    assert(merged("en")._2 == 250L && merged("de")._2 == 250L) // exact row counts
    // distinct estimates within HLL error of the true 250 per group
    merged.values.foreach { case (d, _) => assert(math.abs(d - 250L) <= 13L, s"est $d") }
  }

  test("streaming KLL increments: per-batch quantile rows merge to whole-stream percentiles") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the percentile twin of the HLL streaming contract: each micro-batch
    // persists one binary KLL row per group; stream-wide p50/p95 at any
    // point = merge of the persisted rows, raw values never revisited
    val dir = java.nio.file.Files.createTempDirectory("kll_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketches.kllIncrement(
            batch.withColumn("grp", when(col("doc_id") % 2 === 0, "even").otherwise("odd"))
              .withColumn("v", col("doc_id").cast("double")),
            Seq("grp"), "v")
          .write.mode("append").parquet(dir)
        ()
    }.start()
    try {
      in.addData((0 until 600).map(i => ProbeDoc(i.toLong, s"doc $i")): _*)
      q.processAllAvailable()
      in.addData((600 until 1000).map(i => ProbeDoc(i.toLong, s"doc $i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val merged = Sketches.kllMerge(spark.read.parquet(dir), Seq("grp"), "v")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Long]("n_rows"))).toMap
    // exact counts; estimates within the sketch's rank error of the true
    // percentiles over 0..999 split even/odd (p50 ≈ 500, p95 ≈ 950)
    merged.values.foreach { case (p50, p95, n) =>
      assert(n == 500L)
      assert(math.abs(p50 - 500.0) <= 40.0, s"p50 $p50")
      assert(math.abs(p95 - 950.0) <= 40.0, s"p95 $p95")
    }
  }

  test("streaming paragraph dedup: registry grows per batch, late repeats drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the foreachBatch wiring of dedupParagraphsIncremental: each
    // micro-batch dedups against the registry-so-far, then appends its
    // surviving paragraph hashes — boilerplate seen in batch 1 never
    // survives in batch 2
    val regDir = java.nio.file.Files.createTempDirectory("para_reg").toString
    val outDir = java.nio.file.Files.createTempDirectory("para_out").toString
    // seed the registry dir so the first batch reads an empty-but-typed table
    Seq.empty[String].toDF("ph").write.mode("overwrite").parquet(regDir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val reg = spark.read.parquet(regDir)
        val deduped = Dedup.dedupParagraphsIncremental(batch, reg)
          .localCheckpoint(true) // two consumers below; also unpins regDir
        deduped.write.mode("append").parquet(outDir)
        Dedup.paragraphRegistry(deduped).join(spark.read.parquet(regDir),
            Seq("ph"), "left_anti")
          .write.mode("append").parquet(regDir)
        ()
    }.start()
    try {
      in.addData(ProbeDoc(1L, "unique first body\n\nshared boilerplate footer"))
      q.processAllAvailable()
      in.addData(ProbeDoc(2L, "unique second body\n\nshared boilerplate footer"),
        ProbeDoc(3L, "shared boilerplate footer"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out == Map(
      1L -> "unique first body\n\nshared boilerplate footer", // first sight keeps it
      2L -> "unique second body")) // footer registered in batch 1; doc 3 vanishes
    // registry holds exactly the three distinct paragraph hashes
    assert(spark.read.parquet(regDir).distinct().count() == 3)
  }

  test("streaming substring dedup: registry grows per batch, later window copies cut") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the foreachBatch wiring of dedupSubstringsIncremental: each
    // micro-batch cuts against the window registry-so-far, then appends
    // its ORIGINAL windows (the substrRegistry contract — a window cut
    // from this batch must still cut its next copy)
    val regDir = java.nio.file.Files.createTempDirectory("substr_reg").toString
    val outDir = java.nio.file.Files.createTempDirectory("substr_out").toString
    Seq.empty[Long].toDF("w").write.mode("overwrite").parquet(regDir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true) // registry append needs the ORIGINAL
        Dedup.dedupSubstringsIncremental(b, spark.read.parquet(regDir), n = 4)
          .write.mode("append").parquet(outDir)
        Dedup.substrRegistry(b, n = 4)
          .join(spark.read.parquet(regDir), Seq("w"), "left_anti")
          .write.mode("append").parquet(regDir)
        ()
    }.start()
    try {
      in.addData(ProbeDoc(1L, "aa bb cc dd ee ff"))
      q.processAllAvailable()
      in.addData(ProbeDoc(2L, "xx yy aa bb cc dd zz ww"), // shares one 4-window
        ProbeDoc(3L, "aa bb cc dd ee ff")) // full dup of batch-1 doc
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out == Map(
      1L -> "aa bb cc dd ee ff", // first sight, untouched
      2L -> "xx yy zz ww", // registry window "aa bb cc dd" covers tokens 3..6
      3L -> "")) // every window registered in batch 1 -> emptied
    // batch-boundary invariance: the stream's outputs ARE the fused cut
    // over all docs restricted per batch (ids ordered batch-after-batch)
    val all = Seq((1L, "aa bb cc dd ee ff"), (2L, "xx yy aa bb cc dd zz ww"),
      (3L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    val fused = Dedup.dedupSubstrings(all, n = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fused == out)
  }

  test("streaming semantic-dedup increments: micro-batches probe the persisted registry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 4)
    val reg = java.nio.file.Files.createTempDirectory("sem_stream").toString + "/reg"
    Similarity.writeSemanticRegistry(e.filter(col("vec_id") < 60), seeds, reg)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SemVec]
    val kept = scala.collection.mutable.Set.empty[Long]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        kept ++= Similarity.semanticDedupIncrement(batch, seeds, reg, 0.45)
          .collect().map(_.getAs[Long]("vec_id"))
        ()
    }.start()
    val probes = e.filter(col("vec_id") >= 60 && col("vec_id") < 80).collect()
      .map(r => SemVec(r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray))
    try {
      in.addData(probes.take(10).toSeq)
      q.processAllAvailable()
      in.addData(probes.drop(10).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // per-batch survivors superset the fused run's (smaller batches see
    // fewer smaller-id blockers — only the registry plus their own batch)
    val fused = Similarity.semanticDedupClustered(
        e.filter(col("vec_id") < 80), seeds, 0.45)
      .collect().map(_.getAs[Long]("vec_id")).filter(_ >= 60).toSet
    assert(fused.subsetOf(kept), s"fused $fused vs streamed $kept")
    // every drop is justified by the registry or an earlier batch member
    assert(kept.subsetOf((60L until 80L).toSet))
  }

  test("streaming semantic dedup with a GROWING registry is batch-boundary-invariant") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    // the full production micro-batch loop: probe the registry-so-far,
    // then APPEND the whole batch (every member, not just survivors — a
    // dropped near-dup can be a later batch's only ≥τ witness). With
    // batches arriving in ascending id order this must equal the fused
    // operator over everything, restricted to the streamed ids — the
    // same equivalence dedup_semantic_inc proves for one static
    // increment, here held across THREE batch boundaries.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.kmeansSeeds(e, 4)
    val reg = java.nio.file.Files.createTempDirectory("sem_stream_grow").toString + "/reg"
    Similarity.writeSemanticRegistry(e.filter(col("vec_id") < 60), seeds, reg)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SemVec]
    val kept = scala.collection.mutable.Set.empty[Long]
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        kept ++= Similarity.semanticDedupIncrement(batch, seeds, reg, 0.33)
          .collect().map(_.getAs[Long]("vec_id"))
        Similarity.writeSemanticRegistry(batch, seeds, reg, append = true)
        ()
    }.start()
    val probes = e.filter(col("vec_id") >= 60 && col("vec_id") < 120)
      .orderBy(col("vec_id")).collect()
      .map(r => SemVec(r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray))
    try {
      for (b <- probes.grouped(20).toSeq) {
        in.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val fused = Similarity.semanticDedupClustered(
        e.filter(col("vec_id") < 120), seeds, 0.33)
      .collect().map(_.getAs[Long]("vec_id")).filter(_ >= 60).toSet
    assert(kept.toSet == fused, s"streamed $kept vs fused $fused")
    // the fixture must exercise both keeps and drops across the boundaries
    assert(kept.nonEmpty && kept.size < 60)
    // and the registry now holds every streamed member plus the seed set
    val regRows = spark.read.parquet(reg).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(regRows == (0L until 120L).toSet)
  }

  test("streaming packing: foreachBatch over the persisted layout equals fused packing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the foreachBatch wiring of packSequencesInc: each micro-batch
    // packs against packState(output-so-far) and appends — append-only
    // ids across batches, so the streamed layout must be IDENTICAL to
    // packing the whole stream fused (layout's batch-boundary
    // invariance, the registry-loop convention)
    val outDir = java.nio.file.Files.createTempDirectory("pack_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val budget = 16L
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val d = batch.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        val state = try Corpus.packState(spark.read.parquet(outDir))
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Long, Long)].toDF("grp", "running_total") }
        Corpus.packSequencesInc(d, state, budget, groups = 4)
          .write.mode("append").parquet(outDir)
        ()
    }.start()
    def mkDocs(r: Range) = r.map(i =>
      ProbeDoc(i.toLong, (0 to i % 7).map(j => s"tok$j word").mkString(" ")))
    try {
      in.addData(mkDocs(0 until 20): _*)
      q.processAllAvailable()
      in.addData(mkDocs(20 until 23): _*) // tiny batch: some groups silent
      q.processAllAvailable()
      in.addData(mkDocs(23 until 50): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("grp"),
        r.getAs[Long]("bin"), r.getAs[Long]("running"))).toSet
    val fused = Corpus.packSequences(
        mkDocs(0 until 50).toDF("doc_id", "text").select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
        budget, groups = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("grp"),
        r.getAs[Long]("bin"), r.getAs[Long]("running"))).toSet
    assert(streamed == fused)
    // the fixture must actually cross bin boundaries mid-stream
    assert(streamed.map(t => (t._2, t._3)).size > 4)
  }

  test("streaming emission: bins reconstructed from the incremental layout equal fused packEmitIds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the loader-ready claim, incrementally: each micro-batch packs
    // BPE-counted docs against packState(output-so-far); afterwards the
    // per-(grp, bin) id sequences reconstructed from the streamed layout
    // (members in doc-id order, each encoded map-only) must equal
    // packEmitIds over the whole stream fused — emission-level
    // batch-boundary invariance, concatenation order and totals included
    val outDir = java.nio.file.Files.createTempDirectory("emit_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ProbeDoc]
    val budget = 16L
    val q = in.toDS().toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val d = batch.select(col("doc_id"),
          size(graft.plans.BpeExpressions.bpeEncode(col("text"),
            graft.functions.TextFunctions.BpeMerges)).cast("long").as("n_tokens"))
        val state = try Corpus.packState(spark.read.parquet(outDir))
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Long, Long)].toDF("grp", "running_total") }
        Corpus.packSequencesInc(d, state, budget, groups = 4)
          .write.mode("append").parquet(outDir)
        ()
    }.start()
    def mkDocs(r: Range) = r.map(i =>
      ProbeDoc(i.toLong, (0 to i % 7).map(j => s"tok$j word$i").mkString(" ")))
    try {
      in.addData(mkDocs(0 until 20): _*)
      q.processAllAvailable()
      in.addData(mkDocs(20 until 23): _*)
      q.processAllAvailable()
      in.addData(mkDocs(23 until 50): _*)
      q.processAllAvailable()
    } finally q.stop()
    val docsDf = mkDocs(0 until 50).toDF("doc_id", "text")
    // reconstruct each bin's sequence from the streamed layout: members
    // in doc-id order, re-encoded map-only (emission is deterministic
    // given the layout — the ids never had to ride the stream)
    val streamedBins = spark.read.parquet(outDir)
      .join(docsDf, Seq("doc_id"))
      .withColumn("token_ids", graft.plans.BpeExpressions.bpeEncode(
        col("text"), graft.functions.TextFunctions.BpeMerges))
      .groupBy(col("grp"), col("bin"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("doc_id").as("i"),
          col("token_ids").as("t")))), s => s.getField("t"))).as("seq_ids"),
        sum(size(col("token_ids")).cast("long")).as("bin_tokens"))
      .collect()
      .map(r => ((r.getAs[Long]("grp"), r.getAs[Long]("bin")),
        (r.getSeq[Int](2), r.getAs[Long]("bin_tokens")))).toMap
    val fusedBins = Corpus.packEmitIds(docsDf, budget, groups = 4)
      .collect()
      .map(r => ((r.getAs[Long]("grp"), r.getAs[Long]("bin")),
        (r.getSeq[Int](2), r.getAs[Long]("bin_tokens")))).toMap
    assert(streamedBins == fusedBins)
    assert(fusedBins.size > 4, "fixture failed to cross bin boundaries")
  }
}
