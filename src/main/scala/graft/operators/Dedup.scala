package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Quantize, TextFunctions}
import graft.plans.TextExpressions

/**
 * Document deduplication for training-data pipelines, at 100 TB posture:
 *
 *  - exact: one hash-groupBy (single shuffle on a 16-byte key).
 *  - MinHash/LSH: shingle → per-band min-hash signature → band-bucket join.
 *    Candidate generation never compares all pairs: docs meet only inside a
 *    NON-TRIVIAL bucket (band value shared by ≥2 docs), so the self-join is
 *    bounded by bucket sizes, not n².
 *  - SimHash: 64-bit weighted-bit signature; near-dups collide on rotated
 *    16-bit bands (Hamming ≤ 3 over 4 bands guarantees one exact band hit).
 *  - n-gram Jaccard: inverted-index join on distinct shingles (classic
 *    candidate-pair generation), exact Jaccard verification on candidates.
 *
 * Determinism: every hash is md5/xxhash64 over explicit strings — no RNG,
 * no partition-order dependence, so results are reproducible and (where
 * SQL-expressible) oracle-verifiable.
 */
object Dedup {

  /** Exact dedup: survivor (min id) per content hash + multiplicity. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** (doc, shingle) pairs. `dedup=true` gives the distinct SET (required
    * for Jaccard counting); MinHash skips it — min over the multiset equals
    * min over the set, so the distinct shuffle would be pure waste. */
  def shingleTable(docs: DataFrame, n: Int, textCol: String, idCol: String,
      dedup: Boolean = true): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))
    if (dedup) sh.distinct() else sh
  }

  /** Deterministic odd multiplier / addend per seed (splitmix-style). */
  private def mixConsts(j: Int): (Long, Long) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    // a: odd, 31-bit; b: 31-bit — so (32-bit h)·a + b stays under 2^63
    // (ANSI mode would raise on a wrapping 64-bit multiply)
    ((splitmix(j.toLong * 2 + 1) & 0x7FFFFFFFL) | 1L,
      splitmix(j.toLong * 2 + 2) & 0x7FFFFFFFL)
  }

  /**
   * MinHash signature per (doc, seed): the shingle is hashed ONCE
   * (xxhash64 → low 32 bits), then each seed j remixes arithmetically
   * (h·a_j + b_j — a universal-hash family), so the per-seed cost is one
   * multiply-add instead of a string concat + rehash. One aggregation
   * produces all seeds' minima via map-side combine.
   */
  def minhash(sh: DataFrame, numHashes: Int, idCol: String): DataFrame = {
    val h = xxhash64(col("shingle")).bitwiseAND(lit(0xFFFFFFFFL))
    val mins: Seq[Column] = (0 until numHashes).map { j =>
      val (a, b) = mixConsts(j)
      min(h * lit(a) + lit(b)).as(s"mh_$j")
    }
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /**
   * Map-only MinHash signatures — the same values as [[minhash]] (exact
   * per-seed minima, property-asserted equal) computed as a PURE
   * PROJECTION: one [[graft.plans.ShingleHash.minhashFold]] expression carries all
   * `numHashes` running minima over the [[graft.plans.ShingleHash.hashes]]
   * array (bit-identical to `xxhash64(shingle_string)`), so signatures
   * cost zero shuffles, zero row fan-out, and stay inside whole-stage
   * codegen (the earlier `aggregate`/`zip_with` spelling ran its lambdas
   * interpreted — measured as the dominant cost of the signature pass).
   * Structural value at scale: `minhashBandedTable(mapOnly = true)` plans
   * the whole index build as scan → project → write with NO exchange at
   * all (plan-asserted), so a 100 TB build streams straight into the
   * bucketed layout with no shuffle spill/network stage to size or skew.
   */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ab = (0 until numHashes).map(mixConsts)
    // Null-text parity with [[minhash]]: in the explode path a null text
    // becomes the single shingle "" (shingles()' whole-text fallback is
    // `concat_ws` over the null token array, which yields the empty
    // string) — so null docs carry the signature of hash(""). Coalescing
    // the TEXT reproduces that exactly: ShingleHash.hashes("") is the
    // whole-text fallback shingle of "", bit-identical to xxhash64('').
    // dedup=true: min over the in-row SET equals min over the multiset,
    // and the deduped array is smaller — values unchanged, spec-asserted
    val sig = TextExpressions.minhashFold(
      TextExpressions.shingleHashes(coalesce(col(textCol), lit("")), n,
        dedup = true),
      ab.map(_._1), ab.map(_._2))
    // Two projections on purpose: `__sig` is referenced numHashes times
    // below, and CollapseProject declines to inline a non-cheap producer —
    // so the fold runs ONCE per row, not once per output column
    docs.select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +: (0 until numHashes).map(j =>
        element_at(col("__sig"), j + 1).as(s"mh_$j")): _*)
  }

  /**
   * MinHash-LSH candidate pairs: signature split into `bands`; docs sharing
   * any band value become a candidate pair. Returns (id_a, id_b, n_bands)
   * with id_a < id_b. Probability a pair with Jaccard j is caught:
   * 1 - (1 - j^r)^b for r rows/band, b bands.
   */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Option[Long] = None): DataFrame =
    minhashLshPairsFromBanded(
      minhashBandedTable(docs, n, numHashes, bands, textCol, idCol), idCol, maxBucket)

  /**
   * The banded signature relation (doc, band, bucket) in long format — the
   * candidate-generation input of [[minhashLshPairsFromBanded]].
   */
  def minhashBandedTable(docs: DataFrame, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id",
      mapOnly: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // mapOnly (the default): identical signatures as one codegen'd pure
    // projection ([[minhashSignatures]]) — scan → project, no aggregation
    // exchange, the corpus-scale index-build shape. mapOnly=false keeps
    // the explode+agg form ([[minhash]]) as the property-spec twin.
    val sig = if (mapOnly) minhashSignatures(docs, n, numHashes, textCol, idCol)
      else minhash(shingleTable(docs, n, textCol, idCol, dedup = false), numHashes, idCol)
    // band value = xxhash64 of the band's minima (8-byte long), not an md5
    // hex string: the bucket join/shuffle and the persisted table carry
    // longs. Collisions only matter WITHIN a band (the join includes the
    // band index) — 2⁻⁶⁴ per candidate, noise against LSH's own FP rate.
    val bandCols = (0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until r).map(i => col(s"mh_${b * r + i}"))): _*)
        .as(s"band_$b")
    }
    val banded = sig.select(col(idCol) +: bandCols: _*)
    // long format: (doc, band_idx, band_hash) — one shuffle keyed by bucket
    banded.select(col(idCol), explode(map(
      (0 until bands).flatMap(b => Seq(lit(b), col(s"band_$b"))): _*)).as(Seq("band", "bucket")))
  }

  /**
   * Hot-bucket occupancy valve — the `maxDf` analog for bucket-keyed
   * candidate generation. A bucket of d members emits d·(d-1)/2 candidate
   * rows from the self-join, so ONE degenerate bucket (N boilerplate docs
   * sharing every band, a mass of zero/constant embeddings) turns the join
   * quadratic: 1M docs in one bucket is 5·10¹¹ pairs. Rows in buckets with
   * occupancy above `cap` leave the candidate space BEFORE the join; a
   * genuine near-dup pair caught only by a hot band survives via its other
   * bands (identical docs share ALL bands by construction — run `exact`
   * first so they never reach LSH at all).
   *
   * The valve itself must be SKEW-PROOF — it exists precisely for the
   * degenerate bucket, so it must not buffer that bucket anywhere. A
   * window count (`count().over(partitionBy(bucket))`) would: WindowExec
   * buffers its whole partition in one task, i.e. the exact 100M-row
   * boilerplate bucket the cap is guarding against becomes a multi-GB
   * single-task spill INSIDE the guard. Instead, occupancy comes from a
   * map-side-combined `groupBy(bucket).count()` — reducers receive at most
   * one partial count per map task, never the raw rows — and the over-cap
   * key list broadcasts into a LEFT ANTI join that drops hot-bucket rows
   * map-only. No task ever holds a bucket's rows; plan-asserted
   * window-free in TrainingDataOpsSpec.
   *
   * The broadcast is deliberate, not AQE-elective: a SHUFFLED anti-join
   * would hash-partition the banded rows by the bucket key — funneling the
   * degenerate bucket into one task, the exact shape this valve removes.
   * The list is bounded by totalRows/cap keys (every over-cap key owns
   * > cap rows); size the cap so that bound stays in broadcast range
   * (≲ 10⁷ keys): at 10¹¹ banded rows, cap ≥ ~10⁴ gives ≤ 10⁷ worst-case
   * keys — and real corpora sit far under the worst case, since only
   * DEGENERATE buckets exceed a 10⁴ cap. A cap small enough to push the
   * list past the broadcast limit fails loudly at the broadcast (never
   * silently skews) — raise the cap; candidate volume per kept bucket is
   * cap², so tight caps buy little anyway.
   */
  private[operators] def capBuckets(banded: DataFrame, bucketCols: Seq[String],
      cap: Option[Long]): DataFrame = cap match {
    case Some(c) =>
      val overCap = banded.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") > c)
        .select(bucketCols.map(col): _*)
      banded.join(broadcast(overCap), bucketCols, "left_anti")
    case None => banded
  }

  /** Candidate pairs from a banded table (fresh or persisted): docs sharing
    * any (band, bucket) with id_a < id_b, counted per pair. `maxBucket`
    * (default off) drops buckets above the occupancy cap before the join —
    * see [[capBuckets]] for why corpus-scale runs want it on. */
  def minhashLshPairsFromBanded(banded: DataFrame, idCol: String = "doc_id",
      maxBucket: Option[Long] = None): DataFrame = {
    val capped = capBuckets(banded, Seq("band", "bucket"), maxBucket)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /**
   * 64-bit SimHash per document: for each token-hash bit, sum ±1 across
   * tokens (term-frequency weighted); signature bit = sign of the vote.
   *
   * Shape: explode tokens → hash once per token → ONE aggregation with 64
   * conditional sums (all inside whole-stage codegen, map-side combined).
   * The alternative — 64 `aggregate()` lambda passes over the token array —
   * is interpreted per-element and ~30× slower at sf0.1.
   */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    // ROW-LOCAL ([[graft.plans.ShingleHash.simhash64]]): the ±1 bit votes commute, so
    // the kernel equals the explode → groupBy 64-conditional-sum shape
    // exactly (spec-pinned) with the token fan-out and aggregation
    // exchange gone. The isNotNull filter keeps the explode form's drop
    // of null-text docs (they emitted no token rows).
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), TextExpressions.simhash64(col(textCol)).as("simhash"))

  /**
   * SimHash near-dup candidates: split the 64-bit signature into 4 16-bit
   * bands; Hamming distance ≤ 3 ⇒ at least one band identical (pigeonhole).
   * Verification computes the exact Hamming distance on candidates only.
   * `maxBucket` (default off) is the hot-bucket valve ([[capBuckets]]);
   * note it trades the lossless pigeonhole guarantee for boundedness on
   * degenerate corpora — a pair whose ONLY shared band is a capped bucket
   * is dropped (identical docs belong in `exact` dedup, not here).
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Option[Long] = None): DataFrame = {
    // the 4-band split only GUARANTEES a shared band for distance ≤
    // bands − 1 = 3 (pigeonhole); a larger maxHamming would silently
    // return an incomplete pair set (a distance-4+ pair can differ in
    // every band), so reject it rather than under-deliver
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: maxHamming must be in [0, 3] — the 4-band/16-bit " +
        s"banding only generates all candidates up to Hamming 3; got $maxHamming")
    val sig = simhash(docs, textCol, idCol)
    val banded = capBuckets(sig.select(col(idCol), col("simhash"), explode(map(
      (0 until 4).flatMap { b =>
        Seq(lit(b), shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL))
      }: _*)).as(Seq("band", "bucket"))), Seq("band", "bucket"), maxBucket)
    val a = banded.as("a")
    val b = banded.as("b")
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Both directions of a pair list in ONE pass (explode, not
    * union-of-two-selects — a union re-executes the pair-generation lineage
    * once per branch). */
  private def bothDirections(pairs: DataFrame, idA: String, idB: String): DataFrame =
    pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /**
   * Connected components over a near-dup pair graph — the step that turns
   * pairwise matches into dedup CLUSTERS (survivor = min id per component).
   *
   * The pair frame is materialized ONCE (`localCheckpoint`) and every
   * iteration reads the previous round's materialized blocks — candidate
   * generation upstream (the expensive part) executes exactly once however
   * many rounds follow.
   *
   * Adaptive: near-dup graphs are usually tiny relative to the corpus —
   * below `driverThreshold` edges, a driver-side union-find replaces the
   * iterative shuffles entirely (the same size-based switch AQE makes for
   * broadcasts). Above it, alternating large-star/small-star rounds run
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14): O(log²) rounds regardless of component diameter, and a giant
   * component collapses toward its min node instead of chaining — the
   * skew-bounded form min-label propagation is not.
   *
   * `checkpointDir` selects reliable checkpoints for the per-round
   * materializations (see [[Materialize]]): on a real cluster an executor
   * loss would destroy `localCheckpoint` blocks mid-iteration; a long
   * corpus-scale run passes a fault-tolerant directory instead. Local
   * behavior (the default) is unchanged.
   *
   * `maxIters` bounds ROUNDS OF REAL WORK and is a hard correctness bound,
   * not a best-effort budget: convergence is detected by one extra
   * quiescent confirmation round (free beyond the bound), and a graph that
   * still hasn't converged after `maxIters` working rounds THROWS rather
   * than emit potentially mislabeled clusters. The default 30 covers any
   * real graph (the alternation converges in O(log² n) rounds).
   *
   * Returns (id, cluster) for every node that appears in `pairs`.
   */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 30, driverThreshold: Long = 1000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val edges = Materialize(bothDirections(pairs, idA, idB), checkpointDir)
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    // cheap on the already-materialized blocks; decides the path switch
    val edgeCount = edges.count()
    if (integralIds && edgeCount <= driverThreshold) {
      import spark.implicits._
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
      }
      return parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
    }

    // ---- distributed path: alternating large-star / small-star ----
    // Large-star: every node u points its LARGER neighbors at the min of
    // its neighborhood (incl. itself). Small-star: every node u points its
    // smaller neighbors AND itself at the overall min. Both strictly shrink
    // the potential; alternation converges to per-component stars rooted at
    // the min id. Each op is one groupBy(min) + one join keyed the same way
    // — no collect_list, so a giant star never builds a huge array.
    def largeStar(e: DataFrame): DataFrame = {
      val both = bothDirections(e, "src", "dst")
      val mins = both.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
      both.join(mins, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), least(col("src"), col("mn")).as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst")).filter(col("src") =!= col("dst"))
      val mins = oriented.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
      oriented.join(mins, col("src") === col("u"))
        .filter(col("dst") =!= col("mn"))
        .select(col("dst").as("src"), col("mn").as("dst"))
        .unionByName(mins.select(col("u").as("src"), col("mn").as("dst")))
        .distinct()
    }
    // convergence probe on materialized blocks: (count, order-insensitive
    // hash XOR) — deterministic, overflow-free under ANSI (edges are
    // distinct, so XOR cancellation can't collide two different sets of
    // the same size except by 64-bit accident), no full except() join
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var cur = Materialize(smallStar(largeStar(edges)), checkpointDir)
    var sig = signature(cur)
    var converged = false
    var i = 1
    // `i <= maxIters`: the bound counts WORKING rounds — a graph needing
    // exactly maxIters rounds still gets its quiescent confirmation round
    while (!converged && i <= maxIters) {
      val next = Materialize(smallStar(largeStar(cur)), checkpointDir)
      val nsig = signature(next)
      converged = nsig == sig
      cur = next
      sig = nsig
      i += 1
    }
    // The extraction below assumes star form; a non-converged frame could
    // emit the same id under multiple labels. 30 alternating rounds cover
    // any real graph (O(log²) bound), so hitting the cap means the caller
    // passed a pathological maxIters — fail loudly rather than mislabel.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters large/small-star rounds")
    // stars: (child, root) with child > root; roots label themselves
    cur.select(col("src").as("id"), col("dst").as("cluster"))
      .unionByName(cur.select(col("dst").as("id"), col("dst").as("cluster")))
      .distinct()
  }

  /**
   * The deduplicated corpus — the output a training pipeline actually
   * keeps: drop every document that sits in a near-dup cluster under a
   * smaller survivor id (survivor = min id per connected component, the
   * same label `connectedComponents` assigns). One left-anti join against
   * the non-survivor id set: the corpus is scanned once, and the label
   * frame (bounded by the number of CLUSTERED docs, a sliver of the
   * corpus) broadcasts WHEN SMALL — AQE's size-based choice, not a forced
   * hint: a pathological high-dup corpus would OOM a mandatory broadcast,
   * and a shuffled anti-join on the 8-byte id is the right fallback there.
   */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", checkpointDir: Option[String] = None): DataFrame = {
    val dropIds = connectedComponents(pairs, checkpointDir = checkpointDir)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /**
   * SOFT deduplication — DOWN-WEIGHT duplicated content instead of
   * dropping it: every document gets `weight = 1/|near-dup cluster|`
   * (6dp), so a cluster contributes ONE document's worth of gradient
   * mass however many variants it ships. The hard forms above answer
   * "which copy survives"; this answers the training-mixture question
   * "how much should each copy count" — the sampled-softly alternative
   * (cf. the SlimPajama/soft-dedup line of work: hard removal discards
   * the natural distribution of duplicated content, reweighting keeps
   * it while canceling the duplication bias). Output:
   * (idCol, cluster, n_members, weight) for EVERY corpus document —
   * unpaired docs are their own cluster of 1 at weight 1 — ready to
   * feed [[Corpus.sampleWeighted]] / a loss-weighting loader column.
   * The quantized weight is clamped to ≥1e-6: above 2M members 6dp
   * rounding would hit exactly 0 and a weighted draw's `weight > 0`
   * filter would erase the cluster entirely (mass 0, not mass 1); the
   * clamp trades "exactly one document of mass" for "at least one" on
   * >2M-member clusters, which is the right failure direction.
   *
   * Scale shape: connected components run over the PAIRS (a sliver of
   * the corpus — [[dedupByClusters]]' posture), cluster sizes are one
   * aggregation of the label relation (≤ paired docs), and the corpus
   * is touched by one scan + one left join against the labels. The
   * labels/sizes side is bounded by the paired population, so AQE
   * broadcasts it when small and shuffles when a boilerplate flood
   * makes it genuinely large — both correct.
   */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", checkpointDir: Option[String] = None): DataFrame = {
    val labels = connectedComponents(pairs, checkpointDir = checkpointDir)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(sizes, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        coalesce(col("__n"), lit(1L)).as("n_members"),
        // clamp: 6dp quantization rounds 1/n to 0 above 2M members, and
        // weight 0 would drop the whole cluster from a weighted draw —
        // mass 0 instead of the documented "exactly one document of
        // mass". 1e-6 keeps mega-clusters in the draw (the unit-mass
        // invariant degrades gracefully: ≥1 instead of exactly 1)
        greatest(graft.functions.Quantize.quantize(
          lit(1.0) / coalesce(col("__n"), lit(1L)), 6), lit(1e-6)).as("weight"))
  }

  /**
   * [[dedupByClusters]] with a QUALITY-AWARE survivor policy: per cluster
   * the row with the highest `scoreCol` survives (ties → min id), instead
   * of blindly keeping the smallest id. Real pipelines keep the best
   * cluster member — longest text, highest LM score ([[Corpus
   * .unigramLogProb]]), lowest repetition — because near-dup clusters
   * often mix a full document with its truncated or boilerplate-wrapped
   * variants.
   *
   * Same scale shape as the min-id form: the winner election runs over
   * the CLUSTERED docs only (labels ⋈ scores — a sliver of the corpus),
   * and the corpus is touched by one scan + one anti-join against the
   * loser id set. The election itself is a `min(struct)` AGGREGATION,
   * not a rank window (the `electCutStarts` argument): partial
   * aggregation folds each partition's candidates to one row per
   * cluster before the exchange, so a boilerplate mega-cluster never
   * funnels its full membership through one task's sort — the window
   * form ships and sorts every member of the hottest cluster in a
   * single task. `(-score, id)` ascending ≡ the SQL oracle's
   * `ORDER BY score DESC, id` with nulls last (a null score never
   * beats a scored member: its key coalesces to +∞).
   */
  def dedupByClustersBest(docs: DataFrame, pairs: DataFrame, scoreCol: String,
      idCol: String = "doc_id", checkpointDir: Option[String] = None): DataFrame = {
    val labels = connectedComponents(pairs, checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    val scored = docs.select(col(idCol), col(scoreCol)).join(labels, idCol)
    val winners = scored.groupBy(col("cluster")).agg(
      min(struct(
        coalesce(negate(col(scoreCol).cast("double")),
          lit(Double.PositiveInfinity)).as("nk"),
        col(idCol).as("i"))).as("__best"))
      .select(col("cluster"), col("__best.i").as("__w"))
    val losers = scored.join(winners, "cluster")
      .filter(col(idCol) =!= col("__w")).select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Exact n-gram Jaccard over candidate pairs from an inverted-index join:
   * docs sharing ≥1 shingle are candidates; J = |∩| / |∪| from shingle-set
   * sizes. `minJaccard` prunes the (large) candidate set after one
   * aggregation; the shared-shingle join is the only shuffle-heavy step and
   * is bounded by posting-list sizes.
   *
   * `maxDf` is the corpus-scale guard: a shingle appearing in more than
   * `maxDf` documents (stopword runs, boilerplate) is dropped from the
   * shingle space BEFORE the self-join — a posting list of length d
   * produces d·(d-1)/2 candidate rows, so one boilerplate shingle shared by
   * 1M docs would otherwise emit 5·10¹¹ pairs. Jaccard is then computed
   * consistently over the CAPPED shingle space (sizes and intersections
   * both exclude hot shingles), keeping the score exact for the space it's
   * defined on and the whole result SQL-expressible/oracle-checkable. The
   * df filter is a map-side-combined grouped count + broadcast anti-join
   * of the (tiny) over-cap shingle list — skew-proof like [[capBuckets]]:
   * no task ever buffers a hot shingle's posting list.
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      maxDf: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame =
    // J ≥ t bounds the size ratio (see shingleOverlapPairs) — the
    // candidate prefilter is exact-preserving, so it always passes
    shingleOverlapPairs(docs, n, textCol, idCol, maxDf, checkpointDir,
        minSizeRatio = Some(minJaccard))
      .withColumn("jaccard",
        Quantize.quantize(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /**
   * Asymmetric near-dup: containment = |A∩B| / min(|A|, |B|) — 1.0 when
   * the smaller shingle set lies entirely inside the larger. Catches what
   * Jaccard structurally cannot: a short boilerplate template embedded in
   * a long document scores J = |T|/|D| ≈ 0 but containment = 1. Same
   * candidate machinery (inverted-index join, df cap), same oracle
   * skeleton, different final formula.
   */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 3,
      minContainment: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxDf: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame =
    shingleOverlapPairs(docs, n, textCol, idCol, maxDf, checkpointDir)
      .withColumn("containment",
        Quantize.quantize(col("n_inter").cast("double") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Shared candidate machinery for the exact set-overlap family:
    * (id_a, id_b, n_inter, n_a, n_b) for every doc pair sharing ≥1
    * (df-capped) shingle, id_a < id_b. Shingle keys are xxhash64'd BEFORE
    * the distinct so every exchange (set-dedup, df window, self-join)
    * carries an 8-byte long instead of ~20-byte text; set semantics are
    * unchanged up to 64-bit collisions (~n²/2⁻⁶⁴ — vanishing at any real
    * corpus size, and the oracle compare would catch one at test scale). */
  private def shingleOverlapPairs(docs: DataFrame, n: Int, textCol: String,
      idCol: String, maxDf: Option[Long],
      checkpointDir: Option[String],
      minSizeRatio: Option[Double] = None): DataFrame = {
    // The (id, shingle-hash, n_sh) candidate relation. Per-doc shingle-SET
    // dedup is ROW-LOCAL work, done INSIDE the native
    // [[graft.plans.ShingleHash.hashes]] expression — so in the uncapped
    // path the relation is MAP-ONLY: no (id,shingle) distinct exchange,
    // no per-doc sizes aggregation, no sizes join (n_sh = in-row array
    // size, rides along as a column). Shingle keys are xxhash64 longs
    // (bit-identical to `xxhash64(shingle_string)` — see the expression's
    // contract), so every downstream exchange carries 8 bytes instead of
    // ~20-byte text; set semantics are unchanged up to 64-bit collisions
    // (~n²·2⁻⁶⁴ — vanishing at any real corpus size, and the oracle
    // compare would catch one at test scale).
    def inRow(d: DataFrame): DataFrame = d
      .select(col(idCol),
        TextExpressions.shingleHashes(col(textCol), n, dedup = true).as("__sh"))
      .select(col(idCol), size(col("__sh")).cast("long").as("n_sh"),
        explode(col("__sh")).as("shingle"))
    val rel = maxDf match {
      case None => inRow(docs)
      case Some(cap) =>
        // df cap via groupBy + broadcast anti-join, NOT a window count:
        // the cap targets the 1M-doc boilerplate shingle, and a window
        // partitioned by shingle would buffer exactly that posting list
        // in one task. The grouped count map-side-combines; the over-cap
        // shingle list (≤ totalRows/cap keys) broadcasts; hot shingles
        // drop map-only. Jaccard is computed consistently over the CAPPED
        // shingle space — sizes and intersections both exclude hot
        // shingles — so n_sh must RECOUNT after the anti-join (a per-doc
        // aggregation + join the uncapped path never pays), and the
        // capped relation is MATERIALIZED once (localCheckpoint; reliable
        // under `checkpointDir`) for its three consumers — the in-row
        // relation, df aggregate, and recount would otherwise each re-run
        // shingling over the raw text.
        val shAll = inRow(docs).drop("n_sh")
        val hot = shAll.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap)
          .select(col("shingle"))
        val capped = Materialize(
          shAll.join(broadcast(hot), Seq("shingle"), "left_anti"), checkpointDir)
        val sizes = capped.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
        capped.join(sizes, Seq(idCol))
          .select(col(idCol), col("n_sh"), col("shingle"))
    }
    // Self-join: the two sides are IDENTICAL subtrees, so the shingle
    // exchange computes once and the second side is a ReusedExchange —
    // for the map-only relation that means shingling itself runs exactly
    // once, with no materialization seam at all. n_a/n_b ride the pair
    // aggregation as grouping keys (functionally dependent on the ids —
    // group cardinality unchanged), replacing the two post-aggregation
    // size joins the old shape paid.
    // SIZE-RATIO PREFILTER (`minSizeRatio`): J(A,B) ≤ min/max of the set
    // sizes, so J ≥ t is unreachable unless t·max ≤ min — the predicate
    // prunes every candidate row of a hopeless pair inside the join,
    // before the aggregation ever sees it: the dominant cost of skewed
    // near-dup corpora, where long docs share boilerplate shingles with
    // thousands of short ones. The margin (1e-6, one quantization step)
    // keeps the prune conservative against FP rounding: no pair the
    // final quantized `jaccard >= t` filter would keep can be dropped
    // here. Containment has no such bound (n_inter ≤ min makes 1.0
    // reachable at ANY size ratio), so containment callers pass None.
    // `merge` hint: the candidate join's OUTPUT (Σ posting²) is orders
    // larger than either input, so the join must run at shuffle
    // parallelism. Left to AQE, a small input relation broadcasts and the
    // whole pair explosion then runs at the PROBE side's scan parallelism
    // (often 1–2 partitions for a compact parquet file — measured 2.2×
    // slower at sf0.1); keying both sides by shingle spreads the
    // explosion across the cluster, and the two sides are identical
    // subtrees, so ReusedExchange shingles the corpus exactly once. At
    // 100 TB both sides are huge and SMJ is what AQE would pick anyway.
    val a = rel.as("a")
    val b = rel.as("b")
    val base = col("a.shingle") === col("b.shingle") &&
      col(s"a.$idCol") < col(s"b.$idCol")
    val cond = minSizeRatio match {
      case Some(t) =>
        val tEff = lit(math.max(0.0, t - 1e-6))
        base &&
          least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
            tEff * greatest(col("a.n_sh"), col("b.n_sh"))
      case None => base
    }
    a.hint("merge").join(b, cond)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /** The (idCol, n_sh, shingle) relation of a corpus — the persisted
    * REGISTRY form for incremental exact-Jaccard near-dup: shingle-SET
    * hashes computed in-row ([[graft.plans.TextExpressions.shingleHashes]]
    * — the same projection [[ngramJaccardPairs]]'s candidate machinery
    * uses, so registry counts and fused counts are bit-identical), n_sh
    * riding as a column. Map-only. */
  def shingleRelation(docs: DataFrame, n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        TextExpressions.shingleHashes(col(textCol), n, dedup = true).as("__sh"))
      .select(col(idCol), size(col("__sh")).cast("long").as("n_sh"),
        explode(col("__sh")).as("shingle"))

  /**
   * Incremental exact-Jaccard candidate edges: increment docs against a
   * persisted corpus [[shingleRelation]] — the cross-pair half of
   * incremental near-dup dedup (increment-internal pairs come from the
   * ordinary [[ngramJaccardPairs]] over the batch). Increment ids must
   * be disjoint from corpus ids. Same exact algebra as the fused
   * self-join — shared-shingle counting with the J ≥ t size-ratio
   * prefilter, 6dp-quantized scores — restricted to cross pairs, so
   * `ngramJaccardPairs(corpus ∪ increment)` = corpus-internal pairs ∪
   * increment-internal pairs ∪ THESE (spec-pinned). Emits
   * (id_a, id_b, jaccard) with id_a < id_b. No df cap: the cap is a
   * statistic of the UNION's shingle dfs, which an increment probe
   * cannot see — incremental callers run uncapped (the batch side is
   * micro-batch-sized by contract; the prefilter and the corpus-side
   * bucketed layout carry the scale load).
   */
  def ngramJaccardPairsAgainst(increment: DataFrame, corpusRel: DataFrame,
      n: Int = 3, minJaccard: Double = 0.2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val a = shingleRelation(increment, n, textCol, idCol).as("a")
    val b = corpusRel.as("b")
    val tEff = lit(math.max(0.0, minJaccard - 1e-6))
    a.join(b, col("a.shingle") === col("b.shingle") &&
        least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
          tEff * greatest(col("a.n_sh"), col("b.n_sh")))
      .groupBy(col(s"a.$idCol").as("__ia"), col(s"b.$idCol").as("__ib"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard", Quantize.quantize(
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
  }

  /**
   * Paragraph-level exact dedup (the C4/Dolma line-dedup stage): every
   * distinct paragraph survives exactly ONCE across the whole corpus — at
   * its first occurrence in (idCol, position) order — and each document is
   * rebuilt from its surviving paragraphs. Catches what DOCUMENT-level
   * dedup structurally cannot: headers, footers, cookie banners and nav
   * blocks repeated across millions of otherwise-unique pages.
   *
   * Shape (skew-proof, windowless): split + posexplode (map-only fan-out)
   * → keeper per paragraph = `groupBy(md5(para)).agg(min(struct(id, pos)))`
   * — map-side combined, so a boilerplate paragraph repeated 100M times
   * sends ONE partial per map task, never its posting list, and no task
   * buffers a hot paragraph's occurrences (a `row_number` window
   * partitioned by paragraph would buffer exactly that) → join back on the
   * 16-byte hash (1 build row per key; AQE splits a skewed probe side) →
   * per-DOC reassembly via `array_sort(collect_list(struct(pos, para)))`,
   * partitioned by document and bounded by document size.
   *
   * Matching is on the TRIMMED paragraph (leading/trailing spaces don't
   * defeat the match); empty/whitespace-only paragraphs are dropped, so
   * rebuilt text is also sep-run-normalized. A document whose every
   * paragraph loses its race disappears from the output. `sep` is a
   * LITERAL (regex-quoted before Spark's `split`), matching the oracle's
   * literal `string_split`. Output: (idCol, textCol rebuilt with `sep`,
   * n_kept). Hash-verified against the DuckDB oracle
   * (`dedup_paragraphs`).
   */
  def dedupParagraphs(docs: DataFrame, sep: String = "\n\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    reassemble(firstOccurrence(explodeParas(docs, sep, textCol, idCol), idCol),
      sep, textCol, idCol)

  /** (id, pos, para, ph): trimmed non-empty paragraphs with their md5.
    * Shared with Corpus's line-repetition quality signal. */
  private[operators] def explodeParas(docs: DataFrame, sep: String, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("para", trim(col("para")))
      .filter(length(col("para")) > 0)
      .withColumn("ph", md5(col("para").cast("binary")))

  /** Keep each paragraph's first (id, pos) occurrence — the windowless
    * keeper groupBy + hash join described in [[dedupParagraphs]]. */
  private def firstOccurrence(paras: DataFrame, idCol: String): DataFrame = {
    val keeper = paras.groupBy(col("ph"))
      .agg(min(struct(col(idCol), col("pos"))).as("k"))
      .select(col("ph"), col("k").getField(idCol).as("__kid"),
        col("k").getField("pos").as("__kpos"))
    paras.join(keeper, "ph")
      .filter(col(idCol) === col("__kid") && col("pos") === col("__kpos"))
      .drop("__kid", "__kpos")
  }

  private def reassemble(kept: DataFrame, sep: String, textCol: String,
      idCol: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para"))).as(textCol),
        count(lit(1)).as("n_kept"))

  /** The paragraph REGISTRY to persist for incremental ingestion: the
    * distinct md5 of every paragraph ever seen (kept and dropped sets
    * have identical hash sets, so registry(corpus) ==
    * registry(dedup(corpus))). At corpus scale, persist it BUCKETED by
    * `ph` so [[dedupParagraphsIncremental]]'s anti-join reads it
    * exchange-free; append `registry(increment-result)` after each batch. */
  def paragraphRegistry(docs: DataFrame, sep: String = "\n\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    explodeParas(docs, sep, textCol, idCol).select(col("ph")).distinct()

  /**
   * Incremental paragraph dedup: rebuild the INCREMENT's documents,
   * dropping every paragraph already in the persisted `registry` plus
   * within-increment repeats — without touching corpus text at all.
   * CORRECTNESS PRECONDITION — increment ids must sort AFTER every
   * corpus id. Then the result is EXACTLY `dedupParagraphs(corpus ∪
   * increment)` restricted to increment docs (spec-proven): corpus docs
   * always win their races, so the registry anti-join (keyed on the
   * 16-byte hash; one exchange on the increment side only when the
   * registry is bucketed) replaces the corpus re-scan. VIOLATING the
   * precondition silently diverges from that equivalence (a corpus
   * paragraph would have lost its race to a lower increment id) — pass
   * `maxCorpusId` to turn the contract into a runtime check: ids are
   * compared in the same ordering the keeper groupBy uses, and any
   * increment id at or below the bound fails loudly.
   */
  def dedupParagraphsIncremental(increment: DataFrame, registry: DataFrame,
      sep: String = "\n\n", textCol: String = "text",
      idCol: String = "doc_id", maxCorpusId: Option[Any] = None): DataFrame = {
    maxCorpusId.foreach { bound =>
      val offenders = increment.filter(col(idCol) <= lit(bound)).count()
      require(offenders == 0,
        s"dedupParagraphsIncremental precondition violated: $offenders increment " +
          s"ids sort at or below maxCorpusId=$bound — such ids would win races " +
          "corpus paragraphs already won, diverging from dedupParagraphs(corpus ∪ increment)")
    }
    val fresh = firstOccurrence(explodeParas(increment, sep, textCol, idCol), idCol)
      .join(registry.select(col("ph")), Seq("ph"), "left_anti")
    reassemble(fresh, sep, textCol, idCol)
  }

  /** Shared k-gram scaffold for the order-sensitive family
    * ([[winnowFingerprints]], [[verbatimSpans]]): posexplode tokens,
    * gather each start position's `n` leading tokens in ONE per-doc
    * WindowExec, combine them into a gram key, and keep only complete
    * grams (the last lead is null exactly when fewer than `n` tokens
    * remain at that start — so docs shorter than `n` tokens emit
    * nothing). `tokenProj` runs once per TOKEN before the leads — the
    * place for a per-token hash so `combine` stays pure arithmetic.
    * Returns (idCol, pos = 1-based gram start, `out` = combine(leads)). */
  private def slidingGrams(docs: DataFrame, n: Int, textCol: String,
      idCol: String, out: String, tokenProj: Column => Column,
      combine: Seq[Column] => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val leads = (0 until n).map { j =>
      if (j == 0) col("__t") else lead(col("__t"), j).over(byPos)
    }
    docs.select(col(idCol), posexplode(TextFunctions.wsTokens(col(textCol))))
      .select(col(idCol), col("pos"), tokenProj(col("col")).as("__t"))
      .withColumn(out, combine(leads))
      .withColumn("__tail", leads.last)
      .filter(col("__tail").isNotNull)
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"), col(out))
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing:
   * Local Algorithms for Document Fingerprinting", SIGMOD 2003; the MOSS
   * algorithm): from the sequence of word `k`-gram hashes, select the
   * RIGHTMOST MINIMUM of every window of `g` consecutive hashes. The
   * selected set is a position-robust document fingerprint with the
   * winnowing guarantee: any shared run of ≥ `g + k − 1` tokens between
   * two documents shares at least one selected fingerprint — so
   * fingerprint equality is a candidate generator for [[verbatimSpans]]
   * at a `~2/(g+1)` fraction of the window count.
   *
   * Selection is ONE sliding-frame aggregate, no per-window explosion:
   * each window start's rightmost-min is `min(struct(h, −pos))` over the
   * g-row frame (struct order: smallest hash, then LARGEST position on
   * ties), a count guard keeps only complete windows, and a distinct
   * collapses windows that elected the same position — all over the same
   * per-doc ordering the k-gram leads already need, so the operator is
   * one exchange per document plus the final dedup. Hashes are
   * md5-prefix longs (the first 8 md5 hex chars as a long) —
   * engine-reproducible, so selected POSITIONS are identical in any
   * engine and the operator is hash-verified end-to-end
   * (`fingerprint_winnow`), which a selection rule over engine-private
   * hashes could never be. Docs with fewer than `g` k-grams emit
   * nothing. Returns (idCol, pos 1-based k-gram start, fp).
   */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, g: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && g >= 1, s"k and g must be positive: k=$k g=$g")
    // ROW-LOCAL: gram hashing (md5-prefix — SELECTION depends on hash
    // order, so the hash must be engine-reproducible; contrast
    // verbatimSpans, which only needs equality and takes the cheaper
    // all-arithmetic xxhash64 path), the rightmost-min window selection
    // AND the selection dedup all happen inside one
    // [[graft.plans.ShingleHash.winnowFps]] kernel call per document — the
    // per-doc sort for `lead`, the frame aggregate and the global
    // `distinct` exchange of the windowed shape are gone; the operator
    // is scan → kernel → explode, fusing into whatever feeds it.
    docs.select(col(idCol),
        explode(TextExpressions.winnowFingerprints(col(textCol), k, g)).as("__w"))
      .select(col(idCol), col("__w.pos").as("pos"), col("__w.fp").as("fp"))
  }

  /**
   * Candidate near-dup pairs from shared winnowing fingerprints — the
   * MOSS match step: document pairs sharing ≥ `minShared` DISTINCT
   * selected fingerprint values, with the shared count. Only the
   * winnowed ~`2/(g+1)` fraction of the k-gram table feeds the
   * inverted-index join, so candidate generation costs that much less
   * than a full window join; feed survivors to [[verbatimSpans]] for
   * exact span extents. Same skew posture as the shingle family: the
   * join key is an 8-byte hash, and a ubiquitous boilerplate fingerprint
   * is exactly what [[winnowFingerprints]]' local-min selection does NOT
   * protect against — so the family's df valve applies HERE too: with
   * `maxDf = Some(cap)`, fingerprints selected by more than `cap`
   * documents drop before the self-join (map-side-combined count +
   * broadcast anti-join, never a window count), bounding any
   * fingerprint's contribution to cap·(cap−1)/2 pairs. Off by default —
   * dropping a fingerprint can only lose candidates, and `minShared` is
   * the precision knob for corpora without a boilerplate monster.
   */
  def winnowPairs(docs: DataFrame, k: Int = 5, g: Int = 4,
      minShared: Long = 2, textCol: String = "text",
      idCol: String = "doc_id", maxDf: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val fpAll = winnowFingerprints(docs, k, g, textCol, idCol)
      .select(col(idCol), col("fp")).distinct()
    val capped = maxDf match {
      case Some(cap) =>
        val hot = fpAll.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("fp"))
        fpAll.join(broadcast(hot), Seq("fp"), "left_anti")
      case None => fpAll
    }
    // materialize the fingerprint relation once (the shingleOverlapPairs
    // rationale: both self-join sides would re-run winnowing's sliding
    // window over raw text; the selected-fingerprint relation is ~2/(g+1)
    // of the k-gram table and two 8-byte columns wide)
    val fp = Materialize(capped, checkpointDir)
    val a = fp.as("a")
    val b = fp.as("b")
    // merge hint: pair-explosion output needs shuffle parallelism, not
    // the build/probe side's input parallelism (see shingleOverlapPairs)
    a.hint("merge").join(b, col("a.fp") === col("b.fp") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Maximal shared verbatim token spans — the substring-dedup signal of
   * Lee et al., "Deduplicating Training Data Makes Language Models
   * Better" (ACL 2022): every maximal run of ≥ `window` consecutive
   * whitespace tokens shared verbatim between two documents, with both
   * start positions (1-based) and the run's token length. Catches what
   * the rest of the family structurally cannot: Jaccard is order-blind
   * set overlap, [[dedupParagraphs]] needs the copy to align with
   * paragraph boundaries — a long verbatim quote inside otherwise-unique
   * documents only shows up here.
   *
   * Shape: each token is hashed ONCE (one codegen'd `xxhash64` per
   * token, O(n) string work), then each window key is a codegen'd
   * multi-argument `xxhash64` over the `window` leading token hashes —
   * pure long arithmetic, no per-window string building (an interpreted
   * `transform` lambda concatenating 8-token strings measured 13×
   * slower than the DuckDB comparator; this shape is ~7× faster). The
   * leads ([[slidingGrams]]) need one exchange + sort per DOCUMENT —
   * bounded by document length, and the two join sides share the
   * identical subtree, so AQE exchange reuse evaluates it once; the
   * window rows get shuffled by the candidate join anyway, so the added
   * shuffle volume is bounded by what the join already moves. Candidates
   * come from the same inverted-index equi-join as the Jaccard family,
   * with the same skew valve (`maxDf` caps DOCUMENT frequency — per-doc
   * distinct then count + broadcast anti-join, never a WindowExec — so
   * boilerplate shared by many docs drops but within-doc repetition
   * can't evict a window); span merging is gaps-and-islands per alignment
   * DIAGONAL (pos_a − pos_b): matches on one diagonal with consecutive
   * positions fuse into one maximal span, and that WindowExec is bounded
   * by one pair's matches on one alignment, never a posting list. Docs
   * shorter than `window` tokens emit nothing (no whole-text fallback: a
   * span shorter than the window is not a span).
   */
  def verbatimSpans(docs: DataFrame, window: Int = 10,
      textCol: String = "text", idCol: String = "doc_id",
      maxDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, s"window must be >= 2: $window")
    val winsAll = slidingGrams(docs, window, textCol, idCol, "w",
      tok => xxhash64(tok), ls => xxhash64(ls: _*))
    val wins = maxDf match {
      case Some(cap) =>
        // DOCUMENT frequency, like every other maxDf valve in the family
        // (shingleOverlapPairs/winnowPairs distinct per doc first): the
        // window relation is POSITIONAL, so a raw count would let one
        // spammy document repeating a phrase cap+1 times evict that
        // window corpus-wide and destroy genuine cross-doc spans at df=1
        val hot = winsAll.select(col("w"), col(idCol)).distinct()
          .groupBy(col("w")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("w"))
        winsAll.join(broadcast(hot), Seq("w"), "left_anti")
      case None => winsAll
    }
    val a = wins.as("a")
    val b = wins.as("b")
    val m = a.join(b, col("a.w") === col("b.w") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val byDiag = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(byDiag))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (max(col("pa")) - min(col("pa")) + window).as("n_tokens"))
      .select(col("id_a"), col("id_b"), col("a_start"), col("b_start"),
        col("n_tokens"))
  }

  /**
   * ExactSubstr corpus dedup (Lee et al., "Deduplicating Training Data
   * Makes Language Models Better", ACL 2022 — the substring-granularity
   * variant) as a TRANSFORM: every `n`-token window whose normalized
   * form occurs more than once in the corpus is removed from all
   * occurrences except the globally FIRST (min (idCol, pos) — so one
   * copy of every duplicated passage survives), and each document's
   * surviving tokens re-join with single spaces. [[verbatimSpans]]
   * reports the pairwise diagnostic; this rewrites the corpus. Tokens
   * are the single-space split of `lower(text)` (the order-sensitive
   * family contract), so an untouched document's output text is exactly
   * `lower(text)`, overlapping duplicated windows merge into one cut
   * span for free, and a document duplicated in full comes back empty
   * everywhere but its first copy.
   *
   * The paper runs a single-node suffix array; the cluster form is the
   * hash-window relational shape, with NO pairwise join anywhere:
   *  1. window relation — ~one row per corpus token (1-based pos,
   *     window hash), emitted row-locally ([[graft.plans
   *     .ShingleHash.hashes]], O(bytes) per doc); docs under `n` tokens
   *     emit nothing and pass through untouched.
   *  2. duplicated keys — ONE `count > 1` aggregation on the 8-byte
   *     hash. A count is a mutable-primitive buffer, so this stays
   *     HashAggregate; electing the keeper here as `min(struct(id,
   *     pos))` instead would demote the aggregation to SortAggregate
   *     and FULL-SORT the corpus-sized window relation per partition
   *     (measured in the plan) — which is why keeper election is
   *     deferred to step 3, where only duplicated occurrences remain.
   *  3. keeper election + cut starts — join occurrences back on the
   *     hash (AQE broadcasts the duplicated-key side when small; the
   *     big side then needs no exchange at all), elect each hash's
   *     (idCol, pos)-minimum occurrence by AGGREGATION over the
   *     duplicated subset ([[electCutStarts]] — skew-safe where the
   *     previous rank-window idiom straggled on hot boilerplate keys),
   *     drop the keeper, collect each doc's ascending start list
   *     (≤ its token count).
   *  4. rebuild — left join on the id + one [[graft.plans.ShingleHash.cutSpans]]
   *     byte scan per document.
   * Cost is linear in corpus tokens (two map-only window-kernel passes —
   * the aggregation and the join-back each stream the corpus, the
   * standard two-pass ExactSubstr shape) plus sorts/exchanges confined
   * to the duplicated-occurrence relation — contrast [[verbatimSpans]]'
   * per-window pair fan-out, quadratic in window df.
   *
   * Output: every input column preserved, `textCol` replaced by the cut
   * text — by default in the family's LOWERED normal form (the
   * oracle-checkable emission); `preserveCase = true` keeps the
   * original casing (duplicate MATCHING stays case-insensitive — token
   * indices are identical in `text` and `lower(text)` — while the
   * surviving text is cut from the original bytes: the production
   * setting for a shipped corpus, used by TrainingSetJob's
   * substr_window stage). ONE-SHOT by design (the paper's property too): cutting joins
   * previously-distant tokens, which can form NEW duplicated windows —
   * re-running on the output is a different (weaker) statement, not a
   * no-op.
   *
   * `md5Bridge = true` keys windows by the full md5 hex of the shingle
   * STRING — engine-reproducible, so the transform INCLUDING keeper
   * election is hash-verified cross-engine (`dedup_substr_bridge`).
   * Production keys are xxhash64: identical equality classes w.p.
   * 1 − ~W²·2⁻⁶⁴ (the family's documented collision posture; a
   * collision costs one spuriously cut window, never a crash), and 4×
   * fewer key bytes through the two hash exchanges.
   */
  def dedupSubstrings(docs: DataFrame, n: Int = 50,
      textCol: String = "text", idCol: String = "doc_id",
      md5Bridge: Boolean = false, preserveCase: Boolean = false): DataFrame = {
    require(n >= 2, s"window must be >= 2 tokens: $n")
    val wins = substrWindows(docs, n, textCol, idCol, md5Bridge)
    val dupKeys = wins.groupBy(col("w"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).select(col("w"))
    rebuildCut(docs, electCutStarts(wins, dupKeys, idCol), n,
      textCol, idCol, preserveCase)
  }

  /** Keeper election over the duplicated-occurrence subset: the global
    * (idCol, pos)-first occurrence of each duplicated window survives,
    * every other occurrence becomes a cut start.
    *
    * SKEW POSTURE — this is the min-struct AGGREGATION election, chosen
    * over `row_number().over(partitionBy(w))` in the round-13 hot-key
    * A/B (SCALING.md): a boilerplate passage duplicated across millions
    * of documents puts all its occurrences in ONE window partition, and
    * the rank idiom then sorts df(w) rows in a single straggler task
    * (measured 2.1× slower at df = 400k and growing in df). Here the
    * keeper is `min(struct(id, pos))` per hash — plan: a partial
    * SortAggregate whose map-side sort is of BOUNDED map partitions (by
    * w, O(p log p) per task) and whose combine emits one row per hash
    * per partition into the exchange, so no task ever sorts or holds a
    * hot key's full df. Cost on unskewed corpora: the duplicated-subset
    * relation is derived twice (keepers + join-back; at broadcast scale
    * that re-runs the O(bytes) window kernel, at shuffle scale the two
    * identical wins-by-w exchanges are reuse-eligible) — measured a
    * net WIN anyway at every rung of the decorrelated-copy sweep
    * (78.4 s vs 89.5 s at 128×), with only the output-bound
    * identical-replica worst case paying ~25% for the second pass.
    * Election semantics are identical — (id, pos) pairs are unique
    * within a hash group — which the unchanged `dedup_substr_bridge`
    * oracle hash and the randomized brute-force property spec verify. */
  private def electCutStarts(wins: DataFrame, dupKeys: DataFrame,
      idCol: String): DataFrame = {
    val dupOcc = wins.join(dupKeys, Seq("w"))
    val keepers = dupOcc.groupBy(col("w"))
      .agg(min(struct(col(idCol), col("pos"))).as("__keep"))
    dupOcc.join(keepers, Seq("w"))
      .filter(struct(col(idCol), col("pos")) =!= col("__keep"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
  }

  /** Shared rebuild tail of the fused and incremental cuts: left-join
    * the per-doc ascending start lists, run ONE ShingleHash.cutSpans byte scan per
    * row (lowered emission for the oracle family, original-case when
    * `preserveCase`). */
  private def rebuildCut(docs: DataFrame, cutStarts: DataFrame, n: Int,
      textCol: String, idCol: String, preserveCase: Boolean): DataFrame = {
    val starts = coalesce(col("__starts"), lit(Array.empty[Long]))
    docs.join(cutStarts, Seq(idCol), "left")
      .withColumn(textCol,
        if (preserveCase) TextExpressions.cutSpansPreserveCase(col(textCol), starts, n)
        else TextExpressions.cutSpans(col(textCol), starts, n))
      .drop("__starts")
  }

  /** The positional window-hash relation [[dedupSubstrings]] and its
    * incremental form share: (idCol, pos 1-based long, w) — one row per
    * complete `n`-token window; docs under `n` tokens emit nothing. */
  private def substrWindows(docs: DataFrame, n: Int, textCol: String,
      idCol: String, md5Bridge: Boolean): DataFrame =
    if (md5Bridge)
      // ShingleHash.windowMd5s hashes each window's contiguous byte range in-row and
      // emits empty for under-n docs — no eligibility filter, no shingle
      // strings (the chained-zip_with column form was the bridge's
      // measured dominant cost: 6.2 s → sub-second at sf0.1)
      docs.select(col(idCol),
          posexplode(TextExpressions.windowMd5s(col(textCol), n)))
        .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("w"))
    else
      // the xx kernel keeps ShingleHash.hashes' short-doc whole-text
      // fallback, so under-n docs are filtered out up front
      docs.filter(size(TextFunctions.wsTokens(col(textCol))) >= n)
        .select(col(idCol),
          posexplode(TextExpressions.shingleHashes(col(textCol), n, dedup = false)))
        .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("w"))

  /** The window-hash REGISTRY to persist for incremental ExactSubstr:
    * the distinct window hash of every `n`-token window the corpus has
    * EVER contained — hashes of the ORIGINAL text, not the cut output
    * (the fused operator ranks a new occurrence against original corpus
    * occurrences; a window cut from the corpus must still cut its next
    * copy, and its hash is in some earlier batch's original windows by
    * construction). At corpus scale persist it BUCKETED by `w` so the
    * increment probe reads it exchange-free; after shipping a batch,
    * append `substrRegistry(batch)` over the batch's ORIGINAL text,
    * ANTI-JOINED against the registry first (the streaming spec's
    * recipe) — a blind append keeps one row per (hash, batch) and each
    * recurring boilerplate hash then fans the probe join out k-fold
    * after k batches. */
  def substrRegistry(docs: DataFrame, n: Int = 50, textCol: String = "text",
      idCol: String = "doc_id", md5Bridge: Boolean = false): DataFrame =
    substrWindows(docs, n, textCol, idCol, md5Bridge).select(col("w")).distinct()

  /**
   * Incremental [[dedupSubstrings]]: cut the INCREMENT's duplicated
   * windows against the persisted corpus registry plus within-increment
   * repeats — without touching corpus text. CORRECTNESS PRECONDITION —
   * increment ids must sort AFTER every corpus id (same contract as
   * [[dedupParagraphsIncremental]]; `maxCorpusId` turns it into a
   * runtime check). Then the result is EXACTLY `dedupSubstrings(corpus
   * ∪ increment)` restricted to increment docs (spec-proven): a batch
   * occurrence whose hash is in the registry always loses its race (a
   * corpus occurrence came first), and among registry-fresh hashes the
   * batch-first occurrence is the global first — so cut = (hash ∈
   * registry) ∨ (within-batch rank > 1). One registry probe (left
   * join on the hash — exchange-free against a `w`-bucketed registry),
   * ONE window rank over the batch's window relation, rebuild as in the
   * fused form. The registry flag is a per-HASH fact, so every row of a
   * `w` partition is either registry-hit or fresh — rank-within-fresh
   * IS the partition rank, and the whole cut verdict is one filter over
   * one windowed pass (no shared-lineage union branches — the Spark
   * 4.1.2 relation-dedup hazard KeyedStore.merge documents). Unlike the
   * fused form this ranks ALL batch windows, not just duplicated ones —
   * an increment is a micro-batch by contract, so one batch-sized sort
   * beats the fused form's extra aggregation + join.
   */
  def dedupSubstringsIncremental(increment: DataFrame, registry: DataFrame,
      n: Int = 50, textCol: String = "text", idCol: String = "doc_id",
      md5Bridge: Boolean = false, maxCorpusId: Option[Any] = None,
      preserveCase: Boolean = false): DataFrame = {
    require(n >= 2, s"window must be >= 2 tokens: $n")
    maxCorpusId.foreach { bound =>
      val offenders = increment.filter(col(idCol) <= lit(bound)).count()
      require(offenders == 0,
        s"dedupSubstringsIncremental precondition violated: $offenders increment " +
          s"ids sort at or below maxCorpusId=$bound — such ids would win races " +
          "corpus windows already won, diverging from dedupSubstrings(corpus ∪ increment)")
    }
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col(idCol), col("pos"))
    val cutStarts = substrWindows(increment, n, textCol, idCol, md5Bridge)
      .join(registry.select(col("w"), lit(true).as("__reg")), Seq("w"), "left")
      .withColumn("__rk", row_number().over(byKey))
      // registry hit → every batch occurrence lost its race; fresh hash
      // → batch-first (rank 1) is the global first, the rest cut. A
      // fresh singleton has rank 1, so no count guard is needed.
      .filter(col("__reg").isNotNull || col("__rk") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    rebuildCut(increment, cutStarts, n, textCol, idCol, preserveCase)
  }

  // ---- md5 oracle bridges for the signature kernels ----------------------
  //
  // The production MinHash/SimHash paths hash with xxhash64 (the codegen'd
  // kernels above) — fast, but with no DuckDB twin, so those queries are
  // rows-only + property-tested. These bridges compute the SAME signature
  // algebra over the engine-portable md5-prefix hash stream
  // ([[Corpus.hashValue]]), making the minhash fold and the simhash
  // bit-vote hash-verifiable end-to-end cross-engine. They are CONTRACT
  // witnesses, not the scale path: per-row work is identical in shape
  // (row-local fold over the shingle/token array, no exchange), only the
  // hash primitive differs.

  /** Bridge permutation count / prime / LCG-style constants — interpolated
    * into the DuckDB oracle from these same values (one definition). */
  val BridgePerms = 16
  val BridgeP = 2147483647L // 2^31 − 1: a*(h mod P) + b stays < 2^63
  def bridgeA(i: Int): Long = (2654435761L * (i + 1)) % BridgeP
  def bridgeB(i: Int): Long = (1013904223L * (i + 1)) % BridgeP
  val MinhashBridgeSalt = "#mh"
  val SimhashBridgeSalt = "#sh"

  /**
   * MinHash signature over word 3-shingles, md5 hash stream:
   *   minhash_i(d) = min_{s ∈ shingles(d)} (a_i·(h(s) mod P) + b_i) mod P
   * One row per (doc, permutation); docs with < 3 tokens have no shingle
   * set and are excluded (their signature is undefined — the production
   * path short-circuits them to exact-dup handling the same way).
   * Row-local: the 16 minima fold inside the row's own shingle array,
   * posexplode fans out — zero exchange.
   */
  def minhashBridge(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Shingle strings build row-locally (the one HOF — pure string ops);
    // everything hot is POST-explode so the md5 and the 16 permutations
    // run codegen'd at top level: higher-order lambdas evaluate
    // interpreted per element, and nesting the hash inside 16 per-perm
    // lambdas would also re-evaluate it 16× (measured: 127 s → 0.6 s at
    // sf0.1 for this exact reshape). The (doc, perm) min folds map-side
    // — the exchange carries ≤ 16 rows per doc per partition.
    // tokens BIND to a column before the shingle lambda: an expression
    // referenced inside a higher-order lambda re-evaluates per element,
    // so `element_at(tokens(text), i)` would re-run the whole regexp
    // tokenization 3× per shingle (measured: 8 s → 0.5 s at sf0.1)
    val tk = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 3)
    val t = col("__tk")
    val sh = transform(sequence(lit(0), size(t) - 3), i => concat_ws(" ",
      element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))
    // 16 min-columns in ONE doc-keyed aggregation (no 16× row fanout
    // before the exchange — a posexplode-then-group shape measured ~60%
    // slower); the (doc, perm) long layout unpivots AFTER, over k·16 rows
    val mins = tk.select(col(idCol), explode(sh).as("__s"))
      .select(col(idCol),
        (Corpus.hashValue(col("__s"), MinhashBridgeSalt) % BridgeP).as("__h"))
      .groupBy(col(idCol))
      .agg(minPerm(0).as("__m0"),
        (1 until BridgePerms).map(i => minPerm(i).as(s"__m$i")): _*)
    mins.select(col(idCol),
      posexplode(array((0 until BridgePerms).map(i => col(s"__m$i")): _*))
        .as(Seq("perm", "minhash")))
  }

  private def minPerm(i: Int): Column =
    min((lit(bridgeA(i)) * col("__h") + lit(bridgeB(i))) % BridgeP)

  /**
   * LSH BANDING over the bridge signature, oracle-verifiable end-to-end:
   * the 16 permutations fold into `bands` bands of r = 16/bands rows,
   * a band's value is its minhashes concatenated in permutation order,
   * and candidate pairs are documents sharing any (band, value) —
   * exactly the banded-table algebra the xxhash64 production path runs
   * ([[minhashBandedTable]]/[[candidatePairs]]), on the md5 stream the
   * oracle can recompute. The self-join is bucket-bounded (docs meet
   * only inside equal band values), never all-pairs; the production
   * path adds the hot-bucket df valve this contract witness omits.
   */
  def minhashPairsBridge(docs: DataFrame, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(BridgePerms % bands == 0, s"bands must divide $BridgePerms: $bands")
    val sig = minhashBridge(docs, textCol, idCol)
    val bd = sig
      .withColumn("band", (col("perm") / lit(BridgePerms / bands)).cast("int"))
      .groupBy(col(idCol), col("band"))
      // sort_array on (perm, minhash) structs orders by perm — the band
      // value is permutation-ordered regardless of aggregation order
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("perm"), col("minhash")))),
        x => x.getField("minhash").cast("string")), "|").as("__bv"))
    bd.select(col(idCol).as("id_a"), col("band"), col("__bv"))
      .join(bd.select(col(idCol).as("id_b"), col("band"), col("__bv")),
        Seq("band", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /**
   * 32-bit SimHash over unigram tokens, md5 hash stream: bit b is set iff
   * the tokens voting 1 on bit b outnumber those voting 0. Tokenless docs
   * get signature 0 (every bit loses its vote 0 to 0). Row-local bit
   * votes — zero exchange.
   */
  def simhashBridge(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // explode + ONE doc-keyed aggregation carrying all 32 bit-vote sums:
    // md5 runs once per token at top level (codegen'd); a per-row HOF
    // formulation would re-evaluate the token hashing inside each of the
    // 32 bit lambdas, interpreted (measured 8.4 s vs 0.2 s at sf0.1).
    // explode_outer keeps tokenless docs: their vote sums stay null and
    // every bit resolves 0.
    val ex = docs
      .select(col(idCol), explode_outer(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(col(idCol), Corpus.hashValue(col("__t"), SimhashBridgeSalt).as("__h"))
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"__c$b")
    }
    ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 32).map(b =>
          when(col(s"__c$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash"))
  }
}
