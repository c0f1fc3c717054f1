package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Writes
import graft.functions.{Quantize, TextFunctions}

/**
 * Data-SELECTION operators for training-corpus curation: which documents
 * to keep, at what weight — the layer between cleaning (gates, dedup) and
 * packing. Three public-method primitives:
 *
 *  - DSIR importance resampling (Xie et al. 2023, "Data Selection for
 *    Language Models via Importance Resampling"): score every raw doc by
 *    how much more likely its hashed-n-gram profile is under a TARGET
 *    domain than under the raw corpus, then keep the top slice. The
 *    distribution model is a pair of multinomials over B hash buckets —
 *    small enough to broadcast at ANY corpus size (the model is O(B),
 *    not O(vocab)), which is the whole point of the hashed variant.
 *  - Multinomial Naive Bayes domain classification: the classic
 *    count-based domain/quality router (fastText-class problems where a
 *    linear model over token counts is the published baseline). Training
 *    IS aggregation — (term, class) counts — so the "training loop" is
 *    one shuffle; scoring is map-only against a broadcast model.
 *  - Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
 *    top-k by key u^(1/w) — here the log form ln(u)/w, monotone-equal —
 *    with u a DETERMINISTIC per-doc uniform from the md5 hash stream
 *    (no RNG state, same sample on any cluster/partitioning, composable
 *    with the split/sample salts like every sampler in [[Corpus]]).
 *
 * Everything is engine-mirrorable (md5 bucket hashes, double math) so
 * each operator carries a full DuckDB oracle — no rows-only entries in
 * this family.
 *
 * 100 TB posture, per operator:
 *  - DSIR: one (bucket-keyed, map-side-combined) exchange of ≤ B rows per
 *    partition to fold the two histograms, ONE broadcast row out, then
 *    map-only scoring (`aggregate` over the per-row feature array against
 *    the broadcast log-ratio array). The top-k select is [[topKBy]]:
 *    TakeOrderedAndProject (per-partition heaps) up to [[TopKMergeCap]];
 *    above it (production "select 5% of the corpus" k) the
 *    [[topKThresholdCut]] valve selects the identical set with no
 *    single-point merge.
 *  - NB: one term-keyed exchange for the (term, class) counts (map-side
 *    combined; the exchange carries ≤ vocab·classes rows), one single-row
 *    fold into a broadcast term→count-array map, map-only scoring. For
 *    open-vocabulary corpora beyond the broadcast ceiling, cap the
 *    modelled vocab (`vocabCap`) — untracked terms fall to the Laplace
 *    floor, exactly how production fastText-style routers bound their
 *    tables. The vocabCap head is a [[topKBy]] over the term relation;
 *    its k IS the broadcast-model size, which the broadcast ceiling
 *    binds long before the merge funnel would.
 *  - A-Res: a pure map (hash, ln, divide) + [[topKBy]], with the same
 *    [[TopKMergeCap]] → [[topKThresholdCut]] valve for corpus-fraction k.
 */
object Selection {

  /** DSIR hash-feature space size. 2^k buckets keeps the modulo cheap;
    * the published method uses 10k–65k — 256 is plenty for the fixture
    * corpus and the arithmetic is size-independent. */
  val DsirBuckets = 256

  /** DSIR's own hash-stream salt: feature bucketing must not correlate
    * with the split/sample/shard streams (same argument as
    * [[Corpus.ShardSalt]]). */
  val DsirSalt = "#dsir"

  /** A-Res key-stream salt (see [[Corpus.hashBucket]]'s stream doctrine:
    * selection keys must be independent of split buckets). */
  val WeightSalt = "#wsamp"

  /**
   * DSIR log importance weight per document:
   *   w(d) = Σ_{feature occurrences f in d} [ ln p̂_tgt(b(f)) − ln p̂_raw(b(f)) ]
   * with Laplace-smoothed bucket multinomials
   *   p̂(b) = (n_b + 1) / (n_tot + B)
   * estimated from the SAME frame (`target` marks the in-domain rows, the
   * whole frame is the raw distribution). Returns (idCol, weight) with
   * the weight quantized to 6dp for cross-engine stability.
   *
   * Shape: ONE corpus scan builds a per-(doc, bucket) count histogram
   * whose exchange both passes reuse (ReusedExchange — see the body
   * comment); the model folds it to ≤ B log-ratio rows that broadcast-
   * hash-join back for scoring; the final doc-keyed aggregation's
   * exchange carries ≤ B rows per doc. Everything hot — tokenize, md5
   * bucket, joins, sums — runs codegen'd at top level; the only
   * higher-order lambda is the bigram string build. At 100 TB the same
   * plan holds: the histogram exchange is the materialization point (a
   * small fraction of the text), and nothing else touches the corpus.
   */
  def dsirWeights(docs: DataFrame, target: Column, textCol: String = "text",
      idCol: String = "doc_id", buckets: Int = DsirBuckets): DataFrame = {
    // explode_outer keeps zero-feature (or null-text) docs as one
    // null-bucket row → they survive to the output with weight 0.0.
    //
    // The per-(doc, bucket) HISTOGRAM is the relation both passes (model
    // + scoring) consume: because they consume the SAME groupBy, the
    // physical plan reuses ONE exchange (ReusedExchange) and the
    // expensive map side — tokenize, bigram build, md5 — executes once,
    // exactly like the oracle engine materializing the feature CTE. A
    // naive two-consumer formulation re-scans the corpus per consumer
    // (measured 2.7× the single-scan cost at sf0.1).
    // feature hashing via the byte-scan kernel ([[graft.plans
    // .ShingleHash.md5FeatureBuckets]]): one pass, no feature strings, no hex
    // round-trip — spec-pinned bit-identical to hashing the unigram ++
    // bigram feature strings (`SelectionOracles.featureStrings`) through
    // [[Corpus.hashBucket]], which remains the readable contract definition
    val hist = docs.select(col(idCol), target.as("__tgt"),
        explode_outer(graft.plans.TextExpressions.md5FeatureBuckets(
          col(textCol), buckets, DsirSalt)).as("__b"))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    // NO null-bucket filter here: filtering on the grouping key would
    // push below the histogram aggregation and de-duplicate the two
    // branches' subtrees — killing the exchange reuse. The null-bucket
    // row rides through cnt/lr but can never join back (null keys don't
    // match); it is excluded from the smoothing TOTALS below.
    val cnt = hist
      .groupBy(col("__b"))
      .agg(sum(col("__c")).as("raw_n"),
        sum(when(col("__tgt"), col("__c")).otherwise(0L)).as("tgt_n"))
    // ≤ B-row log-ratio TABLE, broadcast-hash-joined on the bucket (a
    // one-row array carrier would ride a nested-loop join and copy the
    // whole 2 KB array into every exploded feature row — measured ~0.8 s
    // of pure row-widening at sf0.1). Totals fold via an unpartitioned
    // window over the ≤ B aggregated rows (single-partition, trivial at
    // that size) — a separate totals aggregate would re-execute the
    // whole model pass as a second corpus scan. Buckets absent from cnt
    // cannot occur in fx, so the table needs no smoothing-floor rows.
    scoreHist(hist, lrFromCnt(cnt, buckets), idCol)
  }

  /** ≤ B-row log-ratio table from the (bucket, raw_n, tgt_n) histogram
    * aggregate. Totals fold via an unpartitioned window over the ≤ B
    * aggregated rows (single-partition, trivial at that size) — a
    * separate totals aggregate would re-execute the whole model pass as
    * a second corpus scan. The null-bucket row (zero-feature docs) rides
    * through but is excluded from the smoothing totals; it can never
    * join back (null keys don't match). */
  private def lrFromCnt(cnt: DataFrame, buckets: Int): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def tot(c: Column): Column =
      sum(when(col("__b").isNotNull, c).otherwise(0L)).over(wAll)
    cnt.select(col("__b"),
      (log((col("tgt_n") + lit(1.0)) / (tot(col("tgt_n")) + lit(buckets.toDouble))) -
        log((col("raw_n") + lit(1.0)) / (tot(col("raw_n")) + lit(buckets.toDouble))))
        .as("__lr"))
  }

  /** Scoring: Σ_b c_db · lr_b — the count-times-ratio form on BOTH
    * engines (the oracle mirrors it), over bucket rows, not feature
    * occurrences. The ≤ B-row lr TABLE broadcast-hash-joins on the
    * bucket (a one-row array carrier would ride a nested-loop join and
    * copy the whole array into every row); null-bucket rows miss the
    * left join → the sum skips them → weight 0.0. */
  private def scoreHist(hist: DataFrame, lrTbl: DataFrame, idCol: String): DataFrame =
    hist.join(broadcast(lrTbl), Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg(Quantize.quantize(coalesce(sum(col("__c") * col("__lr")), lit(0.0)), 6)
        .as("weight"))

  /** The trained DSIR model as a RELATION: (bucket, log_ratio), ≤ B
    * rows — persist it once (`model.write.parquet`) and score every
    * later crawl increment map-only with [[dsirWeightsFromModel]],
    * without re-estimating the histograms. The production split of
    * [[dsirWeights]] (which fuses train+score over one frame). */
  def dsirModel(docs: DataFrame, target: Column, textCol: String = "text",
      buckets: Int = DsirBuckets): DataFrame = {
    // materialized: the tiny (≤ B+1 row) histogram feeds two consumers
    // (per-bucket ratios + the sentinel's totals) — without it each
    // consumer re-runs the corpus scan
    val cnt = Materialize(docs.select(target.as("__tgt"),
        explode_outer(graft.plans.TextExpressions.md5FeatureBuckets(
          col(textCol), buckets, DsirSalt)).as("__b"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("raw_n"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("tgt_n")), None)
    // sentinel bucket −1: the Laplace default log-ratio for buckets the
    // training corpus never hit — ln(1/(tgt_tot+B)) − ln(1/(raw_tot+B)).
    // A scored INCREMENT can contain novel vocabulary; without this row
    // the scoring join silently contributed 0 per unseen-bucket
    // occurrence instead of the smoothed ratio the estimator defines.
    val dflt = cnt.agg(
        sum(when(col("__b").isNotNull, col("tgt_n")).otherwise(0L)).as("__tt"),
        sum(when(col("__b").isNotNull, col("raw_n")).otherwise(0L)).as("__rt"))
      .select(lit(-1).as("bucket"),
        (log(lit(1.0) / (col("__tt") + lit(buckets.toDouble))) -
          log(lit(1.0) / (col("__rt") + lit(buckets.toDouble)))).as("log_ratio"))
    lrFromCnt(cnt, buckets).filter(col("__b").isNotNull)
      .select(col("__b").as("bucket"), col("__lr").as("log_ratio"))
      .unionByName(dflt)
  }

  /** Incremental DSIR scoring against a persisted [[dsirModel]]: one
    * corpus pass + a broadcast join — identical weights to the fused
    * form for the corpus the model was trained on (shared oracle). */
  def dsirWeightsFromModel(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = DsirBuckets): DataFrame = {
    val hist = docs.select(col(idCol),
        explode_outer(graft.plans.TextExpressions.md5FeatureBuckets(
          col(textCol), buckets, DsirSalt)).as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    // buckets unseen at training score the model's sentinel default
    // (bucket −1), not 0 — novel vocabulary in a scored increment gets
    // the Laplace-smoothed ratio the estimator defines. Models persisted
    // before the sentinel existed degrade to the old 0.0 contribution
    // (absent sentinel → 0.0 default). The ≤ B+1-row model collects ONCE
    // and rides as a literal dense ratio vector (the r21 weightVec
    // posture): one collect job replaces the two broadcast
    // materializations (ratio table + sentinel aggregate) and the
    // crossJoin — join-miss coalesce and the literal default read the
    // same doubles, rows and aggregation order are unchanged.
    // isNullAt guard: a model trained on an EMPTY corpus persists its
    // sentinel as (-1, null) — the old relational path coalesced that to
    // 0.0 weights; dropping the row reproduces exactly that degradation
    // instead of a driver-side NPE on getDouble
    val rows = model.collect().filter(!_.isNullAt(1))
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dlr = rows.getOrElse(-1, 0.0)
    val lrVec = lit(Array.tabulate(buckets)(b => rows.getOrElse(b, dlr)))
    hist.groupBy(col(idCol))
      .agg(Quantize.quantize(coalesce(sum(col("__c") *
          when(col("__b").isNull, lit(0.0)) // zero-feature doc row: no features, no default
            .otherwise(element_at(lrVec, col("__b") + 1))), lit(0.0)), 6)
        .as("weight"))
  }

  /** The selection half of DSIR: keep the k raw docs whose profiles look
    * most like the target domain, by [[topKBy]] over the QUANTIZED weight
    * so the kept set is engine-exact. */
  def dsirTopK(docs: DataFrame, target: Column, k: Int,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = DsirBuckets,
      checkpointDir: Option[String] = None): DataFrame =
    topKBy(dsirWeights(docs, target, textCol, idCol, buckets), "weight",
      idCol, k, checkpointDir)

  /** Above this k, [[topKBy]] routes through [[topKThresholdCut]]
    * instead of `orderBy.limit`: TakeOrderedAndProject's final merge
    * concentrates the full k-row result in ONE task (per-partition
    * heaps, single-point merge) — fine for "top 10k docs", a funnel for
    * "select 5% of the corpus" where k is hundreds of millions. 4M rows ≈
    * a few hundred MB at the merge point, comfortably inside one task;
    * beyond that the valve's extra light jobs cost less than the merge. */
  val TopKMergeCap: Int = 4 * 1000 * 1000

  /**
   * THE single-relation top-k: the `k` rows of `df` by (`keyCol` DESC
   * NULLS LAST, `idCol` ASC). `idCol` must be unique, so the selection is
   * total and deterministic. Every single-relation top-k in the engine
   * goes through here (`TopKLintSpec` fails on a hand-written
   * `orderBy(… .desc …).limit` anywhere else).
   *
   * At or below [[TopKMergeCap]] this is `orderBy.limit`:
   * TakeOrderedAndProject, per-partition heaps and one k-row merge, with
   * the output in rank order. Above it TakeOrdered would PRE-ALLOCATE a
   * 2k-slot buffer in every task regardless of input size (measured
   * r21: ~168 MB per task at k = 10.5M, which OOM'd 2–4 GiB executors),
   * so big k routes through [[topKThresholdCut]]: the identical row set
   * (spec-pinned) in bounded memory, distributed and NOT globally
   * ordered. `checkpointDir` is used only on that path (see
   * [[Materialize]]).
   *
   * Per-GROUP top-k (one list per query row of a batch join) is a
   * different operator: it stays on the `struct_topk` heap aggregate
   * (`Similarity.topKPerQuery`).
   */
  def topKBy(df: DataFrame, keyCol: String, idCol: String, k: Long,
      checkpointDir: Option[String] = None): DataFrame =
    if (k <= TopKMergeCap)
      df.orderBy(col(keyCol).desc, col(idCol)).limit(k.toInt)
    else topKThresholdCut(df, keyCol, idCol, k, checkpointDir)

  /**
   * EXACT top-k by (`keyCol` DESC, `idCol` ASC) with NO single-point
   * merge — the cap-safe twin of `orderBy.limit(k)`, selecting the
   * identical row set (spec-pinned):
   *
   *   1. threshold precut — `approx_percentile` (bounded-memory GK
   *      sketch, one map-side-combined aggregate) estimates the k-th
   *      key; the fraction is guard-banded by the sketch's rank-error
   *      bound (≤ n/accuracy) and VERIFIED by a count, widening
   *      geometrically on the (rare) under-cut. The corpus is then
   *      touched by one map-only filter → ~k(1+ε) candidates.
   *   2. distributed exact rank over the candidates — range-repartition
   *      on the sort key (the only shuffle, ~k rows), per-partition
   *      `row_number` (a window PARTITIONED by `spark_partition_id`, so
   *      no global-sort single task), plus a ≤ #partitions-row collect
   *      of per-partition counts whose running sums broadcast back as
   *      rank offsets. `global_rank = offset(pid) + rn ≤ k`.
   *
   * Ties at the threshold break by the same (key, id) order as the
   * TakeOrdered path — `idCol` must be unique, so the selection is
   * total and deterministic. Output is distributed (partition-local
   * sorted), never funneled through one task.
   */
  private[graft] def topKThresholdCut(scored0: DataFrame, keyCol: String,
      idCol: String, k: Long,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = scored0.sparkSession
    if (k <= 0) return scored0.limit(0)
    // ONE pass computes the keys (pinned — both callers' keys are
    // md5-derived, ~60 s/pass at a 20M-row rung, so re-executing the
    // scoring lineage per consumer dominates everything else); then:
    //   job 1 — count + a 999-point percentile GRID in one aggregate
    //     over the pinned blocks (the fraction depends on n, so a
    //     single-fraction sketch would need n first = one more job; the
    //     grid trades ≤ n/1000 extra candidate rows for it — negligible
    //     at corpus-fraction k);
    //   job 2 — the threshold filter feeding the range exchange of the
    //     ~k-row sliver, pinned (pid stability, see below) WITHOUT an
    //     intermediate candidates checkpoint — the guard-band check
    //     reads the per-partition counts of the pinned sliver itself.
    val scored = Materialize(scored0, checkpointDir)
    val acc = 100000 // GK rank error <= n/acc per sketch guarantee
    val gridN = 1000
    val r = scored.agg(count(lit(1)).as("n"),
      approx_percentile(col(keyCol),
        array((1 until gridN).map(i => lit(i.toDouble / gridN)): _*),
        lit(acc)).as("g")).head
    val n = r.getLong(0)
    if (n == 0) { Materialize.release(scored); return scored0.limit(0) }
    val grid: Seq[Double] =
      if (r.isNullAt(1)) Seq.empty else r.getSeq[Double](1)
    // grid(i) estimates the key at fraction (i+1)/gridN; aim depth
    // (= k + 2 error widths) below the top and round the fraction DOWN
    // a grid step — both roundings widen the candidate set, never
    // narrow it. idx < 0 = no cut (keep everything).
    val depth = k + 2L * math.max(1L, n / acc)
    var idx: Int =
      if (depth >= n || grid.isEmpty) -1
      else math.min(gridN - 2,
        ((1.0 - depth.toDouble / n) * gridN).toInt - 1)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var out: Option[DataFrame] = None
    var prevSorted: Option[DataFrame] = None
    while (out.isEmpty) {
      // an under-cut retry supersedes the previous iteration's pinned
      // sliver — release it (localCheckpoint blocks otherwise accumulate
      // one ~k-row copy per widening for the job's lifetime)
      prevSorted.foreach(Materialize.release)
      val cand = if (idx < 0) scored
        else scored.filter(col(keyCol) >= grid(idx))
      // distributed exact rank over the ~k-row candidate sliver. The pin
      // is CORRECTNESS, not just economy: __pid is captured into the
      // stored rows, so the per-partition counts job and the row_number
      // job read the SAME partition ids — left as lineage, a re-executed
      // range exchange (AQE re-plan, speculative retry) could renumber
      // partitions between the jobs and mis-offset every rank. It also
      // doubles as the candidate-count job (sum of per-partition counts),
      // so verifying the guard band costs no extra pass.
      val sorted = Materialize(
        cand.repartitionByRange(parts, col(keyCol).desc, col(idCol).asc)
          .sortWithinPartitions(col(keyCol).desc, col(idCol).asc)
          .withColumn("__pid", spark_partition_id()), checkpointDir)
      val perPart = sorted.groupBy(col("__pid"))
        .agg(count(lit(1)).as("__c")).collect()
        .map(x => (x.getInt(0), x.getLong(1))).sortBy(_._1)
      val total = perPart.map(_._2).sum
      if (total >= k || idx < 0) {
        var running = 0L
        val offsets = perPart.map { case (p, c) =>
          val o = (p, running); running += c; o }
        val offDf = broadcast(spark.createDataFrame(offsets.toSeq)
          .toDF("__pid", "__off"))
        val w = Window.partitionBy(col("__pid"))
          .orderBy(col(keyCol).desc, col(idCol).asc)
        out = Some(sorted.withColumn("__rn", row_number().over(w))
          .join(offDf, Seq("__pid"))
          .filter(col("__off") + col("__rn") <= k)
          .drop("__pid", "__rn", "__off"))
      } else {
        // under-cut (heavy ties just above the threshold can starve the
        // band): widen 10 grid steps per retry, falling back to no cut
        idx = if (idx < 10) -1 else idx - 10
        prevSorted = Some(sorted)
      }
    }
    // the result reads only the FINAL sorted sliver's blocks — the
    // corpus-sized scored pin has no remaining consumer
    Materialize.release(scored)
    out.get
  }

  /**
   * Multinomial Naive Bayes with Laplace smoothing: train token counts on
   * `train` (label = `classCol`), score every row of `score`, emit
   * (idCol, classCol, pred_<classCol>, score) — the actual label rides
   * along so accuracy is a one-liner downstream.
   *
   *   score(d, c) = ln(docs_c / docs_total)
   *               + Σ_{tok ∈ d} ln((n_{tok,c} + 1) / (n_c + V))
   *
   * argmax over classes, ties to the alphabetically first class (the
   * broadcast arrays are class-sorted and `array_position` returns the
   * FIRST maximum — mirroring the oracle's `ORDER BY score DESC, class`).
   *
   * The model folds in ONE term-keyed aggregation (per-class count
   * arrays) and broadcasts as a JOIN relation (vocab rows, not a giant
   * map in one row); the per-class token totals + V fold from it into a
   * single broadcast row, class priors ride as plan LITERALS off the
   * bounded class pull (ln of the same count ratio the oracle computes —
   * one fewer aggregate and join). Scoring explodes the tokens, broadcast-hash-joins the model
   * (codegen'd — no interpreted per-token lambdas), and folds per-class
   * sums in one doc-keyed aggregation whose exchange carries one
   * partial row per doc. `vocabCap > 0` keeps only the cap's
   * most-frequent terms in the model (ties to the lexicographically
   * first) — the broadcast-ceiling valve for open vocabularies; dropped
   * terms score at the Laplace floor like any unseen token.
   */
  def nbClassify(train: DataFrame, score: DataFrame,
      classCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id", vocabCap: Int = 0): DataFrame = {
    val (classes, priors, perTerm) =
      trainNbTerms(train, classCol, textCol, vocabCap, "nbClassify")
    val k = classes.length
    val statsRow = perTerm.agg(
      array((0 until k).map(i => sum(element_at(col("cnts"), i + 1))): _*).as("nc"),
      count(lit(1)).cast("double").as("v"))
    nbScore(score, perTerm, statsRow, classes, priors, classCol, textCol, idCol)
  }

  /** Shared NB TRAINING: the bounded class-domain pull (≤ dozens of
    * labels — same posture as the IVF centroid pull,
    * Similarity.scala:318; priors become plan literals, ln of the same
    * count ratio the oracle computes) plus the ONE term-keyed per-class
    * count aggregation with the vocabCap head truncation. Both the fused
    * [[nbClassify]] and the persisted-model writer [[writeNbModel]] train
    * THROUGH this, so a smoothing or tie-break change cannot silently
    * diverge the two spec-equal paths. Returns (classes sorted, priors in
    * class order, (__t, cnts) relation). */
  private def trainNbTerms(train: DataFrame, classCol: String, textCol: String,
      vocabCap: Int, who: String): (Seq[String], Seq[Double], DataFrame) = {
    val classRows = train
      .groupBy(col(classCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(classRows.nonEmpty, s"$who: empty training set")
    val classes = classRows.map(_._1).toSeq
    val nTot = classRows.map(_._2).sum.toDouble
    val priors = classRows.map { case (_, n) => math.log(n * 1.0 / nTot) }.toSeq
    val tok = train.select(col(classCol).cast("string").as("__c"),
      explode(TextFunctions.tokens(col(textCol))).as("__t"))
    val perTerm0 = tok.groupBy(col("__t"))
      .agg(array(classes.map(c =>
        sum(when(col("__c") === lit(c), 1L).otherwise(0L))): _*).as("cnts"))
    // keep the cap's head by total count, not a window — the model is
    // the only thing truncated, V counts the KEPT terms
    val perTerm = if (vocabCap > 0)
      topKBy(perTerm0.withColumn("__tot", aggregate(col("cnts"), lit(0L), _ + _)),
        "__tot", "__t", vocabCap).drop("__tot")
    else perTerm0
    (classes, priors, perTerm)
  }

  /** NB scoring against an in-plan (perTerm, statsRow) model — shared by
    * the fused [[nbClassify]] and the persisted-model path
    * ([[nbClassifyFromModel]]). explode → broadcast-join → k per-class
    * sums; the Laplace floor (unseen / capped-out term) is the SAME
    * formula at count 0, written as the same division so both engines
    * produce identical doubles; explode_outer keeps tokenless docs
    * (they score on priors alone, via the null-token guard). */
  private def nbScore(score: DataFrame, perTerm: DataFrame, statsRow: DataFrame,
      classes: Seq[String], priors: Seq[Double], classCol: String,
      textCol: String, idCol: String): DataFrame =
    nbScoreWith(score, perTerm, crossJoin = Some(statsRow),
      ncOf = i => element_at(col("nc"), i + 1),
      vCol = col("v"), classes, priors, classCol, textCol, idCol)

  /** [[nbScore]] with the per-class totals supplied as plan LITERALS —
    * the persisted-model path already holds the one meta row on the
    * driver, so shipping it back through a broadcast crossJoin would be
    * a whole extra exchange + job for one row it has in hand. */
  private def nbScoreLit(score: DataFrame, perTerm: DataFrame,
      nc: Seq[Long], v: Double, classes: Seq[String], priors: Seq[Double],
      classCol: String, textCol: String, idCol: String): DataFrame =
    nbScoreWith(score, perTerm, crossJoin = None,
      ncOf = i => lit(nc(i)), vCol = lit(v), classes, priors,
      classCol, textCol, idCol)

  private def nbScoreWith(score: DataFrame, perTerm: DataFrame,
      crossJoin: Option[DataFrame], ncOf: Int => Column, vCol: Column,
      classes: Seq[String], priors: Seq[Double], classCol: String,
      textCol: String, idCol: String): DataFrame = {
    val k = classes.length
    val joined = score
      .select(col(idCol), col(classCol),
        explode_outer(TextFunctions.tokens(col(textCol))).as("__t"))
      .join(broadcast(perTerm), Seq("__t"), "left")
    val dtok = crossJoin.fold(joined)(s => joined.crossJoin(broadcast(s)))
    val contribs = (0 until k).map { i =>
      val n = coalesce(element_at(col("cnts"), i + 1), lit(0L))
      val denom = ncOf(i) + vCol
      sum(when(col("__t").isNotNull, log((n + lit(1.0)) / denom))).as(s"__s$i")
    }
    val classArr = array(classes.map(lit): _*)
    dtok.groupBy(col(idCol), col(classCol))
      .agg(contribs.head, contribs.tail: _*)
      .withColumn("__s", array((0 until k).map(i =>
        coalesce(col(s"__s$i"), lit(0.0)) + lit(priors(i))): _*))
      .select(col(idCol), col(classCol),
        element_at(classArr, array_position(col("__s"), array_max(col("__s"))).cast("int"))
          .as(s"pred_$classCol"),
        Quantize.quantize(array_max(col("__s")), 6).as("score"))
  }

  /**
   * Train and PERSIST the NB model: `path/terms` = the (term, cnts)
   * relation, `path/meta` = one row carrying classes, per-class token
   * totals, V, and priors. Train once, route every later increment with
   * [[nbClassifyFromModel]] — no retraining pass. The meta aggregates
   * fold from the WRITTEN terms relation (a vocab-sized scan), so
   * training reads the corpus exactly once.
   */
  def writeNbModel(train: DataFrame, path: String, classCol: String = "lang",
      textCol: String = "text", vocabCap: Int = 0): Unit = {
    val spark = train.sparkSession
    val (classes, priors, perTerm) =
      trainNbTerms(train, classCol, textCol, vocabCap, "writeNbModel")
    val k = classes.length
    Writes(perTerm.select(col("__t").as("term"), col("cnts")))
      .mode("overwrite").parquet(s"$path/terms")
    Writes(spark.read.parquet(s"$path/terms")
      .agg(array((0 until k).map(i => sum(element_at(col("cnts"), i + 1))): _*).as("nc"),
        count(lit(1)).cast("double").as("v"))
      .select(array(classes.map(lit): _*).as("classes"), col("nc"), col("v"),
        array(priors.map(lit): _*).as("priors")))
      .mode("overwrite").parquet(s"$path/meta")
  }

  /** Route documents against a persisted [[writeNbModel]] artifact:
    * ONE bounded meta read + a broadcast terms join — identical output
    * to the fused [[nbClassify]] for the split the model was trained on
    * (shared oracle). The whole meta row (classes, priors, per-class
    * totals, V) becomes plan literals off that single `head()` — the
    * earlier shape re-read meta as a second relation and shipped its one
    * row back through a broadcast crossJoin, a whole extra job for
    * values already on the driver. The totals are the same longs/doubles
    * either way, so the scores are bit-identical. */
  def nbClassifyFromModel(score: DataFrame, path: String,
      classCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = score.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val classes = meta.getAs[scala.collection.Seq[String]]("classes").toSeq
    val priors = meta.getAs[scala.collection.Seq[Double]]("priors").toSeq
    val nc = meta.getAs[scala.collection.Seq[Long]]("nc").toSeq
    val v = meta.getAs[Double]("v")
    val perTerm = spark.read.parquet(s"$path/terms")
      .select(col("term").as("__t"), col("cnts"))
    nbScoreLit(score, perTerm, nc, v, classes, priors, classCol, textCol, idCol)
  }

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis–
   * Spirakis A-Res): key(d) = ln(u_d) / w_d with u_d uniform in (0,1),
   * keep the k largest keys — equivalent to sequential weighted draws,
   * but embarrassingly parallel. u_d = (h_d + 0.5) / 2^32 from the salted
   * md5 stream: no RNG, same sample on any partitioning, any engine.
   * Rows with non-positive weight are excluded (they can never be drawn).
   * Returns (idCol, w, ares_key), key quantized for engine-exact
   * selection; plans as a map + [[topKBy]].
   */
  def sampleWeighted(docs: DataFrame, weight: Column, k: Int,
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val u = (Corpus.hashValue(col(idCol), WeightSalt) + lit(0.5)) / lit(4294967296.0)
    // w is reported as DOUBLE: the draw uses the true fractional weight,
    // so the emitted weight must be the same value (a long cast would
    // report w = 0 for every weight in (0,1) while still sampling by it)
    val scored = docs.filter(weight > 0)
      .select(col(idCol), weight.cast("double").as("w"),
        Quantize.quantize(log(u) / weight.cast("double"), 6).as("ares_key"))
    topKBy(scored, "ares_key", idCol, k, checkpointDir)
  }

  /**
   * Discriminative quality scoring: full-batch logistic regression over
   * the hashed uni+bigram bucket histogram — the trained-classifier
   * filter of the DCLM / FineWeb-Edu pipeline shape, completing the
   * selection family as the discriminative sibling of [[nbClassify]]
   * (generative) and [[dsirWeights]] (importance ratios). Returns
   * (idCol, is_target, score) with score = σ(w·x) quantized 6dp.
   *
   * Deterministic AND cross-engine hash-verifiable BY CONSTRUCTION, not
   * by tolerance: w₀ = 0, fixed-lr full-batch GD for `iters`
   * iterations, and every updated weight is quantized to 9dp before the
   * next iteration — so the weight vector entering each iteration is
   * EXACTLY equal in any engine whose gradient sums agree to < 5e-10
   * (ulp-order float-summation differences, orders of magnitude below
   * the quantum). Training drift therefore cannot accumulate across
   * iterations, which is what lets the `quality_logreg` oracle verify
   * the whole TRAINING LOOP, not just a final scoring pass.
   *
   * Shape: the per-(doc, bucket) histogram materializes ONCE
   * (localCheckpoint — one corpus scan, the dsirWeights posture); each
   * iteration is two aggregations OVER THE HISTOGRAM (margins keyed by
   * doc, gradients keyed by bucket — the gradient exchange carries
   * ≤ buckets+1 rows out) plus a ≤ buckets+1-row driver collect (the
   * k-means loop convention). The intercept is the synthetic bucket
   * `buckets` — one occurrence per doc appended IN the explode (no
   * union branch) — so the bias rides the same relational algebra as
   * every feature weight, and zero-feature or null-text docs still
   * train and score through their bias row.
   */
  def logregScore(docs: DataFrame, target: Column, textCol: String = "text",
      idCol: String = "doc_id", buckets: Int = DsirBuckets, iters: Int = 3,
      lr: Double = 5.0): DataFrame = {
    // null target rows label as 0.0 (non-target) — folded inside
    // logregHist, matching the oracle's CASE ... ELSE 0.0
    val hist = logregHist(docs, target, textCol, idCol, buckets)
    scoreFromW(hist, logregTrain(hist, idCol, buckets, iters, lr), buckets, idCol)
  }

  /** The trained logreg model as a RELATION: (bucket, w) with the bias
    * at bucket = `buckets` — persist it once and score every later
    * increment map-only with [[logregScoreFromModel]] (the
    * dsirModel/writeNbModel production split; `quality_logreg_inc`
    * shares the fused oracle, so train → persist → score ≡ fused is
    * hash-verified). */
  def logregModel(docs: DataFrame, target: Column, textCol: String = "text",
      idCol: String = "doc_id", buckets: Int = DsirBuckets, iters: Int = 3,
      lr: Double = 5.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    logregTrain(logregHist(docs, target, textCol, idCol, buckets),
        idCol, buckets, iters, lr)
      .toSeq.toDF("bucket", "w")
  }

  /** Map-only scoring of an increment against a persisted (bucket, w)
    * model relation — the corpus is touched once, the model broadcasts.
    *
    * REASSOCIATION RISK, stated for the oracle pairing: the margin here
    * folds as (Σ_token w)/T + bias where the fused/oracle algebra is
    * Σ_b w_b·(c_b/T) + bias — identical over the reals, but the
    * floating-point summation GROUPING differs (per-token stream vs
    * per-bucket partials), so cross-engine hash equality for
    * `quality_logreg_inc` rests on the 6dp score quantization absorbing
    * the ulp-scale difference. That holds at the shipped fixtures and
    * for any margin not within ~1e-13 of a 0.5e-6 rounding boundary;
    * it is input-dependent in principle. Mirroring the oracle's
    * per-bucket form exactly would need the (doc, bucket) partial-sum
    * aggregation back — a second exchange, deleting the one-exchange
    * serve win this method exists for — so the quantization contract
    * is the deliberate trade. */
  def logregScoreFromModel(docs: DataFrame, model: DataFrame,
      target: Column, textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = DsirBuckets): DataFrame = {
    // null-w guard mirrors the old join's coalesce(__w, 0.0) (logreg
    // training can't emit null weights, but a persisted relation is an
    // open input)
    val w = model.collect().filter(!_.isNullAt(1))
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // SERVE is one scan + ONE exchange: the margin algebra
    //   m_d = Σ_b w_b·(c_db/T_d) + w_bias = (Σ_token w_b)/T_d + w_bias
    // folds per-token weights and the token count in the SAME doc-keyed
    // aggregation, so the train path's per-(doc,bucket) histogram, its
    // per-doc normalization WINDOW (a second exchange) and its eager
    // Materialize (which only the GD loop rereads) all drop out of the
    // serving plan — they were 3 of its 7 scheduled jobs. The collected
    // model rides as a literal dense weight vector ([[weightVec]] — the
    // r21 logregMargins posture: no broadcast-relation materialization
    // job for rows the driver already holds).
    val wv = weightVec(w, buckets)
    docs.select(col(idCol),
        coalesce(target.cast("double"), lit(0.0)).as("__y"),
        explode(concat(
          coalesce(graft.plans.TextExpressions.md5FeatureBuckets(
            col(textCol), buckets, DsirSalt), array()),
          array(lit(buckets)))).as("__b"))
      .groupBy(col(idCol), col("__y"))
      .agg((coalesce(
          sum(when(col("__b") =!= buckets,
            element_at(wv, col("__b") + 1))) /
          sum(when(col("__b") =!= buckets, lit(1.0))), lit(0.0)) +
        coalesce(sum(when(col("__b") === buckets,
          element_at(wv, col("__b") + 1))), lit(0.0))).as("__m"))
      .select(col(idCol), col("__y").cast("long").as("is_target"),
        Quantize.quantize(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6)
          .as("score"))
  }

  /** tf-normalized per-(doc, bucket) histogram with the bias bucket
    * (x_b = c_b / Σc per doc, bias fixed at 1): raw counts put margins
    * on the doc-length scale and GD saturates σ within an iteration
    * (measured: every score pinned near 0, zero class separation);
    * normalized, |margin| ≤ Σ|w| and the fixed lr is stable at any
    * document length. The per-doc total folds in one window over the
    * (small) histogram — the corpus is not re-touched. Materialized:
    * the train loop and the scoring pass reread it per iteration. */
  private def logregHist(docs: DataFrame, target: Column, textCol: String,
      idCol: String, buckets: Int): DataFrame = {
    val perDoc = Window.partitionBy(col(idCol))
    // null labels fold to 0.0 HERE so every caller is safe (the oracle's
    // CASE ... ELSE 0.0): a raw null __y would NPE the driver collect on
    // any bucket touched only by null-label docs, or silently inflate N
    // while contributing zero residual on shared buckets.
    //
    // The tf total stays a per-doc WINDOW over the histogram — this is
    // the oracle's own algebra (sum(...) OVER (PARTITION BY doc_id)).
    // An r20 experiment moved it in-row (Σc = size of the bucket array,
    // known before the explode), deleting the window exchange+sort — but
    // on duplicate-id inputs the in-row total normalizes per ROW where
    // this (and the oracle) normalize per DOC, an input-dependent
    // divergence for a change that measured par locally (1.58 → 1.50 s
    // matched A/B, within noise). Reverted; see OPTIMIZATION_r20.md §2.5.
    Materialize(docs.select(col(idCol),
        coalesce(target.cast("double"), lit(0.0)).as("__y"),
        explode(concat(
          coalesce(graft.plans.TextExpressions.md5FeatureBuckets(
            col(textCol), buckets, DsirSalt), array()),
          array(lit(buckets)))).as("__b"))
      .groupBy(col(idCol), col("__y"), col("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .withColumn("__c", when(col("__b") === buckets, lit(1.0))
        .otherwise(col("__c") /
          sum(when(col("__b") =!= buckets, col("__c"))).over(perDoc))), None)
  }

  private def logregMargins(hist: DataFrame, w: Map[Int, Double],
      buckets: Int, idCol: String): DataFrame =
    // the driver already holds w — ship it as a LITERAL dense weight
    // vector (O(1) codegen'd element_at on the in-range bucket id), not a
    // broadcast relation: the wDf left join paid one AQE broadcast
    // materialization job per GD iteration for ≤ B+1 rows (r21, verdict
    // #4). Missing buckets read 0.0 exactly like the join-miss coalesce;
    // rows, stream order and the doc-keyed aggregation are unchanged, so
    // the sums are bit-identical.
    hist.groupBy(col(idCol), col("__y"))
      .agg(sum(col("__c") * element_at(weightVec(w, buckets), col("__b") + 1))
        .as("__m"))

  /** The trained weights as a dense literal array column covering every
    * bucket id that can appear in a histogram/score row (0..buckets plus
    * any key the model itself carries); absent buckets weigh 0.0 — the
    * same value the old broadcast join-miss coalesced to. */
  private def weightVec(w: Map[Int, Double], buckets: Int): Column = {
    val n = (w.keys ++ Iterator(buckets)).max + 1
    lit(Array.tabulate(n)(b => w.getOrElse(b, 0.0)))
  }

  /** The GD loop over a materialized histogram — 9dp-quantized weights
    * per iteration (see [[logregScore]]'s determinism contract). */
  private def logregTrain(hist: DataFrame, idCol: String, buckets: Int,
      iters: Int, lr: Double): Map[Int, Double] = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(lr > 0, s"lr must be positive: $lr")
    def q9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    // Iteration 1 in closed form — w₀ = 0 ⇒ p = 0.5 ⇒ r = 0.5 − y, so
    // the residual rides the histogram row itself: ONE aggregation, no
    // margin pass (the oracle's w1 CTE computes it the same way). The
    // bias bucket's occurrence count doubles as N (one bias row per
    // doc), so the corpus size needs no separate action either: the
    // aggregation emits RAW sums + counts and the driver divides.
    val g1 = hist.groupBy(col("__b"))
      .agg(sum(col("__c") * (lit(0.5) - col("__y"))).as("__s"),
        count(lit(1)).as("__k"))
      .collect()
    val n = g1.collectFirst {
      case row if row.getInt(0) == buckets => row.getLong(2).toDouble
    }.getOrElse(0.0)
    require(n > 0, "logregTrain: empty corpus")
    var w: Map[Int, Double] = g1.map { row =>
      row.getInt(0) -> q9(-lr * row.getDouble(1) / n)
    }.toMap
    for (_ <- 2 to iters) {
      val r = logregMargins(hist, w, buckets, idCol).select(col(idCol),
        (lit(1.0) / (lit(1.0) + exp(-col("__m"))) - col("__y")).as("__r"))
      val g = hist.join(r, Seq(idCol))
        .groupBy(col("__b"))
        .agg((sum(col("__c") * col("__r")) / lit(n)).as("__g"))
        .collect()
      w = g.map { row =>
        val b = row.getInt(0)
        b -> q9(w.getOrElse(b, 0.0) - lr * row.getDouble(1))
      }.toMap
    }
    w
  }

  private def scoreFromW(hist: DataFrame, w: Map[Int, Double],
      buckets: Int, idCol: String): DataFrame =
    logregMargins(hist, w, buckets, idCol)
      .select(col(idCol), col("__y").cast("long").as("is_target"),
        Quantize.quantize(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6).as("score"))

  /**
   * Exact tie-aware ROC-AUC of a scored relation — the evaluation meter
   * for any classifier/filter in this family (Mann–Whitney form with
   * average ranks over ties). One row out: (auc 6dp, n_pos, n_neg);
   * auc is NULL when either class is absent (undefined, and a silent
   * 0/0 would differ across engines).
   *
   * 100 TB shape: AUC needs a GLOBAL score order, but never a global
   * row sort — scores are already finite-precision (this family
   * quantizes to 6dp), so ONE map-side-combinable aggregation folds the
   * corpus to ≤ |distinct scores| (score, n_pos, n_neg) rows, and the
   * rank algebra runs as an ordered scan over that bounded histogram
   * (the unpartitioned window is over the ≤ 2·10⁶-row model-sized
   * relation, the lrFromCnt precedent — not the corpus):
   *   AUC = Σ_s n_pos(s)·(neg_below(s) + n_neg(s)/2) / (P·N),
   * exactly the tied-average-rank statistic.
   */
  /**
   * Cluster-balanced ("diversity") selection: assign every vector to its
   * nearest centroid ([[Similarity.kmeansAssign]] — map-only against the
   * literal centroid table) and keep AT MOST `perCell` members per cell,
   * elected by the salted md5 id-hash rank (smallest hash first, id
   * tiebreak) — [[Corpus.sampleByHash]]'s determinism contract applied
   * per cluster. This flattens embedding-space density: a dense region
   * (near-duplicate web boilerplate, templated text) contributes the
   * same budget as a sparse one — the cluster-balanced sampling step of
   * SemDeDup-era curation recipes, and the selection-side complement of
   * [[Similarity.semanticDedupClustered]] (which removes near-dups
   * WITHIN a radius; this caps whole-region mass).
   *
   * 100 TB posture: one map-only assignment pass + ONE `struct_topk`
   * heap aggregation keyed on cell (≤ perCell rows per cell per
   * partition reach the exchange — the house election idiom, no rank
   * window, no per-cell sort). The centroid model broadcasts at any
   * corpus size; output is (idCol, cell) — scalars, hash-verifiable.
   */
  def selectDiverse(embeddings: DataFrame, centroids: Array[Array[Float]],
      perCell: Int, vecCol: String = "embedding", idCol: String = "vec_id",
      salt: String = Corpus.SampleSalt): DataFrame = {
    require(centroids.nonEmpty, "selectDiverse: no centroids")
    require(perCell > 0, s"selectDiverse: perCell must be positive: $perCell")
    diverseElect(Similarity.kmeansAssign(embeddings, centroids, vecCol, idCol),
      perCell, idCol, salt)
  }

  /** The per-cell budget election both diversity forms and the curation
    * flagship share: keep each cell's `perCell` smallest
    * (salted-md5-hash, id) members via ONE `struct_topk` heap
    * aggregation — [[Corpus.sampleByHash]]'s determinism contract
    * applied per cluster, never a rank window or per-cell sort. Input:
    * any relation carrying (idCol, cell). */
  private def diverseElect(assigned: DataFrame, perCell: Int,
      idCol: String, salt: String): DataFrame =
    assigned
      .groupBy(col("cell"))
      .agg(graft.plans.TopKExpressions.topKStructs(
        struct(Corpus.hashValue(col(idCol), salt).as("h"),
          col(idCol).as("i")), perCell).as("__tk"))
      .select(col("cell"), explode(col("__tk")).as("__e"))
      .select(col("__e.i").as(idCol), col("cell"))

  /**
   * Prototypicality gate — the other half of the cluster-curation
   * recipe ([[selectDiverse]] CAPS density; this FLOORS coherence):
   * keep vectors whose quantized cosine to their NEAREST centroid
   * reaches `minCos`. Rows below represent no cluster — embedding-space
   * noise (OCR garbage, wrong-modality rows, encoder failures) that
   * density-based dedup never touches because nothing else is near it.
   * Zero-norm vectors follow the assignment kernel's ANSI contract
   * (every [[Similarity.kmeansAssign]] consumer's): fail-fast under
   * ANSI — a zero-norm embedding is producer-side corruption the gate
   * must not paper over — and null-score → dropped under non-ANSI.
   *
   * 100 TB: map-only ([[Similarity.kmeansAssign]] against the literal
   * broadcast centroid table) + a filter on the already-quantized
   * score — no shuffle, no state. `minCos` compares on the 6dp grid,
   * so the SQL oracle reproduces the cut exactly.
   */
  def selectPrototypical(embeddings: DataFrame,
      centroids: Array[Array[Float]], minCos: Double,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(centroids.nonEmpty, "selectPrototypical: no centroids")
    Similarity.kmeansAssign(embeddings, centroids, vecCol, idCol)
      .filter(col("cos") >= minCos)
  }

  /**
   * INCREMENTAL [[selectDiverse]] under the SHIP-ONCE contract: registry
   * members (prior increments' selections) are grandfathered — a shipped
   * training example cannot be unshipped — so the batch competes only
   * for each cell's REMAINING slots (`perCell − |registry ∩ cell|`),
   * elected by the same salted hash rank. This intentionally differs
   * from "re-run the fused selection over the union", which could
   * displace an already-shipped registry member; the production
   * micro-batch loop is build registry → per batch: probe remaining
   * slots → append the batch's selections to the registry.
   *
   * Same plan shape as the fused form plus one broadcast join of the
   * ≤ |cells| per-cell slot counts: assignment map-only, ONE heap
   * aggregation (the batch can never need more than perCell per cell),
   * rank-vs-remaining filter on the heap's SORTED output positions.
   */
  def selectDiverseInc(batch: DataFrame, centroids: Array[Array[Float]],
      registry: DataFrame, perCell: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      salt: String = Corpus.SampleSalt): DataFrame = {
    require(centroids.nonEmpty, "selectDiverseInc: no centroids")
    require(perCell > 0, s"selectDiverseInc: perCell must be positive: $perCell")
    val taken = registry.groupBy(col("cell")).agg(count(lit(1)).as("__taken"))
    Similarity.kmeansAssign(batch, centroids, vecCol, idCol)
      .groupBy(col("cell"))
      .agg(graft.plans.TopKExpressions.topKStructs(
        struct(Corpus.hashValue(col(idCol), salt).as("h"),
          col(idCol).as("i")), perCell).as("__tk"))
      .join(broadcast(taken), Seq("cell"), "left")
      .select(col("cell"), col("__taken"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .filter(col("__pos") < lit(perCell) - coalesce(col("__taken"), lit(0L)))
      .select(col("__e.i").as(idCol), col("cell"))
  }

  /**
   * CLUSTER-DISJOINT train/val/test split: assign every vector to its
   * nearest centroid and split by the hash of the CELL, not the id —
   * every member of a cluster lands in the same split, so embedding-near
   * neighbors (paraphrases, templated near-dups) can never straddle the
   * train/eval boundary. Doc-level splits ([[Corpus.splitAssign]]) leak
   * exactly this way — `split_leakage` exists to MEASURE that; this is
   * the operator that prevents it. Same bucket grammar and percentages
   * as splitAssign (its salt conventions documented there), applied to
   * the cell id.
   *
   * 100 TB: one map-only assignment against the broadcast centroid
   * table; the split label is a pure column expression — no join, no
   * shuffle, no state. Granularity caveat: splits quantize to cluster
   * mass, so nCells must be ≫ 1/min(pct) for the realized fractions to
   * approach the requested ones (with 8 cells a 10% slice is one cell
   * — or none); train a finer model for tight fractions, and MEASURE the
   * realized split with [[splitMeter]] — the caveat as a checkable
   * number, not a doc line.
   */
  def splitByCluster(embeddings: DataFrame, centroids: Array[Array[Float]],
      trainPct: Int = 80, valPct: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(centroids.nonEmpty, "splitByCluster: no centroids")
    Similarity.kmeansAssign(embeddings, centroids, vecCol, idCol)
      .select(col(idCol), col("cell"),
        Corpus.splitExpr(col("cell"), trainPct, valPct).as("split"))
  }

  /**
   * REALIZED-fraction meter for [[splitByCluster]]: per split label, the
   * member count and its share of the corpus — the checkable number
   * behind the granularity caveat above (splits quantize to cluster
   * mass, so the realized fractions approach the requested ones only as
   * nCells ≫ 1/min(pct); with 8 cells a 10% slice is one cell — or
   * none). A pipeline runs this meter after assignment and retrains a
   * finer model when the deviation is out of tolerance — the
   * `quality_logreg_auc` pattern: the operator's blind spot gets its own
   * declared, oracle-checked measurement instead of a doc caveat.
   *
   * 100 TB: the split aggregation collapses to ≤ 3 rows after map-side
   * combine; the total rejoins as a broadcast of ONE row — no second
   * scan, no window.
   */
  def splitMeter(embeddings: DataFrame, centroids: Array[Array[Float]],
      trainPct: Int = 80, valPct: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val per = splitByCluster(embeddings, centroids, trainPct, valPct,
        vecCol, idCol)
      .groupBy(col("split")).agg(count(lit(1)).as("n_vecs"))
    val tot = per.agg(sum(col("n_vecs")).as("__t"))
    per.crossJoin(broadcast(tot))
      .select(col("split"), col("n_vecs"),
        Quantize.quantize(col("n_vecs") / col("__t"), 6).as("share"))
  }

  /**
   * The embedding-side FLAGSHIP — what a real semantic-curation run
   * executes END-TO-END, the [[Corpus.corpusClean]] precedent applied to
   * this family (each stage is individually hash-verified; the
   * composition is where stage-interaction bugs live — the
   * `corpus_clean` lesson):
   *
   *   1. coherence floor — [[selectPrototypical]]'s cut: quantized
   *      nearest-centroid cosine ≥ `minCos` (embedding-space noise that
   *      density-based dedup never touches drops first, so it can never
   *      occupy a diversity slot)
   *   2. SemDeDup — [[Similarity.semanticDedupClustered]]'s cell-scoped
   *      smaller-id-witness rule among the FLOOR'S survivors
   *   3. decontamination — [[Similarity.decontaminateSemantic]] vs the
   *      eval set (after dedup: a near-dup of a contaminated row is
   *      itself within reach of the eval vector and is dropped HERE, not
   *      grandfathered by its twin's removal)
   *   4. diversity cap — [[selectDiverse]]'s per-cell heap election over
   *      what remains (capping before decontamination could ship a cell
   *      whose every elected member was contaminated)
   *   5. cluster-disjoint split — [[splitByCluster]]'s cell-hash bucket
   *
   * Output: (idCol, cell, split) per curated training example — the
   * manifest a training-set writer joins back to the payload.
   *
   * 100 TB shape — ONE corpus scan, ONE real exchange: stage 1 assigns
   * map-only with the vector riding ([[Similarity.assignKeepVec]] — no
   * survivors-ids semi-join back to the corpus), stage 2 is the one
   * cell-keyed aggregation (vectors still riding,
   * [[Similarity.semanticDedupClusteredKeepVec]]), stage 3 streams
   * map-only past the broadcast eval set, and stages 4–5 reuse the
   * CELL ALREADY ON EVERY ROW — the second cell-keyed aggregation hashes
   * on the same key, so Catalyst reuses the dedup exchange's
   * partitioning, and the split label is a pure column expression.
   * Nothing corpus-sized crosses the driver and nothing re-joins the
   * corpus.
   */
  def curateSemantic(embeddings: DataFrame, centroids: Array[Array[Float]],
      evalSet: DataFrame, minCos: Double, dedupCos: Double,
      decontCos: Double, perCell: Int, trainPct: Int = 80, valPct: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id",
      salt: String = Corpus.SampleSalt,
      maxCell: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(centroids.nonEmpty, "curateSemantic: no centroids")
    require(perCell > 0, s"curateSemantic: perCell must be positive: $perCell")
    val floored = Similarity.assignKeepVec(embeddings, centroids, vecCol, idCol)
      .filter(col("cos") >= minCos)
      .select(col(idCol), col(vecCol))
    val deduped = Similarity.semanticDedupClusteredKeepVec(
      floored, centroids, dedupCos, vecCol, idCol, maxCell, checkpointDir)
    val decontaminated = Similarity.decontaminateSemantic(
      deduped, evalSet, decontCos, vecCol)
    diverseElect(decontaminated.select(col(idCol), col("cell")),
        perCell, idCol, salt)
      .select(col(idCol), col("cell"),
        Corpus.splitExpr(col("cell"), trainPct, valPct).as("split"))
  }

  def rocAuc(scored: DataFrame, scoreCol: String = "score",
      labelCol: String = "is_target"): DataFrame = {
    // unlabeled rows (null label) are EXCLUDED — an evaluation pairs
    // labeled positives against labeled negatives; counting nulls as
    // negatives would silently poison both the AUC and n_neg.
    // Scores re-quantize to 6dp HERE so the histogram bound is
    // structural, not a caller precondition: already-quantized scores
    // (this family's emissions) pass through unchanged, raw sigmoids /
    // cosines get at most near-tie merging instead of a corpus-sized
    // histogram collapsing the unpartitioned window into one task.
    val h = scored.filter(col(labelCol).isNotNull)
      .groupBy(Quantize.quantize(col(scoreCol), 6).as("__s"))
      .agg(sum(col(labelCol)).cast("double").as("__p"),
        (count(lit(1)) - sum(col(labelCol))).cast("double").as("__n"))
    val below = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("__nb", coalesce(sum(col("__n")).over(below), lit(0.0)))
      .agg(
        when(sum(col("__p")) > 0 && sum(col("__n")) > 0,
          Quantize.quantize(
            sum(col("__p") * (col("__nb") + col("__n") / lit(2.0))) /
              (sum(col("__p")) * sum(col("__n"))), 6))
          .as("auc"),
        sum(col("__p")).cast("long").as("n_pos"),
        sum(col("__n")).cast("long").as("n_neg"))
  }
}
