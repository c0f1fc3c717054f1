package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Writes
import graft.functions.{Quantize, TextFunctions}
import graft.plans.TextExpressions

/**
 * Corpus-management operators a training-data pipeline needs between
 * cleaning and training: deterministic splits and samples, tf-idf term
 * scoring, and sequence packing (token-budget bin assignment).
 *
 * Everything here is pure `functions._` (whole-stage codegen, no UDFs) and
 * deterministic ACROSS engines and partitionings — splits use an md5-prefix
 * hash, not `rand(seed)` (whose draw order follows partitioning, so the
 * "same" seed yields different samples on a different cluster layout).
 * Every operator is SQL-expressible and hash-verified against the DuckDB
 * oracle (`split_assign`, `sample_hash`, `text_tfidf`, `pack_sequences`).
 */
object Corpus {

  /**
   * Deterministic hash bucket in `[0, buckets)`: the first 8 hex chars of
   * `md5(id)` read as an integer, mod `buckets`. Properties a 100 TB
   * pipeline needs from a split function:
   *  - engine-independent (any system that can md5 reproduces the
   *    assignment — the DuckDB oracle computes the identical value);
   *  - stable under repartitioning, re-runs, and corpus growth (a doc's
   *    split never changes when other docs are added — unlike
   *    `ntile`/`rand` based splits);
   *  - uniform enough for split purposes (md5 avalanche on the id).
   * 32 hash bits, not 64: `0xffffffff` fits a long with headroom and the
   * oracle-side `('0x'||hex)::BIGINT` cast stays exact.
   *
   * `salt` selects an INDEPENDENT hash stream: operators that FILTER rows
   * by hash (sampling, rebalancing) must not share the stream that
   * ASSIGNS rows (splits, pack groups) — a sample taken at rate r on the
   * split stream keeps only buckets < r, so a later `splitAssign` would
   * see a censored bucket range and emit distorted (or empty) val/test
   * splits. [[sampleByHash]]/[[sampleStratified]] use [[SampleSalt]];
   * assignment operators use the unsalted stream.
   */
  def hashBucket(id: Column, buckets: Int = 100, salt: String = ""): Column =
    hashValue(id, salt) % buckets

  /** The full 32-bit hash value behind [[hashBucket]] (no modulo) — the
    * deterministic RANK key for exact-k selections ([[capPerStratum]]),
    * where 100 buckets is far too coarse a total order. Public for the
    * selection family ([[Selection.sampleWeighted]] maps it to a uniform
    * in (0,1) for the A-Res key stream). */
  def hashValue(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt)).cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** The sampling family's hash-stream salt (see [[hashBucket]]). */
  val SampleSalt = "#smpl"

  /** The sharding stream's salt: shards must be INDEPENDENT of split
    * buckets — on the shared stream, `shard = h % nShards` and
    * `bucket = h % 100` correlate (at nShards = 100 they coincide, so
    * shard 5 would hold only bucket-5 docs: all train), and a reader
    * sampling "a few shards" would silently sample a censored split mix. */
  val ShardSalt = "#shard"

  /** The per-stratum cap's rank salt: the cap keeps the LOW-HASH head of
    * each stratum, so ranking on the sampling stream would hand a
    * downstream hash-threshold filter (mixing, sampling) a censored
    * range — a tightly-capped stratum's survivors all sit below any
    * realistic threshold and ship at ~100% regardless of rate. A
    * dedicated stream keeps the cap composable with both the sampling
    * family and split assignment. */
  val CapSalt = "#cap"

  /**
   * Train/val/test assignment by hash bucket: bucket < trainPct → train,
   * < trainPct+valPct → val, else test. Adds `bucket` and `split` columns;
   * one projection, no shuffle — the split of a 100 TB corpus is a map-only
   * pass (and usually fused into whatever scan follows it).
   */
  def splitAssign(docs: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"split percentages must be within [0,100]: train=$trainPct val=$valPct")
    docs.withColumn("bucket", hashBucket(col(idCol)))
      .withColumn("split", splitFromBucket(col("bucket"), trainPct, valPct))
  }

  /** The split label of an id as a PURE column expression — what
    * [[splitAssign]] adds as a column, usable anywhere a join back to the
    * assigned corpus would otherwise be needed (e.g. labeling both sides
    * of a pair in [[splitLeakage]]). */
  def splitExpr(id: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    splitFromBucket(hashBucket(id), trainPct, valPct)

  private def splitFromBucket(bucket: Column, trainPct: Int, valPct: Int): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  /**
   * Deterministic `pct`% sample — the same rows every run, on any cluster,
   * in any engine (contrast `DataFrame.sample`, which is partition-order
   * dependent). A plain filter: pushes down, fuses, never shuffles.
   * Runs on the SALTED hash stream so sampling composes with
   * [[splitAssign]]: a 20% sample still carries train/val/test at their
   * declared rates (on the split stream it would keep only buckets 0–19 —
   * all train).
   */
  def sampleByHash(docs: DataFrame, pct: Int, idCol: String = "doc_id"): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100]: $pct")
    docs.filter(hashBucket(col(idCol), 100, SampleSalt) < pct)
  }

  /**
   * Stratified deterministic sampling: a per-stratum percentage (e.g.
   * downsample the dominant language, keep the tail whole) — the corpus
   * REBALANCING primitive. Same hash contract as [[sampleByHash]]
   * (engine/partitioning/growth stable, SALTED stream — so rebalancing
   * before [[splitAssign]] cannot censor the split buckets), and because
   * the hash ignores the stratum, a doc sampled at 10% stays sampled when
   * its stratum's rate rises — rate changes only ADD or REMOVE the delta,
   * never reshuffle the kept set. Still a pure filter: map-only,
   * pushdown-friendly.
   */
  def sampleStratified(docs: DataFrame, strataCol: String,
      rates: Map[String, Int], defaultPct: Int = 0,
      idCol: String = "doc_id"): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      s"rates must be in [0,100]: $rates default=$defaultPct")
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(strataCol) === lit(k), lit(p)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), 100, SampleSalt) < pct)
  }

  /**
   * Per-stratum document cap ("domain balancing"): keep at most `maxDocs`
   * docs per stratum — the head of the stratum's salted-hash order, ties
   * broken by id. Web-scale curation caps pages per domain so no single
   * host dominates the corpus; unlike a rate sample ([[sampleStratified]])
   * the cap is EXACT (min(n, maxDocs) per stratum, no rate to mis-guess
   * when stratum sizes are unknown), and still deterministic: engine- and
   * partitioning-independent, and growth in one stratum never touches
   * another stratum's kept set (within a stratum, a new doc hashing below
   * the k-th displaces only the tail — inherent to any exact-k rule).
   *
   * Scale shape: `row_number <= k` compiles to a rank-LIMIT, not a full
   * sort — Spark inserts WindowGroupLimit on BOTH sides of the exchange
   * (plan-asserted in CorpusSpec), so every map task forwards at most
   * `maxDocs` rows per stratum and the mega-domain the cap exists for
   * reaches its reducer pre-pruned (≤ maxDocs·mapTasks rows), never raw.
   * Ranks on the DEDICATED [[CapSalt]] stream: the survivors are the
   * low-hash head of their stratum, so ranking on the sampling stream
   * would censor exactly the range downstream hash thresholds filter on.
   */
  def capPerStratum(docs: DataFrame, strataCol: String, maxDocs: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(maxDocs > 0, s"maxDocs must be positive: $maxDocs")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashValue(col(idCol), CapSalt).asc, col(idCol).asc)
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxDocs)
      .drop("__rk")
  }

  /**
   * Benchmark-contamination pairs: corpus docs sharing at least
   * `minOverlap` distinct word n-grams with an evaluation-set document.
   * Returns (idCol, eval_id, n_shared).
   *
   * Decontamination differs from dedup in shape: the join is CROSS-dataset
   * and wildly asymmetric — a 100 TB corpus against benchmark suites of
   * thousands of docs — so the eval shingle set is BROADCAST and the
   * corpus side streams MAP-ONLY through the hash join: corpus shingles
   * are deliberately NOT pre-distinct'd (that would shuffle the whole
   * corpus before the join);
   * instead the post-join aggregate counts DISTINCT shared shingles, so
   * within-doc repetition dedups in the only shuffle of the plan — the
   * (doc, eval, shingle) triples, bounded by matches, not corpus size.
   * Shingles are xxhash64'd to 8-byte longs on both sides, like the
   * Jaccard path. A deliberately common n-gram in an eval doc flags MANY
   * corpus docs — for contamination that is signal, not skew to cap
   * (minOverlap is the precision knob).
   */
  def contaminationPairs(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
      minOverlap: Long = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Both sides shingle through the native expression with IN-ROW set
    // dedup (row-local work — still zero corpus-side shuffle, and the
    // probe stream shrinks to distinct (doc, shingle) pairs). With both
    // sides unique, every joined (doc, eval, shingle) triple is unique,
    // so the overlap count is a plain count — no distinct aggregate.
    def hashedShingles(d: DataFrame) = d.select(col(idCol),
      explode(TextExpressions.shingleHashes(col(textCol), n)).as("shingle"))
    val ev = hashedShingles(evalDocs).withColumnRenamed(idCol, "eval_id")
    hashedShingles(docs)
      .join(broadcast(ev), "shingle")
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** The corpus with every contaminated doc removed — one anti-join on the
    * distinct flagged ids (tiny vs corpus; AQE broadcasts it). */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
      minOverlap: Long = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      contaminationPairs(docs, evalDocs, n, minOverlap, textCol, idCol)
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /**
   * Winnowing-based decontamination — the CHEAP form of [[decontaminate]]
   * for long verbatim contamination: both sides reduce to their MOSS
   * winnowing fingerprints ([[Dedup.winnowFingerprints]] — the selected
   * ~2/(g+1) fraction of k-gram hashes), the eval side's distinct
   * fingerprint set broadcasts, and the corpus streams MAP-ONLY through
   * the probe. The winnowing guarantee carries over: any eval passage of
   * ≥ `g + k − 1` verbatim tokens inside a corpus doc shares at least ONE
   * selected fingerprint — so the cannot-hide guarantee holds only at
   * `minShared = 1`; the default `minShared = 2` trades that worst-case
   * guarantee for precision (a minimal g+k−1-token passage may surface
   * just one shared fingerprint and survive; real contamination is
   * paragraphs long and sheds many) — while the corpus-side work is a
   * fraction of the full shingle join
   * [[contaminationPairs]] pays. The trade: no per-eval-doc attribution
   * (counts are against the eval UNION, like the Bloom form) and
   * sub-window overlaps can't match; use the exact operator when the
   * criterion is "≥ k short n-grams anywhere".
   *
   * Selected fingerprints are the same engine-stable md5-prefix hashes
   * as `fingerprint_winnow`, so the whole operator is hash-verifiable —
   * the oracle reruns the selection AND the removal.
   */
  def decontaminateWinnow(docs: DataFrame, evalDocs: DataFrame, k: Int = 5,
      g: Int = 4, minShared: Long = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cfp = Dedup.winnowFingerprints(docs.select(col(idCol), col(textCol)),
        k, g, textCol, idCol)
      .select(col(idCol), col("fp")).distinct()
    val efp = Dedup.winnowFingerprints(evalDocs, k, g, textCol, idCol)
      .select(col("fp")).distinct()
    val contaminated = cfp.join(broadcast(efp), Seq("fp"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col(idCol))
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Per-eval-doc attribution for winnow decontamination: WHICH eval
   * document contaminates which corpus document, and by how many shared
   * selected fingerprints — `(doc_id, eval_id, n_shared)` for every pair
   * at or above `minShared`. [[decontaminateWinnow]] answers "remove
   * it"; this answers the audit question behind the removal (which
   * benchmark leaked, how badly, which documents to inspect) — the
   * attribution the union-counting form deliberately traded away.
   *
   * Same scale posture as the removal: both sides reduce to winnowing
   * fingerprints (~2/(g+1) of the k-grams), per-doc sets deduped in-row,
   * the (typically benchmark-sized) eval side BROADCASTS, and the only
   * exchange is the (doc, eval) aggregation — the join itself streams
   * the corpus map-only. Same engine-stable md5-prefix hashes as
   * `fingerprint_winnow`, so fully hash-verifiable.
   */
  def decontaminateWinnowAttribution(docs: DataFrame, evalDocs: DataFrame,
      k: Int = 5, g: Int = 4, minShared: Long = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cfp = Dedup.winnowFingerprints(docs.select(col(idCol), col(textCol)),
        k, g, textCol, idCol)
      .select(col(idCol), col("fp")).distinct()
    val efp = Dedup.winnowFingerprints(evalDocs, k, g, textCol, idCol)
      .select(col(idCol).as("eval_id"), col("fp")).distinct()
    cfp.join(broadcast(efp), Seq("fp"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Cross-split leakage audit: near-duplicate pairs (word-n-gram Jaccard
   * ≥ `minJaccard`) whose two documents landed in DIFFERENT
   * train/val/test splits — the contamination a hash split cannot
   * prevent (near-duplicates hash independently, so a doc and its
   * mutation land in train and test at the background cross-split rate)
   * and the reason production pipelines dedup BEFORE splitting. Returns
   * `(id_a, id_b, jaccard, split_a, split_b)`; an empty result is the
   * audit passing.
   *
   * Shape: [[Dedup.ngramJaccardPairs]] generates the pairs (inverted-
   * index equi-join with the optional hot-shingle `maxDf` valve); split
   * labels are computed ONCE PER DOCUMENT (a doc_id-only projection of
   * the corpus, N md5s) and attached to the aggregated pairs — the naive
   * `withColumn(splitExpr(id_a)) … filter` form lets Catalyst push the
   * `split_a ≠ split_b` predicate into the shingle-match join, where the
   * two md5 CASE chains re-evaluate on EVERY candidate (doc, doc,
   * shingle) row (measured 2.4× the bare pair generation at sf0.1). The
   * post-aggregation pair side is the small side, so AQE broadcasts it
   * and the label projections stream map-only.
   */
  def splitLeakage(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.5,
      trainPct: Int = 80, valPct: Int = 10, textCol: String = "text",
      idCol: String = "doc_id", maxDf: Option[Long] = None): DataFrame = {
    val labels = docs.select(col(idCol),
      splitExpr(col(idCol), trainPct, valPct).as("__split"))
    Dedup.ngramJaccardPairs(docs, n, minJaccard, textCol, idCol, maxDf)
      .join(labels.withColumnsRenamed(
        Map(idCol -> "id_a", "__split" -> "split_a")), Seq("id_a"))
      .join(labels.withColumnsRenamed(
        Map(idCol -> "id_b", "__split" -> "split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /**
   * Data mixing — the mixture-weights stage between cleaning and
   * training: given per-stratum WEIGHTS (fractions of the training
   * budget each source should contribute) and a total `budget` in
   * `unitCol` units (tokens, chars), compute each stratum's
   * deterministic sampling rate `min(1, weight·budget / stratum_total)`
   * and keep that fraction of its documents. Strata without a weight
   * drop entirely (an explicit mixture lists what it trains on).
   *
   * Shape: ONE map-side-combined aggregation for the per-stratum totals
   * (output = #strata, collected driver-side like every other
   * driver-known-small model), then a map-only hash filter at 10⁻⁶
   * granularity on the SAMPLING stream — so mixing composes with
   * [[splitAssign]] without censoring split buckets, and a rate change
   * only adds/removes the delta (same hash-stability argument as
   * [[sampleStratified]]). Rates are computed in IEEE double with the
   * same expression both engines evaluate, so the result is
   * hash-verifiable (`mix_weights`). Expected (not exact) per-stratum
   * mass: each doc is kept whole — the right granularity for
   * training-data mixes, where budgets are targets, not invariants.
   * `budget` spans the INPUT corpus: applied before a split filter, each
   * split receives its own fraction of the kept mass (scale the budget
   * by 1/trainPct when it means train-split units). A weighted stratum
   * with zero/null total units is kept whole — it has no mass to budget
   * (and the SQL twin's NULL-skipping `least` agrees).
   */
  def mixByBudget(docs: DataFrame, weights: Map[String, Double], budget: Double,
      strataCol: String = "source", unitCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    val totals = strataTotals(docs, weights, strataCol, unitCol)
    val thresholds = weights.flatMap { case (s, w) =>
      // zero/null-unit strata have no mass to budget: kept WHOLE (rate 1),
      // matching the oracle's NULL-skipping least() on divide-by-zero
      totals.get(s).map(t => s -> (if (t <= 0) 1000000L
        else math.floor(math.min(1.0, w * budget / t) * 1000000).toLong))
    }
    val thr = thresholds.foldLeft(lit(-1L)) { case (acc, (s, th)) =>
      when(col(strataCol) === lit(s), lit(th)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), 1000000, SampleSalt) < thr)
  }

  /**
   * Temperature-scaled mixture weights — the multilingual-sampling scheme
   * (mC4 / XLM-R style): instead of hand-written weights, each stratum's
   * training weight is its corpus share raised to `alpha` and
   * renormalized, w_s = units_s^α / Σ_t units_t^α. α = 1 reproduces the
   * natural distribution, α → 0 approaches uniform — the knob that keeps
   * low-resource sources from vanishing under a proportional mix. Emits
   * one row per stratum: (source, n_docs, p_raw, weight), ratios
   * quantized to 6dp. Feed `weight` straight into [[mixByBudget]] /
   * [[mixWithRepeats]].
   *
   * Shape: ONE map-side-combined aggregation to #strata rows; the
   * normalizing totals are an unpartitioned window over THAT frame — all
   * rows on one task, which is exactly right because the frame is
   * #strata-sized (a bounded catalog, not data-sized), and structurally
   * guarantees a single corpus scan (a total-via-self-join would lean on
   * exchange reuse to avoid a second one). `pow` is the one
   * non-IEEE-pinned step (Java `Math.pow` vs the oracle engine's
   * `std::pow` may differ in the last ulp); the 6dp quantization bounds a
   * flip to values within ~1 ulp of a 5·10⁻⁷ boundary — the same
   * irreducible floor the `ln` in [[Selection.sampleWeighted]] carries.
   */
  def temperatureWeights(docs: DataFrame, alpha: Double,
      strataCol: String = "source", unitCol: String = "n_chars"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"temperature alpha must be in (0, 1]: $alpha")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    docs
      .groupBy(col(strataCol).cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(unitCol)).cast("double").as("__u"))
      .select(col("source"), col("n_docs"),
        graft.functions.Quantize.q6(col("__u") / sum(col("__u")).over(all)).as("p_raw"),
        graft.functions.Quantize.q6(
          pow(col("__u"), alpha) / sum(pow(col("__u"), alpha)).over(all)).as("weight"))
  }

  /** Per-stratum unit totals for the mixing family: one map-side-combined
    * aggregation (output = #strata), collected as a driver-known-small
    * model. Fails loudly on an all-misses mixture (typo'd source names,
    * wrong strata column), which would otherwise silently drop the whole
    * corpus. */
  private def strataTotals(docs: DataFrame, weights: Map[String, Double],
      strataCol: String, unitCol: String): Map[String, Long] = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0),
      s"weights must be non-negative: $weights")
    // strata compared AS STRINGS (weight keys are strings): an int strata
    // column would otherwise miss every isin() key silently and then
    // ClassCastException on getString — cast once here so non-string
    // strata work, and the all-misses require stays the only failure mode
    val s = col(strataCol).cast("string")
    val totals = docs.filter(s.isin(weights.keys.toSeq: _*))
      .groupBy(s.as("__s")).agg(sum(col(unitCol)).as("__t"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    require(totals.nonEmpty,
      s"no stratum in '$strataCol' matches any weight key ${weights.keys}")
    totals
  }

  /**
   * Data mixing WITH upsampling: like [[mixByBudget]], but a rate above 1
   * REPEATS documents (training epochs) instead of clipping at keep-all —
   * the mixture shape where a scarce high-quality source contributes more
   * than one pass over its data. rate = weight·budget/total; each doc
   * ships `floor(rate)` whole copies plus one more iff its salted hash
   * clears the fractional remainder, so expected per-stratum mass is
   * exactly weight·budget. Emits `copy_idx` (0-based epoch index) —
   * downstream packing/shuffling treats copies as distinct rows. Unlisted
   * strata drop; zero/null-unit strata ship one copy (no mass to budget,
   * as in [[mixByBudget]]); `maxRepeat` is a loud guard against a tiny
   * stratum exploding into thousands of epochs.
   *
   * Shape: still MAP-ONLY. The per-doc copy count is a when-chain literal
   * plus one hash compare, and the repeats come from
   * `explode(sequence(0, n-1))`, which expands rows in place — no
   * shuffle, no join, no window; a 100 TB mixture is one streamed pass.
   */
  def mixWithRepeats(docs: DataFrame, weights: Map[String, Double],
      budget: Double, strataCol: String = "source", unitCol: String = "n_chars",
      idCol: String = "doc_id", maxRepeat: Int = 100): DataFrame = {
    val totals = strataTotals(docs, weights, strataCol, unitCol)
    val rates = weights.flatMap { case (s, w) =>
      totals.get(s).map(t => s -> (if (t <= 0) 1.0 else w * budget / t))
    }
    rates.foreach { case (s, r) => require(r <= maxRepeat,
      s"stratum '$s' rate $r exceeds maxRepeat=$maxRepeat epochs") }
    // identical IEEE arithmetic to the oracle: whole = floor(r), then the
    // remainder thresholded at 1e-6 granularity on the sampling stream
    val whole = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(col(strataCol) === lit(s), lit(math.floor(r).toLong)).otherwise(acc)
    }
    val fracThr = rates.foldLeft(lit(-1L)) { case (acc, (s, r)) =>
      when(col(strataCol) === lit(s),
        lit(math.floor((r - math.floor(r)) * 1000000).toLong)).otherwise(acc)
    }
    val extra = when(hashBucket(col(idCol), 1000000, SampleSalt) < fracThr, 1L)
      .otherwise(0L)
    docs.withColumn("__n", whole + extra)
      .filter(col("__n") > 0) // BEFORE explode: sequence(0,-1) would count down
      .withColumn("copy_idx", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /**
   * Deterministic shard assignment — the training-data WRITER's layout
   * primitive: `shard` in [0, nShards) on the dedicated [[ShardSalt]]
   * stream (independent of split buckets and sample gates, see the salt
   * note), plus `sort_key` = the full md5 hex of the same salted id — a
   * deterministic TOTAL order within each shard with no window, no global
   * row numbering, no sequential anything. Two docs never tie (md5 of
   * distinct ids) and the order is engine-/partitioning-/growth-stable,
   * so a re-run of the writer reproduces each shard's membership and row
   * order exactly (the parquet FILES still differ in footer metadata /
   * task-attempt ids — the spec asserts membership, not bytes). Also the
   * "shuffle the corpus for training" primitive: ordering by an avalanche
   * hash IS the deterministic global shuffle, done as a map-only
   * projection + per-shard sort instead of an orderBy over the corpus.
   * Map-only; balanced by md5 uniformity (spec asserts the spread).
   * Hash-verified as `shard_assign`.
   */
  def shardAssign(docs: DataFrame, nShards: Int = 1024,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    docs.withColumn("shard", hashBucket(col(idCol), nShards, ShardSalt))
      .withColumn("sort_key",
        md5(concat(col(idCol).cast("string"), lit(ShardSalt)).cast("binary")))
  }

  /**
   * The writer itself: one directory per shard (`shard=<n>/`), rows
   * hash-shuffle-ordered within each shard. `repartition(nShards, shard)`
   * gives each output task one shard's rows (plus hash-collision
   * neighbors — harmless, `partitionBy` still splits the directories);
   * `sortWithinPartitions(shard, sort_key)` keeps collided shards
   * contiguous and each shard internally ordered without any global sort.
   */
  def writeShards(docs: DataFrame, path: String, nShards: Int = 1024,
      idCol: String = "doc_id", mode: String = "overwrite"): Unit =
    // mode="append" is the incremental-job form: each increment adds its
    // rows to the same shard=<n>/ directories (per-increment files, each
    // internally sort_key-ordered — the shard's global hash order holds
    // per file, not across files; readers that need one sorted stream
    // per shard re-sort in-shard, readers that need the SET don't care)
    Writes(shardAssign(docs, nShards, idCol)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key")))
      .mode(mode).partitionBy("shard").parquet(path)

  /**
   * Bloom-filter decontamination — the shape for a LARGE reference set.
   * [[decontaminate]] broadcasts the eval shingle set exactly, which is
   * right for benchmark suites (thousands of docs) but breaks down when
   * the reference is itself corpus-sized (held-out split, a licensed
   * corpus to exclude, a previous training run): billions of distinct
   * 8-byte shingle keys would blow the broadcast and force a corpus-wide
   * shuffle join. Here the reference compresses into a Bloom filter
   * (`fpp` sizes it: ~1.2 GB per 10⁹ items at 1%) built DISTRIBUTED by
   * `stat.bloomFilter` (per-partition filters OR-merged treewise; only
   * the finished sketch reaches the driver — the IVF-centroid precedent),
   * then probed by Spark's codegen'd `BloomFilterMightContain` as a
   * binary literal: the corpus side stays MAP-ONLY (scan → shingle
   * explode → bloom probe filter) with one shuffle on the surviving
   * (doc, shingle) matches — bounded by contamination, not corpus size.
   *
   * SEMANTICS vs [[decontaminate]]: the bloom cannot attribute a match to
   * one reference doc, so the criterion is ≥ `minOverlap` distinct
   * shingles in the reference UNION (exact counts per (doc, eval_id)
   * pair). One-sided error only: a doc flagged by the exact criterion is
   * ALWAYS flagged here (its ≥ minOverlap truly-shared shingles are in
   * the union; blooms have no false negatives), so the result is a
   * SUBSET of the exact survivors — decontamination errs toward dropping
   * (union counting + false positives at rate `fpp`), never toward
   * leaking a contaminated doc. Rows-only by design (sketch internals
   * are engine-specific); the containment property is spec-asserted.
   */
  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
      minOverlap: Long = 5, fpp: Double = 0.001, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    def hashedShingles(d: DataFrame) =
      Dedup.shingleTable(d, n, textCol, idCol, dedup = false)
        .select(xxhash64(col("shingle")).as("shingle"))
    // pin the deduped eval-side shingle hashes (r20): the exact count
    // that sizes the filter and the treewise bloom build are two actions
    // over the same relation — left as lineage each re-runs the eval
    // shingling + distinct exchange (the buildLmRefModel "pin the
    // reference" finding applied here)
    val evalSh = Materialize(hashedShingles(evalDocs).distinct(), None)
    val bloom = try {
      val expected = math.max(evalSh.count(), 1L)
      evalSh.stat.bloomFilter("shingle", expected, fpp)
    } finally Materialize.release(evalSh) // no pin leak on a failed build
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probe = Bridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray), Bridge.expression(col("shingle"))))
    val flagged = Dedup.shingleTable(docs, n, textCol, idCol, dedup = false)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .filter(probe)
      .groupBy(col(idCol)).agg(countDistinct(col("shingle")).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
      .select(col(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /**
   * Snapshot diff for corpus releases: classify every document as
   * `added` / `removed` / `changed` / `unchanged` between two corpus
   * versions by canonical text fingerprint
   * ([[TextFunctions.fingerprint]] — identity robust to formatting
   * noise, so a re-crawl that only reflows whitespace reads as
   * unchanged). The release-notes primitive: what actually moved
   * between v(n-1) and v(n), and the denominator for per-source churn.
   *
   * Shape: each side reduces to (id, 16-byte fingerprint) in its scan
   * projection, then ONE full-outer equi-join on the id — no text
   * leaves the scan, so diffing two 100 TB snapshots moves two
   * id+hash columns through one shuffle. Returns (idCol, status).
   */
  def corpusDiff(prev: DataFrame, cur: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // presence is a dedicated flag, NOT fingerprint nullness: a null-text
    // doc has a null fingerprint but is still PRESENT in its snapshot
    // (fingerprint-as-flag misread it as absent → 'added'/'removed'
    // misclassification); the fingerprint compare is null-safe so two
    // null-text versions of a doc read 'unchanged', not 'changed'
    def fp(df: DataFrame, out: String, flag: String) = df.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as(out), lit(true).as(flag))
    fp(prev, "__fa", "__pa").join(fp(cur, "__fb", "__pb"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__pa").isNull, "added")
          .when(col("__pb").isNull, "removed")
          .when(col("__fa") <=> col("__fb"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-(doc, term) counts — the reusable base relation of every
    * term-statistics operator (tf-idf, df tables, vocabulary). MAP-ONLY:
    * a document's term frequencies are row-local facts, so the counting
    * happens inside [[graft.plans.ShingleHash.tokenCounts]] and this is one scan
    * + explode — the corpus-wide (doc, term) exchange the
    * explode-then-groupBy form pays is gone (it was the dominant cost of
    * tf-idf at sf0.1, and at 100 TB it shuffles the full token multiset). */
  def termFrequencies(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(TextExpressions.tokenCounts(col(textCol))).as("__tc"))
      .select(col(idCol), col("__tc.term").as("term"), col("__tc.tf").as("tf"))

  /**
   * Per-document top-`k` terms by tf-idf (idf = ln(N/df), raw-count tf).
   *
   * Scale shape: tf groupBy (shuffle on (doc, term)) → df groupBy
   * (map-side-combined shuffle on term, output = vocabulary size, tiny vs
   * corpus, BROADCAST back) → join on term → per-DOC window top-k. Every
   * stage is key-partitioned; the only window is partitioned by doc_id, so
   * no task ever sees more than one document's terms (and Spark's
   * WindowGroupLimit keeps per-partition heaps of k before the sort). N
   * arrives via a broadcast 1-row aggregate, not a driver-side collect —
   * the whole thing stays one lazy plan.
   *
   * COST NOTE: the tf relation feeds TWO consumers (the df aggregate and
   * the scoring join), so left as lineage the explode + (doc,term)
   * aggregation would run twice — this one-shot form MATERIALIZES tf
   * once (local checkpoint; [[tfidfTopFromTf]] is the zero-copy entry
   * for pipelines that persisted tf themselves) and both consumers read
   * the cached (id, term, tf) blocks. The alternative single-pass shape —
   * df as a window over term — would shuffle every (doc,term) row to
   * hot-term partitions, a skew magnet; the materialized two-consumer
   * form keeps df map-side-combined. `n_docs` stays a count over `docs`
   * (documents with zero tokens count toward N but have no tf rows) —
   * a metadata-only parquet row-count scan.
   */
  def tfidfTop(docs: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    // ZERO corpus-wide exchanges. tf is row-local ([[graft.plans
    // .ShingleHash.tokenCounts]]); df aggregates the per-doc distinct terms
    // map-side (its exchange carries ≤ vocabulary rows per partition)
    // and folds into ONE broadcast row holding the term→df map next to
    // n_docs; scoring and the per-doc top-k then happen INSIDE each row
    // (sort the doc's own scored terms, slice k, posexplode) — both the
    // (doc,term) tf exchange and the window's doc_id exchange of the old
    // shape are gone. The map row is exactly the broadcast df relation
    // reshaped, so the same ceiling applies: for open-vocabulary corpora
    // too big to broadcast, use [[tfidfTopFromTf]] with
    // `broadcastDf = false` (shuffle-keyed df join + window top-k).
    // The per-doc term arrays feed two consumers (df + probe), so they
    // materialize ONCE — unconditionally, as the API scaladoc promises
    // (the counted arrays are a fraction of the text they derive from;
    // re-running the ShingleHash.tokenCounts scan per consumer doubled the
    // dominant cost). Default localCheckpoint; pass `checkpointDir` for
    // the executor-loss-safe reliable variant on long cluster runs.
    val tc = Materialize(docs.select(col(idCol),
      TextExpressions.tokenCounts(col(textCol)).as("__tc")), checkpointDir)
    // sort_array: the kernel binary-searches the map's key array —
    // [[graft.plans.ShingleHash.tfidfTopK]] contract
    val dfMap = tc.select(explode(col("__tc.term")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("term"), col("df"))))).as("__dfm"))
    val stats = broadcast(dfMap.crossJoin(docs.agg(count(lit(1)).as("n_docs"))))
    tc.crossJoin(stats)
      .select(col(idCol), explode(TextExpressions.tfidfTopTerms(
        col("__tc"), col("__dfm"), col("n_docs"), k)).as("__t"))
      .select(col(idCol), col("__t.term").as("term"), col("__t.tf").as("tf"),
        col("__t.tfidf").as("tfidf"), col("__t.rnk").as("rnk"))
  }

  /** tf-idf top-k from a precomputed (persisted) [[termFrequencies]]
    * relation plus a 1-row `n_docs` aggregate — the corpus-scale entry:
    * no document text is touched at all. */
  def tfidfTopFromTf(tf: DataFrame, nDocs: DataFrame, k: Int,
      idCol: String = "doc_id", broadcastDf: Boolean = true): DataFrame = {
    // df BROADCASTS by default: it aggregates map-side from the (cached)
    // tf blocks and its output is VOCABULARY-sized — joining it as a
    // shuffle re-keys the whole corpus-sized tf relation by term for a
    // dimension a fraction of its size (measured: the df-join exchange was
    // the residual cost after tf materialization). At open-vocabulary
    // scale where the term dimension outgrows the broadcast ceiling, pass
    // `broadcastDf = false` and AQE keys both sides by term.
    val dfreq0 = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastDf) broadcast(dfreq0) else dfreq0
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", Quantize.quantize(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"), col("rnk"))
  }

  /**
   * The end-to-end cleaning pipeline a training corpus actually runs,
   * composed from the individually-verified operators: quality gate
   * (token count, digit ratio) → language gate ([[TextFunctions.langId]])
   * → exact-dup collapse (min id per md5 survives) → near-dup survivor
   * pass (n-gram Jaccard clusters, [[Dedup.dedupByClusters]]) → split
   * assignment. Returns (id, bucket, split) for the surviving docs.
   *
   * Scale notes: the gates are map-only predicates fused into the scan;
   * exact dedup is one hash-groupBy + semi-join; the near-dup pass is the
   * inverted-index shape, and corpus-scale runs should PASS `maxDf` (the
   * hot-shingle valve — default None keeps the composition identical to
   * the uncapped oracle statement that hash-verifies it; the cap only
   * drops boilerplate shingles, see `Dedup.ngramJaccardPairs`).
   * Composition is hash-verified end-to-end by the `corpus_clean` oracle.
   *
   * The exact-surviving set is MATERIALIZED before the near-dup stage
   * (lineage-truncated like the CC rounds; `checkpointDir` upgrades to a
   * reliable checkpoint for multi-hour cluster runs): four downstream
   * consumers (shingle pairs, cluster anti-join, split) would otherwise
   * each re-run the regex-heavy gates over the full corpus — measured
   * 5.5× slower at sf0.1 when left as pure lineage.
   */
  /**
   * Optional production stages (each default-off keeps the base
   * composition byte-identical to the `corpus_clean` oracle):
   *  - `evalDocs`: decontamination — near-dup survivors sharing ≥
   *    `evalMinOverlap` word n-grams with any eval doc are dropped
   *    ([[decontaminate]]: eval shingles broadcast, corpus side map-only);
   *  - `redact`: PII scrub of the surviving text
   *    ([[TextFunctions.redactPii]] — a codegen'd regexp_replace chain in
   *    the output projection), and the redacted `textCol` joins the
   *    output so redaction is part of the hash-verified result;
   *  - `strata`: (column, rates, defaultPct) stratified rebalancing
   *    ([[sampleStratified]] — a map-only hash filter), e.g. downsample
   *    the dominant source. The strata column is carried through the
   *    pipeline only when requested.
   *  - `softDedup`: the near-dup stage reweights instead of removes —
   *    every cluster member survives with `weight = 1/|cluster|`
   *    ([[Dedup.softDedupWeights]]; exact dups are still removed hard),
   *    and the `weight` column rides the output into the shards for a
   *    loss-weighting loader. The `dedup_soft_weights` oracle verifies
   *    the weights; TrainingSetJobSpec pins that cluster unit mass
   *    survives the full pipeline.
   * All four stages on are hash-verified end-to-end by the
   * `corpus_clean_full` one-statement oracle.
   */
  def cleanCorpus(docs: DataFrame, lang: String = "en", minTokens: Long = 10,
      maxDigitRatio: Double = 0.3, n: Int = 3, minJaccard: Double = 0.5,
      maxDf: Option[Long] = None, textCol: String = "text",
      idCol: String = "doc_id", checkpointDir: Option[String] = None,
      evalDocs: Option[DataFrame] = None, evalMinOverlap: Long = 5,
      redact: Boolean = false,
      strata: Option[(String, Map[String, Int], Int)] = None,
      softDedup: Boolean = false): DataFrame = {
    val qc = TextFunctions.qualityColumns(col(textCol)).toMap
    val gated = docs.filter(qc("n_tokens") >= minTokens &&
      qc("digit_ratio") <= maxDigitRatio &&
      TextFunctions.langId(col(textCol)) === lang)
    val keepCols = (Seq(idCol, textCol) ++ strata.map(_._1)).distinct
    val exactKept = Materialize(gated.join(
      Dedup.exact(gated, textCol, idCol).select(col(idCol)), Seq(idCol), "left_semi")
      .select(keepCols.map(col): _*), checkpointDir)
    val pairs = Dedup.ngramJaccardPairs(exactKept, n = n,
      minJaccard = minJaccard, textCol = textCol, idCol = idCol,
      maxDf = maxDf, checkpointDir = checkpointDir)
    // softDedup REWEIGHTS the near-dup stage instead of removing: every
    // cluster member survives carrying weight = 1/|cluster| (unit mass
    // per cluster — Dedup.softDedupWeights), ready for a loss-weighting
    // loader or a downstream weighted draw. Exact duplicates are still
    // removed hard in both modes: byte-identical copies carry no
    // distributional signal worth preserving.
    val survivors =
      if (softDedup) exactKept.join(
        Dedup.softDedupWeights(exactKept, pairs, idCol, checkpointDir)
          .select(col(idCol), col("weight")), Seq(idCol))
      else Dedup.dedupByClusters(exactKept, pairs, idCol, checkpointDir)
    // decontaminate on the ORIGINAL text (contamination is about overlap
    // with the eval set as published), redact after, rebalance last —
    // the filters commute, so this order just keeps semantics obvious
    val decontaminated = evalDocs.fold(survivors)(ev =>
      decontaminate(survivors, ev, n, evalMinOverlap, textCol, idCol))
    val redacted = if (redact)
      decontaminated.withColumn(textCol, TextFunctions.redactPii(col(textCol)))
    else decontaminated
    val balanced = strata.fold(redacted) { case (sc, rates, dflt) =>
      sampleStratified(redacted, sc, rates, dflt, idCol)
    }
    val outCols = col(idCol) +: ((if (redact) Seq(col(textCol)) else Nil) ++
      (if (softDedup) Seq(col("weight")) else Nil) ++
      Seq(col("bucket"), col("split")))
    splitAssign(balanced, idCol).select(outCols: _*)
  }

  /**
   * Corpus-statistics quality score: a document's mean unigram
   * log-probability under the corpus's own token distribution,
   * `avg(ln(count(token)/total_tokens))` over the doc's token instances.
   * The poor man's LM perplexity filter — documents full of corpus-rare
   * tokens (mojibake, hashes, boilerplate IDs) score very negative;
   * stopword-heavy text scores high. Deterministic, model-free, and fully
   * SQL-expressible (oracled as `text_logprob`), unlike a real LM pass.
   *
   * Scale shape (`broadcastModel = true`, the default): explode → vocab
   * count (map-side combined; output = vocabulary size) folded into ONE
   * broadcast row (sorted hash→count map + instance total), then the
   * per-doc average is computed INSIDE each row
   * ([[graft.plans.ShingleHash.logProbAvg]]) — the corpus-wide term-keyed join
   * exchange and the groupBy(doc) exchange of the join form are both
   * gone; the documents relation is scanned twice (model, score), both
   * map-only. The map row is the vocab relation reshaped, so the same
   * ceiling applies as tf-idf's df map: at open-vocabulary scale where
   * the vocab can't broadcast, pass `broadcastModel = false` for the
   * shuffle-join form.
   *
   * `carry` lists extra doc columns to ride the output (id, carry...,
   * logprob): a downstream stage keyed on a doc attribute (the
   * per-source gate's stratum column) would otherwise JOIN the corpus
   * back to the scores — a corpus-sized exchange plus a second scan
   * that carrying deletes outright (broadcast form: the carried column
   * rides the map-only score projection; join form: it joins the
   * per-doc aggregation key, functionally dependent on the id).
   */
  def unigramLogProb(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", broadcastModel: Boolean = true,
      carry: Seq[String] = Nil): DataFrame = {
    // Token HASHES, not strings ([[graft.plans.ShingleHash.hashes]] alnum
    // mode — same tokenizer as [[TextFunctions.tokens]]): the output is
    // (doc, score) only, so grouping/joining by the 8-byte hash computes
    // identical counts (collision-modulo, the family's documented risk)
    // with every exchange carrying longs instead of token text.
    if (broadcastModel) {
      // token-less docs emit nothing — the explode form's semantics, as a
      // pre-filter (the kernel needs a non-empty array to average over)
      val th = docs.select(col(idCol) +: carry.map(col) :+
          TextExpressions.tokenGramHashes(col(textCol), 1).as("__th"): _*)
        .where(size(col("__th")) > 0)
      // sort_array: the kernel binary-searches the map's key array
      val model = th.select(explode(col("__th")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("t"), col("cnt"))))).as("__m"),
          sum(col("cnt")).as("total"))
      th.crossJoin(broadcast(model))
        .select(col(idCol) +: carry.map(col) :+
          TextExpressions.hashLogProbAvg(
            col("__th"), col("__m"), col("total")).as("logprob"): _*)
    } else {
      val terms = docs.select(col(idCol) +: carry.map(col) :+
        explode(TextExpressions.tokenGramHashes(col(textCol), 1)).as("term"): _*)
      val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = terms.agg(count(lit(1)).as("total"))
      terms.join(counts, "term").crossJoin(broadcast(total))
        .groupBy(col(idCol) +: carry.map(col): _*)
        .agg(Quantize.quantize(avg(log(col("cnt") / col("total"))), 6).as("logprob"))
    }
  }

  /**
   * Bigram LM quality score: a document's mean log conditional
   * probability `avg(ln(c(w1,w2) / c(w1,·)))` over its adjacent token
   * pairs, counts from the corpus itself — the ORDER-sensitive upgrade
   * of [[unigramLogProb]]: word salad built from individually-common
   * words scores high under unigrams but its transitions are corpus-rare,
   * so it scores very negative here. The context count `c(w1,·)` is the
   * count of bigram INSTANCES starting with w1 (not token occurrences),
   * so probabilities per context sum to exactly 1 with no end-of-document
   * correction. Docs with fewer than two tokens emit nothing.
   *
   * Scale shape mirrors the unigram: one map-only pair projection (two
   * bulk slices + zip_with, no per-pair allocation of slices) feeding two
   * map-side-combined counts (bigram vocab, context vocab) joined back on
   * their terms — AQE broadcasts the vocabularies when they fit — and one
   * per-doc average. Fully SQL-expressible; hash-verified as
   * `text_logprob2`.
   */
  def bigramLogProb(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", broadcastModel: Boolean = true): DataFrame = {
    // Hashed twin ([[unigramLogProb]] rationale): each instance carries
    // (w1 token hash, bigram window hash) — the window hash identifies
    // the ordered (w1,w2) pair, the w1 hash keys the context count. Both
    // come from the SAME alnum tokenizer, zipped positionally (token i ↔
    // window starting at i); docs under 2 tokens emit nothing (the
    // n-gram expression returns an empty array, zip_with of empties).
    val base = docs.select(col(idCol),
      TextExpressions.tokenGramHashes(col(textCol), 1).as("__th"),
      TextExpressions.tokenGramHashes(col(textCol), 2).as("__bg"))
    val pairs = base
      .select(col(idCol), explode(zip_with(
        slice(col("__th"), lit(1), greatest(size(col("__th")) - 1, lit(0))),
        col("__bg"),
        (w, b) => struct(w.as("w1"), b.as("bg")))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.bg").as("w2"))
    val cbg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // c(w1,·) DERIVES from the bigram aggregate — c1 = Σ_w2 c(w1,w2) by
    // definition — so it aggregates the vocab²-sized cbg, not the
    // corpus-sized pairs (whose exchange Spark reuses for cbg's own
    // aggregation).
    val cw = cbg.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    if (broadcastModel) {
      // Both models fold into one broadcast row (sorted hash→count maps,
      // [[graft.plans.ShingleHash.bigramLogProbAvg]] binary-searches them) and
      // the per-doc average happens inside each row — no corpus-wide
      // join or groupBy(doc) exchange at all. The bigram vocab is the
      // ceiling here (it grows faster than the unigram vocab); at
      // open-vocabulary scale pass `broadcastModel = false`.
      // map_from_entries throws on a duplicate bg key — two distinct
      // (w1,w2) pairs colliding to one window hash — which is the
      // family's documented 2⁻⁶⁴ collision risk surfacing loudly
      // instead of silently mis-counting.
      //
      // BOTH maps fold in ONE aggregation job: grouping cbg by w1 yields
      // c1 alongside the per-context (w2, c2) entry lists, and the final
      // single-row agg flattens one into the bigram map while collecting
      // the other into the context map. The previous two-frame form paid
      // two aggregate+collect round trips (and evaluated the cbg subtree
      // once per map); this is one job, one broadcast row.
      val models = cbg
        .groupBy(col("w1"))
        .agg(sum(col("c2")).as("c1"),
          collect_list(struct(col("w2"), col("c2"))).as("__entries"))
        .agg(
          map_from_entries(sort_array(
            flatten(collect_list(col("__entries"))))).as("__cbg"),
          map_from_entries(sort_array(
            collect_list(struct(col("w1"), col("c1"))))).as("__cw"))
      base.where(size(col("__bg")) > 0)
        .crossJoin(broadcast(models))
        .select(col(idCol), TextExpressions.hashBigramLogProbAvg(
          col("__th"), col("__bg"), col("__cbg"), col("__cw")).as("logprob2"))
    } else {
      // Attaching c1 to cbg BEFORE the pairs join means the widest
      // relation is joined ONCE on (w1,w2) instead of twice — the
      // second corpus-wide shuffle the naive two-join form pays.
      pairs.join(cbg.join(cw, Seq("w1")), Seq("w1", "w2"))
        .groupBy(col(idCol))
        .agg(Quantize.quantize(avg(log(col("c2") / col("c1"))), 6).as("logprob2"))
    }
  }

  /**
   * REFERENCE-corpus LM quality score — the CCNet-shaped perplexity
   * filter (Wenzek et al. 2020): score every document under an n-gram
   * LM trained on a separate CLEAN reference, instead of the corpus's
   * own statistics ([[unigramLogProb]]/[[bigramLogProb]], whose model IS
   * the scored corpus, so no transition is ever unseen). Here unseen
   * mass is the point: a doc full of transitions the reference never
   * makes scores low. Jelinek-Mercer interpolation keeps every term
   * finite and proper:
   *
   *   P(w2|w1) = λ·c_ref(w1,w2)/c_ref(w1,·)
   *            + (1−λ)·(c_ref(w2)+1)/(N_ref+V_ref)
   *
   * (bigram MLE backed off to a Laplace-smoothed reference unigram; an
   * unseen bigram contributes the unigram term, an unseen TOKEN the
   * 1/(N+V) floor — never ln 0). Output: (idCol, lm_ref) with
   * lm_ref = 6dp-quantized mean ln P over the doc's adjacent pairs;
   * docs under 2 tokens emit nothing (the bigram families' rule).
   *
   * Scale shape: the reference model is three map-side-combined counts
   * (bigram, context, unigram — all vocabulary-sized, AQE broadcasts
   * them when they fit) plus a 1-row totals aggregate; the corpus side
   * is one pair projection and one per-doc average — the reference is
   * scanned only to build the model, the corpus only once. Token
   * identity is the family's 64-bit hash stream (counts by hash equal
   * counts by token modulo the documented 2⁻⁶⁴ collision risk), which
   * is what lets the string-keyed DuckDB oracle (`quality_lm_ref`)
   * hash-verify the whole statement.
   */
  def lmRefScore(reference: DataFrame, docs: DataFrame, lambda: Double = 0.9,
      textCol: String = "text", idCol: String = "doc_id",
      minBigramCount: Option[Long] = None): DataFrame = {
    val (cbg, _, uni) = lmRefModelRelations(reference, textCol)
    lmRefScoreFromModel(docs, cbg, uni, lambda, textCol, idCol,
      minBigramCount)
  }

  private def lmRefTh(df: DataFrame, textCol: String, keep: Seq[Column]) =
    df.select(
      keep :+ TextExpressions.tokenGramHashes(col(textCol), 1).as("__th"): _*)

  private def lmRefPairs(df: DataFrame, keep: Seq[Column]) = df
    .select(keep :+ explode(zip_with(
      slice(col("__th"), lit(1), greatest(size(col("__th")) - 1, lit(0))),
      slice(col("__th"), lit(2), greatest(size(col("__th")) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))).as("__p"): _*)
    .select(keep :+ col("__p.w1").as("w1") :+ col("__p.w2").as("w2"): _*)

  /** The reference-LM model fold — the three UNPRUNED relations a
    * persisted model ships (`lm_ref_model_build`): bigram counts
    * (w1, w2, c2), left-context totals (w1, c1), unigram counts (t, cu).
    * Totals/vocab derive from `uni` at serve time (one 1-row aggregate),
    * so there is no fourth artifact to drift. Count pruning is a SERVE
    * decision ([[lmRefScoreFromModel]]) — persisting unpruned means one
    * model serves every floor. */
  private[graft] def lmRefModelRelations(reference: DataFrame,
      textCol: String = "text"): (DataFrame, DataFrame, DataFrame) = {
    val refTh = lmRefTh(reference, textCol, Nil)
    val cbg = lmRefPairs(refTh, Nil).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    // c(w1,·) derives from the bigram aggregate (bigramLogProb's shape) —
    // and from the UNPRUNED one: count pruning must not renormalize the
    // surviving bigrams' conditional probabilities
    val cw = cbg.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = refTh.select(explode(col("__th")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    (cbg, cw, uni)
  }

  /** Score `docs` under an already-folded (or persisted and re-read)
    * reference-LM model — the serve split ([[lmRefScore]] composes the
    * fold and this).
    *
    * `minBigramCount` is the broadcast-ceiling valve (SRILM-style count
    * pruning): the bigram relation is the model's vocab²-shaped term — a
    * big clean reference pushes it past any broadcast threshold, at
    * which point AQE plans a shuffle join whose exchange carries the
    * CORPUS-sized exploded bigram stream. Dropping bigrams below a count
    * floor keeps the high-mass rows (Zipf: the tail is singletons) and
    * unmatched doc bigrams fall back to the (1−λ)·unigram term, exactly
    * the unseen-bigram path — so capped scores are per-row ≤ uncapped
    * (log is monotone and the dropped λ·c2/c1 term is non-negative),
    * equal at floor 1, and the pruned form stays oracle-expressible (a
    * HAVING). Measured posture: SCALING.md r19 §4. */
  private[graft] def lmRefScoreFromModel(docs: DataFrame, cbg0: DataFrame,
      uni: DataFrame, lambda: Double = 0.9,
      textCol: String = "text", idCol: String = "doc_id",
      minBigramCount: Option[Long] = None): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    require(minBigramCount.forall(_ >= 1),
      s"min_bigram_count must be >= 1: $minBigramCount")
    // c(w1,·) folded INTO the bigram relation as a model-side window:
    // c1 = Σ_w2 c2 is an exact long sum (order-free, bit-identical to the
    // cw relation it replaces — the oracle's own cw CTE is this GROUP BY),
    // and c1 is only ever consulted when c2 matched (coalesce(c2/c1, 0)
    // nulls out with c2), so the separate (w1)-keyed cw broadcast JOIN
    // bought nothing: this deletes one vocab-sized broadcast build and one
    // hash probe per CORPUS pair row. The window re-shuffles only the
    // vocab²-sized aggregated model, never the reference stream. Pruning
    // filters AFTER the window so c1 stays the UNPRUNED total (the
    // no-renormalization contract).
    val cbgW = cbg0.withColumn("c1",
      sum(col("c2")).over(Window.partitionBy(col("w1"))))
    val cbg = minBigramCount match {
      case Some(m) => cbgW.filter(col("c2") >= m)
      case None => cbgW
    }
    val tot = uni.agg(sum(col("cu")).as("__n"),
      count(lit(1)).as("__v"))
    lmRefPairs(lmRefTh(docs, textCol, Seq(col(idCol))), Seq(col(idCol)))
      .join(cbg, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("t", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(Quantize.quantize(avg(log(
        lit(lambda) * coalesce(col("c2") / col("c1"), lit(0.0)) +
          lit(1 - lambda) * (coalesce(col("cu"), lit(0L)) + lit(1L)) /
            (col("__n") + col("__v")))), 6).as("lm_ref"))
  }

  /**
   * Per-stratum reference-LM scoring — the faithful CCNet shape: one
   * Jelinek-Mercer bigram LM per stratum (CCNet trains per LANGUAGE —
   * pass `lang`), each trained on the reference docs OF that stratum,
   * and every doc scored under its own stratum's model. Emits
   * (idCol, strataCol, lm_ref). Compose with
   * [[dropBottomQuantileByStratum]] for the full CCNet gate: a noisy
   * language neither consumes the global cut nor gets judged under
   * another language's transition statistics (the `quality_lm_ref`
   * global form's two failure modes on a multilingual corpus).
   *
   * Same algebra as [[lmRefScore]] with the stratum key threaded through
   * every model relation: bigram/context/unigram counts and the
   * totals/vocab aggregate are all per-stratum, and the serve joins key
   * on (stratum, gram). A doc whose stratum has NO reference docs is
   * DROPPED (inner totals join): CCNet has no LM for an unseen language
   * — there is no perplexity to judge, and the gate ships only what a
   * reference LM vouches for.
   *
   * Scale shape unchanged from [[lmRefScore]]: the model relations gain
   * the stratum key but stay vocabulary-sized per stratum (union over
   * strata ≈ one multilingual model's size); `minBigramCount` is the
   * same SRILM pruning valve, applied per stratum at serve while the
   * context totals stay unpruned.
   */
  def lmRefScoreStratified(reference: DataFrame, docs: DataFrame,
      strataCol: String, lambda: Double = 0.9, textCol: String = "text",
      idCol: String = "doc_id", minBigramCount: Option[Long] = None): DataFrame = {
    val (cbg, _, uni) =
      lmRefStratifiedModelRelations(reference, strataCol, textCol)
    lmRefScoreStratifiedFromModel(docs, cbg, uni, strataCol, lambda,
      textCol, idCol, minBigramCount)
  }

  /** The per-stratum model fold — [[lmRefModelRelations]] with the
    * stratum key in every relation: (stratum, w1, w2, c2),
    * (stratum, w1, c1), (stratum, t, cu). Persist these and serve
    * increments with [[lmRefScoreStratifiedFromModel]] (the
    * `lm_ref_model_build` production split, per stratum). */
  private[graft] def lmRefStratifiedModelRelations(reference: DataFrame,
      strataCol: String, textCol: String = "text")
      : (DataFrame, DataFrame, DataFrame) = {
    val refTh = lmRefTh(reference, textCol, Seq(col(strataCol)))
    val cbg = lmRefPairs(refTh, Seq(col(strataCol)))
      .groupBy(col(strataCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    // context totals derive from the UNPRUNED bigram counts
    // (lmRefScoreFromModel's no-renormalization contract — pruning is a
    // serve decision in [[lmRefScoreStratifiedFromModel]])
    val cw = cbg.groupBy(col(strataCol), col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = refTh.select(col(strataCol), explode(col("__th")).as("t"))
      .groupBy(col(strataCol), col("t")).agg(count(lit(1)).as("cu"))
    (cbg, cw, uni)
  }

  /** Serve split of [[lmRefScoreStratified]]: score `docs` against
    * already-folded (or persisted and re-read) per-stratum model
    * relations. Totals/vocab derive from `uni` per stratum (one
    * #strata-row aggregate — no fourth artifact to drift). */
  private[graft] def lmRefScoreStratifiedFromModel(docs: DataFrame,
      cbg0: DataFrame, uni: DataFrame, strataCol: String,
      lambda: Double = 0.9, textCol: String = "text", idCol: String = "doc_id",
      minBigramCount: Option[Long] = None): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    require(minBigramCount.forall(_ >= 1),
      s"min_bigram_count must be >= 1: $minBigramCount")
    // per-stratum c(w1,·) folded into the bigram broadcast (see
    // [[lmRefScoreFromModel]]): same exact-long window, keyed (stratum, w1)
    val cbgW = cbg0.withColumn("c1",
      sum(col("c2")).over(Window.partitionBy(col(strataCol), col("w1"))))
    val cbg = minBigramCount match {
      case Some(m) => cbgW.filter(col("c2") >= m)
      case None => cbgW
    }
    val tot = uni.groupBy(col(strataCol))
      .agg(sum(col("cu")).as("__n"), count(lit(1)).as("__v"))
    lmRefPairs(lmRefTh(docs, textCol, Seq(col(idCol), col(strataCol))),
        Seq(col(idCol), col(strataCol)))
      .join(cbg, Seq(strataCol, "w1", "w2"), "left")
      .join(uni.withColumnRenamed("t", "w2"), Seq(strataCol, "w2"), "left")
      // inner: strata absent from the reference have no model (see doc)
      .join(broadcast(tot), Seq(strataCol))
      .groupBy(col(idCol), col(strataCol))
      .agg(Quantize.quantize(avg(log(
        lit(lambda) * coalesce(col("c2") / col("c1"), lit(0.0)) +
          lit(1 - lambda) * (coalesce(col("cu"), lit(0L)) + lit(1L)) /
            (col("__n") + col("__v")))), 6).as("lm_ref"))
  }

  /**
   * Quality-quantile gate: drop the bottom `q`-quantile of rows by
   * `scoreCol` — the "perplexity filter" stage of a real pipeline (score
   * with [[unigramLogProb]] or a model pass, then cut the worst X%).
   * The threshold is a 1-row aggregate broadcast back as a filter — the
   * corpus side stays one scan, no shuffle of the data itself. Ties at
   * the threshold are kept (`>=`), so the gate is deterministic.
   *
   * `approx = false` uses exact `percentile` — interpolation matches
   * DuckDB's `quantile_cont`, so the gate is hash-verifiable
   * (`quality_quantile_gate`); exact percentile buffers every score in
   * the aggregate, which is fine for per-DOCUMENT scores well past sf1
   * but at extreme corpus counts pass `approx = true` for the
   * bounded-memory `approx_percentile` sketch (the `value_quantiles` /
   * `value_quantiles_approx` twin pattern).
   */
  def dropBottomQuantile(scored: DataFrame, scoreCol: String, q: Double,
      approx: Boolean = false, checkpointDir: Option[String] = None): DataFrame = {
    require(q >= 0 && q <= 1, s"q must be in [0,1]: $q")
    // ONE scoring pass: the threshold aggregate and the filter both
    // consume `scored`, so left as lineage the whole scoring plan (for a
    // unigramLogProb score: tokenize + two counting aggregations + joins)
    // runs TWICE — measured ~2× the oracle at sf0.1, and at 100 TB the
    // recompute is the dominant cost. Materialize truncates the lineage
    // (local checkpoint, or a reliable one under `checkpointDir`), so
    // the gate pays one scoring pass + one cached-scan filter.
    val mat = Materialize(scored, checkpointDir)
    // Column API, not an interpolated expr() string — a score column
    // named with a dot/space would otherwise mis-parse
    val thrCol = if (approx) approx_percentile(col(scoreCol), lit(q), lit(10000))
      else percentile(col(scoreCol), lit(q))
    val thr = mat.agg(thrCol.as("__thr"))
    mat.crossJoin(broadcast(thr))
      .filter(col(scoreCol) >= col("__thr")).drop("__thr")
  }

  /**
   * Per-stratum quality floor: [[dropBottomQuantile]] with the threshold
   * computed WITHIN each stratum — the flooring a multi-source corpus
   * actually wants: under one global cut, a noisy source's tail consumes
   * the whole quantile while a clean source sails through untouched;
   * per-source cuts drop each source's own worst `q`. Thresholds are one
   * aggregation (exact `percentile` buffers per-GROUP values — fine at
   * #strata ≪ corpus; `approx = true` swaps in the bounded-memory sketch
   * when group cardinality explodes), broadcast back as a tiny
   * (#strata)-row join.
   */
  def dropBottomQuantileByStratum(scored: DataFrame, scoreCol: String,
      q: Double, strataCol: String, approx: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    require(q >= 0 && q <= 1, s"q must be in [0,1]: $q")
    // same one-pass contract as [[dropBottomQuantile]]: materialize the
    // scored frame once; thresholds and filter read the cached blocks.
    // The pin is NOT only a cost seam — it is the gate's determinism
    // contract. An r21 experiment dropped it for scores ending in an
    // aggregation exchange (the lm_ref per-doc avg), on the argument
    // that AQE stage reuse shares the exchange between the threshold and
    // filter branches. It does — but reuse shares the SHUFFLE BLOCKS,
    // not the final aggregate above them: each branch re-merges double
    // partials in fetch-arrival order, so the threshold could be cut on
    // ulp-different scores than the filter reads, and the kept set would
    // no longer be a pure function of one score snapshot (a
    // quantize-boundary doc could flip across runs on a hash-verified
    // query). Reverted same-round; one floor job is the wrong thing to
    // save there.
    val mat = Materialize(scored, checkpointDir)
    val thrCol = if (approx) approx_percentile(col(scoreCol), lit(q), lit(10000))
      else percentile(col(scoreCol), lit(q))
    val thr = mat.groupBy(col(strataCol)).agg(thrCol.as("__thr"))
    mat.join(broadcast(thr), Seq(strataCol))
      .filter(col(scoreCol) >= col("__thr")).drop("__thr")
  }

  /**
   * Curriculum staging: bucket documents into `stages` difficulty tiers
   * by score quantile — the curriculum-learning precursor (train on the
   * cleanest tier first, anneal toward the tail). NOT a global
   * sort/ntile: the n−1 cut points come from ONE percentile aggregate
   * (array form — a single buffer/sketch serves every cut, the
   * `value_quantiles` lesson) broadcast back, and the stage is a
   * map-side comparison count — so the assignment scales like a filter,
   * not like a sort. Ties at a cut land in the lower stage on every
   * engine (`>` on the same interpolated cut values). `approx = true`
   * swaps the exact percentile buffer for the bounded-memory sketch at
   * extreme corpus counts. Same one-pass Materialize contract as
   * [[dropBottomQuantile]].
   */
  def curriculumAssign(scored: DataFrame, scoreCol: String, stages: Int,
      approx: Boolean = false, checkpointDir: Option[String] = None): DataFrame = {
    require(stages >= 2, s"stages must be >= 2: $stages")
    val mat = Materialize(scored, checkpointDir)
    val qs = array((1 until stages).map(i => lit(i.toDouble / stages)): _*)
    val thrCol = if (approx) approx_percentile(col(scoreCol), qs, lit(10000))
      else percentile(col(scoreCol), qs)
    val thr = mat.agg(thrCol.as("__cuts"))
    mat.crossJoin(broadcast(thr))
      .withColumn("stage", aggregate(col("__cuts"), lit(0),
        (acc, c) => acc + when(col(scoreCol) > c, 1).otherwise(0)))
      .drop("__cuts")
  }

  /**
   * Duplicate n-gram ratio (the Gopher-family repetition signal): the
   * fraction of a document's word n-gram INSTANCES that are repeats of an
   * n-gram already seen in the same document — `1 − distinct/total`. The
   * token-level `distinct_ratio` (text_repetition) misses structured
   * repetition: a document looping one sentence scores high token
   * diversity inside the sentence but ~1.0 here. n=2..4 are the published
   * choices; short docs (< n tokens) fall back to one whole-text shingle
   * and score 0. A PURE PROJECTION — `1 − size(array_distinct)/size`
   * over the in-row shingle array, no explode, no shuffle, fuses into
   * the scan (both repetition ratios and the quality columns ride one
   * pass). Oracled as `text_rep_ngram`.
   */
  def ngramRepetition(docs: DataFrame, n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    // two projections: `__sh` is referenced twice and CollapseProject
    // declines to inline a non-cheap producer, so shingling runs once.
    // Hashed shingles (native expression, dedup=false) instead of n-gram
    // strings: distinct/total counts are hash-invariant (the family's
    // collision argument), and array_distinct over longs costs a fraction
    // of the string form.
    docs.select(col(idCol),
        TextExpressions.shingleHashes(col(textCol), n, dedup = false).as("__sh"))
      .select(col(idCol),
        Quantize.quantize(lit(1) - size(array_distinct(col("__sh"))).cast("double") /
          size(col("__sh")), 6).as("dup_ngram_ratio"))

  /**
   * Duplicate-line fractions (the Gopher repetition pair [[ngramRepetition]]
   * doesn't cover): per document, the share of line INSTANCES that repeat
   * a line already seen in the same document (`dup_line_ratio` =
   * 1 − distinct/total) and the share of CHARACTERS living in lines that
   * occur more than once (`dup_char_ratio`, all occurrences counted) — the
   * char form catches one huge line duplicated once among many short
   * unique lines, which the instance ratio underweights. Lines are
   * `sep`-separated, trimmed, empties dropped ([[Dedup.explodeParas]] —
   * the same normalization paragraph dedup matches on). CONTRACT: a
   * document with NO non-empty lines has nothing to score and is ABSENT
   * from the output (its DuckDB twin agrees) — a gating pipeline should
   * left-join this signal and treat null as "no lines", unlike
   * [[ngramRepetition]] whose whole-text fallback scores every doc. Two
   * keyed aggregations, groups bounded by document size. Oracled as
   * `text_rep_lines` over the multi-paragraph fixture.
   */
  def lineRepetition(docs: DataFrame, sep: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    Dedup.explodeParas(docs, sep, textCol, idCol)
      .groupBy(col(idCol), col("para"))
      .agg(count(lit(1)).as("cnt"), length(col("para")).cast("long").as("chars"))
      .groupBy(col(idCol))
      .agg(
        Quantize.quantize(lit(1) - count(lit(1)).cast("double") / sum(col("cnt")), 6)
          .as("dup_line_ratio"),
        Quantize.quantize(sum(when(col("cnt") > 1, col("cnt") * col("chars")).otherwise(0L))
          .cast("double") / sum(col("cnt") * col("chars")), 6)
          .as("dup_char_ratio"))

  /**
   * Per-document token Shannon entropy (nats): H = ln(n) − Σ c·ln(c) / n
   * over token counts c, total n — the distribution-shape quality signal
   * that length and distinct-ratio miss: near-zero entropy = one token
   * repeated (spam/padding), high entropy with low [[unigramLogProb]] =
   * random noise. One explode + one aggregation; the identity form keeps
   * it a single agg pass (no second join against per-doc totals).
   */
  def tokenEntropy(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // SHUFFLE-FREE: a document's token-frequency entropy is a row-local
    // fact, so the counts come from [[graft.plans.ShingleHash.tokenCounts]] and
    // both folds happen inside [[graft.plans.ShingleHash.countEntropy]] — one scan,
    // one codegen'd projection, no aggregation stage at all (the old
    // shape paid two corpus-wide exchanges; the interim HOF-fold shape
    // ran the lambdas interpreted, which dominated the scan). Zero-token
    // and null-text docs drop before the kernel, matching the groupBy
    // form's absent group (tf ≥ 1 ⇒ non-empty array ⇔ total > 0).
    docs.select(col(idCol),
        TextExpressions.tokenCounts(col(textCol)).getField("tf").as("__tf"))
      .where(size(col("__tf")) > 0)
      .select(col(idCol),
        TextExpressions.countEntropy(col("__tf")).as("entropy"))
  }

  /**
   * Document chunking: split each document's whitespace-token stream into
   * consecutive `budget`-sized pieces — the upstream companion of
   * [[packSequences]], which documents that oversized docs span bins and
   * defers splitting here. After chunking, every unit is ≤ `budget`
   * tokens, so a packed unit never straddles more than one bin boundary.
   *
   * Shape: sequence + explode + bulk slice (no UDF) — one projection per
   * row with fan-out ceil(tokens/budget); NO shuffle, so a 100 TB chunk
   * pass is map-only and fuses into whatever scan feeds it.
   *
   * Output per piece: (idCol, chunk, chunk_id, chunk_text, n_tokens) —
   * `chunk` is the 0-based piece index, `chunk_id` = "<id>#000000007"
   * (zero-padded to 9 digits so string order within a doc follows chunk
   * order up to 10⁹ chunks per doc — beyond any real document),
   * `chunk_text` the space-rejoined slice, `n_tokens` its ws-token count
   * (= budget everywhere but the tail). Chunk texts concatenate back to
   * the lowercased ws-normalized original (round-trip property in
   * CorpusSpec); a doc with no tokens still emits one empty chunk, so no
   * document silently disappears. Hash-verified end-to-end (chunk +
   * pack) by the `pack_chunks` oracle.
   */
  def chunkDocs(docs: DataFrame, budget: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    // stride == budget IS non-overlapping chunking (the scaladoc bridge
    // below proves identical membership and ids), so this delegates and
    // the projection algebra lives in exactly one place
    chunkDocsOverlap(docs, budget, budget, textCol, idCol)

  /**
   * OVERLAPPING (sliding-window) chunking — the RAG/pretraining prep
   * variant of [[chunkDocs]]: window k covers tokens [k·stride,
   * k·stride + budget), windows start while k·stride < tokens (a doc
   * with no tokens still emits one empty window, like [[chunkDocs]]).
   * With `stride == budget` this IS [[chunkDocs]] (identical membership
   * and ids — the hash-verified bridge); `stride < budget` gives each
   * consecutive pair `budget − stride` shared context tokens, the
   * standard retrieval-chunking trade (no sentence is ever split from
   * its context at a hard boundary).
   *
   * Same shape as [[chunkDocs]]: sequence + explode + bulk slice,
   * map-only, no shuffle; fan-out ≈ tokens/stride per doc.
   */
  def chunkDocsOverlap(docs: DataFrame, budget: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(stride > 0 && stride <= budget,
      s"stride must be in [1, budget]: $stride (budget $budget)")
    // null text chunks like empty text (one empty chunk, n_tokens
    // non-null) — without the coalesce a null-text doc emitted a chunk
    // row with NULL n_tokens, which packBoundaries' manifest concat then
    // nulled out and collect_list silently DROPPED (the doc's boundary
    // vanished from the manifest)
    docs.select(col(idCol),
        TextFunctions.wsTokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col(idCol), col("__toks"), explode(sequence(lit(0L),
        expr(s"greatest(size(__toks) - 1, 0) div $stride"))).as("chunk"))
      .withColumn("__ctoks",
        slice(col("__toks"), (col("chunk") * stride + 1).cast("int"), lit(budget)))
      .select(col(idCol), col("chunk"),
        format_string("%s#%09d", col(idCol).cast("string"), col("chunk")).as("chunk_id"),
        concat_ws(" ", col("__ctoks")).as("chunk_text"),
        size(col("__ctoks")).cast("long").as("n_tokens"))
  }

  /**
   * Cost-aware document chunking: like [[chunkDocs]], but the budget
   * counts a PLUGGABLE per-token cost instead of "1 per whitespace
   * token" — pass `TextFunctions.bpeCount(_, merges)` and chunk
   * boundaries fall at merged-BPE token budgets, so packing budgets match
   * what a real tokenizer would produce (the #1 drift risk for training
   * input: a 512-"token" chunk that is 680 BPE tokens).
   *
   * Boundaries are next-fit on the running cost: a token lands in the
   * chunk where its cumulative span ENDS, so a chunk exceeds the budget
   * by at most its boundary-straddling token's cost − 1 — the same
   * tolerance [[packSequences]] documents for docs spanning bins. With a
   * unit cost (`lit(1)`) this degrades EXACTLY to [[chunkDocs]]
   * (running = position + 1 ⇒ chunk = pos div budget — identical
   * membership, text, and counts), which is the hash-verified
   * `chunk_docs_cost` bridge; BPE costs are rows-only (no BPE in the
   * oracle engine) with the equality property pinned in spec.
   *
   * Shape: MAP-ONLY — the running sum and chunk reassembly are row-local
   * in the [[graft.plans.ChunkKernel.costChunks]] kernel (a document's chunking
   * depends only on its own token stream), then one explode of the
   * already-built chunk rows. The first formulation was posexplode →
   * per-doc window running sum → (doc, chunk) re-aggregation: same
   * result, but it shipped EVERY TOKEN through a corpus-sized exchange
   * to run a per-document prefix sum (~1M exchanged rows at sf0.1,
   * 0.43 s vs DuckDB's 0.057 — the r16 verdict's 7.6× tail; at 100 TB
   * that exchange scales with the corpus). Splitting on whitespace never
   * splits an alnum run, so per-chunk BPE costs sum exactly to the
   * document's total. Output schema = [[chunkDocs]]'s.
   */
  def chunkDocsByCost(docs: DataFrame, budget: Long, costOf: Column => Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    // coalesce: null text behaves as empty (one empty chunk via the [""]
    // token split), matching chunkDocs/chunkDocsOverlap — a NULL array
    // would null the kernel, explode would emit zero rows, and the doc
    // would vanish entirely
    docs.select(col(idCol),
        TextFunctions.wsTokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col(idCol), explode(graft.plans.TextExpressions.costChunks(
        col("__toks"),
        transform(col("__toks"), t => costOf(t).cast("long")), budget)).as("__ch"))
      .select(col(idCol), col("__ch.chunk").as("chunk"),
        format_string("%s#%09d", col(idCol).cast("string"),
          col("__ch.chunk")).as("chunk_id"),
        col("__ch.chunk_text").as("chunk_text"),
        col("__ch.n_tokens").as("n_tokens"))
  }

  /**
   * SENTENCE-PRESERVING chunking — the retrieval/pretraining variant
   * where a chunk boundary never falls inside a sentence: the document
   * splits into sentence atoms, and atoms pack next-fit into
   * token-budget chunks (the [[chunkDocsByCost]] algebra with the atom
   * = a sentence and its cost = its whitespace-token count). A sentence
   * longer than the budget ships WHOLE as its own over-budget chunk —
   * that is the contract's point (hard mid-sentence cuts are what this
   * variant exists to avoid), and the same next-fit tolerance
   * [[packSequences]] documents applies at every boundary straddle.
   *
   * The sentence grammar is deliberately a deterministic PUNCTUATION-RUN
   * split, not a linguistic segmenter: a sentence is the shortest span
   * ending in a `[.!?]` run, plus a final unterminated fragment —
   * `[^.!?]*[.!?]+|[^.!?]+$`, then trim. The two alternation branches
   * are mutually exclusive at any position (one requires a terminator,
   * the other forbids it to end-of-string), so leftmost-first and
   * leftmost-longest regex engines produce IDENTICAL matches — which is
   * what lets the `chunk_docs_sentences` oracle hash-verify the whole
   * operator cross-engine. The split is LOSSLESS in character content
   * modulo lowering, trimming, and one space gained at each sentence
   * boundary ("3.5" splits after "3." into two sentences but drops no
   * text; reassembling the chunks in order reproduces the document's
   * content — spec-pinned, exactly for terminator-clean docs).
   *
   * Shape: map-only, exactly [[chunkDocsByCost]] — sentence extraction,
   * per-atom costs and the next-fit running sum are all row-local
   * ([[graft.plans.ChunkKernel.costChunks]]); the only output fan-out is the
   * explode of already-built chunk rows. Output schema = [[chunkDocs]]'s.
   */
  def chunkDocsSentences(docs: DataFrame, budget: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val sents0 = transform(
      regexp_extract_all(lower(coalesce(col(textCol), lit(""))),
        lit("[^.!?]*[.!?]+|[^.!?]+$"), lit(0)),
      x => trim(x))
    val sents1 = filter(sents0, x => length(x) > 0)
    // a doc with no sentences (null/empty/whitespace text) still emits
    // one empty chunk — chunkDocs' "a doc never vanishes" rule
    val sents = when(size(sents1) === 0, array(lit(""))).otherwise(sents1)
    docs.select(col(idCol), sents.as("__sents"))
      .select(col(idCol), explode(graft.plans.TextExpressions.costChunks(
        col("__sents"),
        transform(col("__sents"), x => size(split(x, " ")).cast("long")),
        budget)).as("__ch"))
      .select(col(idCol), col("__ch.chunk").as("chunk"),
        format_string("%s#%09d", col(idCol).cast("string"),
          col("__ch.chunk")).as("chunk_id"),
        col("__ch.chunk_text").as("chunk_text"),
        col("__ch.n_tokens").as("n_tokens"))
  }


  /**
   * Sequence packing: assign each document to a token-budget bin, the
   * precursor to concatenating examples into fixed-length training
   * sequences. Exact bin packing is inherently sequential, so the scalable
   * form is PARALLEL NEXT-FIT: docs hash into `groups` independent
   * streams; within a group, docs are ordered by id and a running token
   * total assigns `bin = (running-1) div budget` — a doc lands in the bin
   * where its cumulative span ends. Each group packs in isolation (one
   * window partition), so parallelism = `groups` and per-task state is one
   * running sum; waste vs optimal is bounded by one partially-filled bin
   * per group plus boundary-straddling docs, which training-data packing
   * tolerates (oversized docs simply span bins — run [[chunkDocs]] first
   * when units must fit the budget).
   *
   * Deterministic everywhere (hash groups + id order), hash-verified
   * against the oracle's identical window computation. `(grp, bin)` is the
   * packed-sequence key; `running` is kept so a consumer can compute its
   * offset within the bin without re-aggregating.
   */
  def packSequences(docs: DataFrame, budget: Long, groups: Int = 32,
      tokenCol: String = "n_tokens", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(col("grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), hashBucket(col(idCol), groups).as("grp"),
        col(tokenCol).cast("long").as(tokenCol))
      .withColumn("running", sum(col(tokenCol)).over(w))
      // `div` (integer division) on both engines; greatest() keeps a
      // zero-token prefix off the negative path, where Spark's `div`
      // truncates but the oracle's `//` floors
      .withColumn("bin", expr(s"(greatest(running, 1L) - 1L) div ${budget}L"))
      .select(col(idCol), col("grp"), col("bin"), col(tokenCol), col("running"))
  }

  /**
   * Incremental sequence packing — the registry convention applied to
   * [[packSequences]]: a persisted per-group state (`grp`,
   * `running_total`) carries each group's cumulative token count, so a
   * NEW batch of documents packs exactly where the previous corpus left
   * off. `packState` folds a packed layout to its state;
   * `packSequencesInc` offsets the increment's running sums by the
   * loaded state — provided batch ids sort AFTER all registered ids
   * (the append-only id discipline every incremental op in this engine
   * assumes), the union of the increments' outputs is IDENTICAL to
   * packing the whole corpus fused (`PackIncSpec`-pinned batch-boundary
   * invariance, the ExactSubstr/semantic-registry precedent). State is
   * ≤ `groups` rows — a broadcast, not a shuffle.
   */
  def packState(packed: DataFrame): DataFrame =
    packed.groupBy(col("grp"))
      .agg(max(col("running")).as("running_total"))

  def packSequencesInc(docs: DataFrame, state: DataFrame, budget: Long,
      groups: Int = 32, tokenCol: String = "n_tokens",
      idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(col("grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), hashBucket(col(idCol), groups).as("grp"),
        col(tokenCol).cast("long").as(tokenCol))
      .join(broadcast(state.select(col("grp"),
        col("running_total").cast("long").as("__base"))), Seq("grp"), "left")
      .withColumn("running",
        sum(col(tokenCol)).over(w) + coalesce(col("__base"), lit(0L)))
      .withColumn("bin", expr(s"(greatest(running, 1L) - 1L) div ${budget}L"))
      .select(col(idCol), col("grp"), col("bin"), col(tokenCol), col("running"))
  }

  /**
   * The trainer-facing EMISSION of a packed layout: tokenize with the
   * merged-BPE encoder, assign token-budget bins with the same parallel
   * next-fit as [[packSequences]], and emit each (grp, bin)'s
   * concatenated token-id sequence in document-id order — the actual
   * fixed-length training input, closing the corpus → model-input loop
   * ([[graft.plans.BpeMatcher.encode]] supplies the ids; budgets and sequences
   * come from ONE tokenizer, so `size(seq_ids) == bin_tokens` is
   * structural).
   *
   * Scale shape: ONE exchange end-to-end. The grp-keyed window shuffles
   * each doc's id array once (they must co-locate by group anyway); the
   * (grp, bin) aggregation reuses that partitioning (hash(grp) already
   * clusters every (grp, bin) group), and the per-bin concatenation is
   * `array_sort(collect_list(struct(id, ids)))` + flatten — emission
   * order defined by the struct sort, not collect order, so the result
   * is engine- and parallelism-free. Oversized docs straddle bins
   * exactly as in [[packSequences]] (run [[chunkDocs]]/-ByCost first
   * when units must fit).
   */
  def packEmitIds(docs: DataFrame, budget: Long, groups: Int = 32,
      textCol: String = "text", idCol: String = "doc_id",
      merges: Seq[(String, String)] = graft.functions.TextFunctions.BpeMerges): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(col("grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), hashBucket(col(idCol), groups).as("grp"),
        graft.plans.BpeExpressions.bpeEncode(col(textCol), merges).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
      .withColumn("running", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(greatest(running, 1L) - 1L) div ${budget}L"))
      .groupBy(col("grp"), col("bin"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col(idCol).as("i"), col("token_ids").as("t")))),
          s => s.getField("t"))).as("seq_ids"),
        sum(col("n_tokens")).as("bin_tokens"),
        count(lit(1)).as("n_docs"))
  }

  /**
   * The trainer-facing manifest of a [[packSequences]] layout: one row
   * per (grp, bin) with member count, token total, and each member's
   * start OFFSET within the bin as a `id@offset` list — the
   * attention-reset metadata packed-sequence training needs (a document
   * boundary inside a bin is where the mask resets). A bin's straddling
   * head unit reports a NEGATIVE offset: it began `-offset` tokens
   * before this bin's base, exactly the information a loader needs to
   * skip its tail-in-previous-bin prefix.
   *
   * One map-side-combinable aggregation over the packer output; the
   * manifest joins `sort_array`'d strings, so emission order is
   * engine-free (the string sort, not collect order, defines it).
   */
  def packBoundaries(packed: DataFrame, budget: Long,
      tokenCol: String = "n_tokens", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val off = (col("running") - col(tokenCol) - col("bin") * budget).cast("long")
    packed
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col(tokenCol)).as("bin_tokens"),
        concat_ws(",", sort_array(collect_list(
          concat(col(idCol), lit("@"), off.cast("string"))))).as("manifest"))
  }
}
