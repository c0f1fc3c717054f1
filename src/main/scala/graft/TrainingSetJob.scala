package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.TrainingSetConfig
import graft.operators.{Corpus, Dedup, Materialize, Selection}

/**
 * Config-driven end-to-end training-set production — the training-data
 * analog of [[IngestJob]]: one JSON config
 * ([[graft.config.TrainingSetConfig]]) drives the full pipeline a corpus
 * actually runs between a raw document table and training input:
 *
 *   [normalizeText: punctuation fold + whitespace/control chain —
 *      applied to the source frame, so every later text consumer sees
 *      normalized text]
 *   [→ c4_clean: C4 line-level cleaning
 *      ([[graft.functions.TextFunctions.c4Columns]]) — failing lines
 *      leave the text, failing pages leave the corpus]
 *   [→ gopher_gate: the Gopher rule filter
 *      ([[graft.functions.TextFunctions.gopherColumns]] keep verdict) on
 *      the source frame — map-only, before any pair machinery]
 *   [→ substr_window: ExactSubstr substring-level cut
 *      ([[graft.operators.Dedup.dedupSubstrings]]) — duplicated
 *      n-token passages removed before document-level cleaning, so
 *      min_tokens judges post-cut length and chunk budgets never pay
 *      for passages the corpus already ships once]
 *   → cleanCorpus (quality gate → language gate → exact dedup → near-dup
 *   survivors [→ decontamination → PII redaction → stratified rebalance]
 *   → split assignment) — with `soft_dedup`, the near-dup stage
 *   reweights instead of removes: every cluster member ships carrying
 *   `weight = 1/|cluster|` into the shards (unit mass per cluster;
 *   compose with `sample_k` + `sample_weight_col = "weight"` for the
 *   reweight-then-draw pipeline)
 *   [→ selection: DSIR top-k toward a target domain
 *      ([[graft.operators.Selection.dsirTopK]]) or a deterministic
 *      weighted draw ([[graft.operators.Selection.sampleWeighted]])]
 *   [→ domain cap: exact ≤k docs per stratum — [[Corpus.capPerStratum]]]
 *   [→ mixture weights over the cleaned text: per-stratum
 *      `min(1, w·B/total)` sampling ([[Corpus.mixByBudget]]) or, with
 *      `mix_repeats`, upsampling epochs ([[Corpus.mixWithRepeats]]);
 *      weights are explicit (`mix_weights`) or temperature-derived from
 *      the corpus itself (`mix_alpha`: w_s ∝ units_s^α via
 *      [[Corpus.temperatureWeights]])]
 *   → shard write of the clean corpus (deterministic writer layout)
 *   → chunk + pack of the train split (budget-sized sequence bins)
 *   → manifest.
 *
 * Output layout under `outRoot`:
 *  - `shards/` — the clean corpus, one directory per [[Corpus.shardAssign]]
 *    shard, internally hash-ordered (the deterministic global shuffle);
 *    carries (doc_id, text, bucket, split) — plus (copy_idx, copy_uid)
 *    under `mix_repeats`, where shard and sort keys derive from the
 *    per-copy copy_uid — so any split is a partition-pruned filter away.
 *  - `packed/` — train-split sequences: chunk rows (chunk_id, chunk_text,
 *    n_tokens) with their (grp, bin, running) packing assignment,
 *    partitioned by `grp`, rows sorted (bin, chunk_id) so a trainer reads
 *    each bin's members contiguously. With a merges table in play
 *    (configured, trained, or `emit_ids`' canonical default) rows also
 *    carry `token_ids`, the actual merged-BPE model input.
 *  - `boundaries/` (`emit_boundaries`) — the loader manifest: one row per
 *    (grp, bin) with member count, token total and each member's
 *    `id@offset` start inside the bin ([[Corpus.packBoundaries]]) — the
 *    attention-reset metadata packed training needs.
 *  - `merges.txt` (`bpe_train_merges` or `emit_ids`) — the merge table
 *    the budgets were counted and ids emitted with.
 *  - `manifest.json` — row counts per stage + the effective config echo
 *    (including the effective `emit_ids`/`emit_boundaries`).
 *
 * Two execution forms share the output layout: [[run]] (the one-shot
 * batch job, stage-level resumable) and [[runIncrement]]/[[runStream]]
 * (the micro-batch loop — new batches adjudicate their substring cuts,
 * exact-dup keeps, near-dup survivors and pack bins against persisted
 * registries, so the corpus grows without re-running the cascade; see
 * [[runIncrement]] for the exact per-stage increment semantics and the
 * supported config subset).
 *
 * Every stage is the individually-verified operator — this class only
 * composes and writes. The clean set is materialized ONCE before its three
 * consumers (shard write, train-split packing, counts) — pass
 * `checkpoint_dir` for a reliable checkpoint on long cluster runs, exactly
 * like [[Corpus.cleanCorpus]]'s own internal stage. Shipped counts for the
 * manifest are read from the WRITTEN outputs (column-pruned scans of two
 * small columns); the pre-mixture cleaning yield is a count of the
 * materialized clean frame (it exists in no written output once a
 * mixture or cap has filtered it).
 */
object TrainingSetJob {

  /** `cleanDocs` = cleaning yield (before any mixture); `mixedDocs` =
    * what actually shipped (equal when no mixture is configured) — kept
    * separate so a weight change never masquerades as a cleaning-yield
    * shift. */
  final case class Result(cleanDocs: Long, mixedDocs: Long, trainChunks: Long,
      trainBins: Long, shardsWritten: Long)

  def shardsDir(root: String) = s"$root/shards"
  def packedDir(root: String) = s"$root/packed"
  def boundariesDir(root: String) = s"$root/boundaries"
  def manifestPath(root: String) = s"$root/manifest.json"
  def mergesPath(root: String) = s"$root/merges.txt"

  /** Small text artifact through the Hadoop FS (outRoot may be hdfs/s3). */
  private def writeTextFile(spark: SparkSession, path: String,
      body: String): Unit =
    Writes.writeFile(spark, path, body.getBytes("UTF-8"))

  /** Markup stripping, then normalization — each a config switch — over
    * `df`'s `text`. Runs FIRST (raw crawl text is tag soup before it is
    * anything else) and on the source frame itself, so every later text
    * consumer (gates, shingles, the join-back when redaction is off) sees
    * the cleaned form: ragged whitespace would otherwise plant empty
    * whitespace-tokens in the near-dup shingles. Reference and eval docs
    * get the SAME treatment, so their shingles and bigrams compare like
    * with like. */
  private def normalized(df: DataFrame, cfg: TrainingSetConfig): DataFrame = {
    val stripped = if (!cfg.stripMarkup) df
      else df.withColumn("text",
        graft.functions.TextFunctions.stripMarkup(col("text")))
    if (!cfg.normalize) stripped
    else stripped.withColumn("text",
      graft.functions.TextFunctions.normalizeText(col("text")))
  }

  /** The per-row front both forms run on the source frame: [[normalized]],
    * then C4 line cleaning, then the Gopher gate. */
  private def perRowFront(df: DataFrame, cfg: TrainingSetConfig): DataFrame = {
    val docs1 = normalized(df, cfg)
    // optional C4 line-level cleaning BEFORE the document-level gates:
    // failing lines leave the text, failing pages leave the corpus, and
    // every later stage (gopher stats, dedup shingles, chunking) sees the
    // line-cleaned form. One kernel evaluation per row (the struct
    // projects once; filter and substitution read its fields).
    val docs0 = if (!cfg.c4Clean) docs1
      else docs1
        .withColumn("__c4", graft.plans.TextExpressions.c4LineClean(col("text")))
        .filter(col("__c4.keep"))
        .withColumn("text", col("__c4.clean_text"))
        .drop("__c4")
    // optional Gopher rule gate (quality_gopher's keep verdict) applied
    // to the source frame itself — the standard web-scale pre-filter,
    // map-only, so everything downstream (dedup shingles, eval
    // decontamination, mixtures) runs on the already-gated corpus.
    // gopherKeep is the single-expression ShingleHash.gopherKeep verdict kernel, so
    // the byte scan runs ONE time per row (plan-asserted in
    // TrainingSetJobSpec). It must stay ONE expression: the naive keep
    // predicate referenced the signals struct ~8 times and FilterExec
    // does no subexpression elimination, and every With/projected-alias
    // shape was re-substituted by predicate pushdown back into that
    // multi-copy form (measured 63 kernel copies — see the ShingleHash.gopherKeep
    // scaladoc before "simplifying" this).
    if (!cfg.gopherGate) docs0
    else docs0.filter(graft.functions.TextFunctions.gopherKeep(col("text")))
  }

  /** Saves a merges table that did NOT come from the user's own file next
    * to the outputs, in the GPT-2 merges.txt format, so the trainer's
    * tokenizer can load exactly what the budgets were counted and the ids
    * emitted with. */
  private def saveMerges(spark: SparkSession, outRoot: String,
      m: Seq[(String, String)]): Seq[(String, String)] = {
    writeTextFile(spark, mergesPath(outRoot),
      ("#version: 0.2" +: m.map { case (a, b) => s"$a $b" }).mkString("\n") + "\n")
    m
  }

  /** The chunker for the configured budget shape, keyed on `idCol`. */
  private def chunker(cfg: TrainingSetConfig, mergesOpt: Option[Seq[(String, String)]],
      idCol: String): DataFrame => DataFrame = (mergesOpt, cfg.chunkStride) match {
    case (Some(merges), _) =>
      df => Corpus.chunkDocsByCost(df, cfg.chunkBudget.toLong,
        tok => graft.functions.TextFunctions.bpeCount(tok, merges), "text", idCol)
    case (None, Some(stride)) =>
      // overlapping windows: consecutive chunks share budget−stride
      // context tokens (config guards this off the BPE cost path)
      df => Corpus.chunkDocsOverlap(df, cfg.chunkBudget, stride, "text", idCol)
    case (None, None) if cfg.chunkSentences =>
      // sentence-preserving boundaries (config guards exclusivity)
      df => Corpus.chunkDocsSentences(df, cfg.chunkBudget.toLong, "text", idCol)
    case (None, None) => df => Corpus.chunkDocs(df, cfg.chunkBudget, "text", idCol)
  }

  /** Packed rows joined to their chunk text and, with a merges table in
    * play, the actual merged-BPE token ids (BpeMatcher.encode shares the chunker's
    * tokenizer, so size(token_ids) == n_tokens structurally on the
    * BPE-budgeted path) — the packed/ output becomes directly
    * loader-consumable. */
  private def packedRows(packed: DataFrame, chunks: DataFrame,
      mergesOpt: Option[Seq[(String, String)]]): DataFrame = {
    val joined = packed
      .join(chunks.select(col("chunk_id"), col("chunk_text")), Seq("chunk_id"))
    mergesOpt.fold(joined)(m => joined.withColumn("token_ids",
      graft.plans.BpeExpressions.bpeEncode(col("chunk_text"), m)))
  }

  /** Identity of one logical run, for the stage-resume markers: the
    * source dir plus every SEMANTIC config field (checkpointDir and
    * compactEvery are execution/maintenance posture — a crashed run
    * retried WITH a checkpoint dir or compaction cadence added must
    * still resume, not restart, and toggling compaction must not trip
    * the incremental config pin). Any semantic change makes a
    * different run: its markers miss and every stage recomputes. */
  private[graft] def runKey(docsDir: String, cfg: TrainingSetConfig): String = {
    Keys.md5Hex12(docsDir + "|" + cfg.copy(checkpointDir = None,
      compactEvery = None)
      .productIterator.map {
        // map fields canonicalize by sorted entries (construction order
        // must not change the key)
        case m: Map[_, _] =>
          m.map { case (k, v) => s"$k->$v" }.toSeq.sorted.mkString(",")
        case x => String.valueOf(x)
      }.mkString("|"))
  }

  def run(spark: SparkSession, docsDir: String, outRoot: String,
      cfg: TrainingSetConfig = TrainingSetConfig()): Result = {
    // STAGE-LEVEL RESUME: each written output records a completion marker
    // keyed on the run identity ([[runKey]]), so a re-run after a crash
    // skips the stages whose outputs already landed — a stage-8 crash in
    // this 10-stage pipeline otherwise re-runs the whole cleaning cascade
    // from scratch (idempotent but ruinous at corpus scale). Markers are
    // written AFTER their stage's output commits: a crash mid-write
    // leaves no marker and the retry overwrites the partial output.
    val rk = runKey(docsDir, cfg)
    def stageMarker(s: String) = s"$outRoot/_resume/${rk}_$s"
    def stageDone(s: String): Boolean = {
      val p = new Path(stageMarker(s))
      FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // SINGLE-WRITER CONTRACT per outRoot (the Compaction convention): the
    // stage outputs are shared paths, so two concurrent runs with
    // different configs would overwrite each other's outputs while each
    // labels them with its own markers. The CURRENT sentinel makes the
    // race detectable: each run stamps CURRENT with its runKey at entry,
    // so if CURRENT no longer reads this run's key at marker time,
    // another writer entered mid-run — the output this marker would
    // describe may already be the OTHER config's. Fail loudly instead of
    // publishing a lying marker (the crashed run resumes cleanly: no
    // marker means the stage re-runs).
    def markStage(s: String, payload: String = "done"): Unit = {
      val cur = s"$outRoot/_resume/CURRENT"
      val now = Writes.readText(spark, cur).trim
      require(now == rk,
        s"concurrent writer detected on $outRoot: CURRENT is '$now' but " +
          s"this run is '$rk' — TrainingSetJob requires a single writer " +
          "per outRoot; this run's outputs may have been overwritten, " +
          "re-run it alone")
      writeTextFile(spark, stageMarker(s), payload)
    }
    // the stage OUTPUTS are shared per outRoot while markers are keyed
    // per run — so when a DIFFERENT run last wrote this outRoot, every
    // surviving marker describes outputs this run is about to overwrite
    // (or already overwritten by that run): invalidate them, or a later
    // re-run of the earlier config would skip every stage and label the
    // other config's outputs as its own. CURRENT records the last writer.
    locally {
      val dir = new Path(s"$outRoot/_resume")
      val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
      val cur = new Path(dir, "CURRENT")
      val prev = if (fs.exists(cur)) Writes.readText(spark, cur.toString).trim
        else ""
      if (prev != rk) {
        // ALL markers go — including this run's own from an even earlier
        // epoch (A ran, B overwrote the outputs, A re-runs: A's stale
        // markers describe B's outputs, not A's)
        if (fs.exists(dir)) fs.listStatus(dir)
          .filter(_.getPath.getName != "CURRENT")
          .foreach(s => fs.delete(s.getPath, false))
        writeTextFile(spark, cur.toString, rk)
      }
    }

    val cleanDocs: Long = if (stageDone("shards"))
      Writes.readText(spark, stageMarker("shards")).trim.toLong
    else {
    val docsG0 = perRowFront(spark.read.parquet(docsDir), cfg)
    // optional CCNet-style reference-perplexity gate: score every doc
    // under a Jelinek-Mercer bigram LM trained on the clean reference
    // (`lm_ref_dir`, normalized like the corpus; absent → the corpus's
    // own 20% hash sample, the declared-query posture) and drop the
    // bottom `lm_ref_drop_q` quantile. `lm_ref_min_bigram` is the
    // count-pruning valve for a big reference's vocab²-shaped bigram
    // relation (SCALING.md r19 §4). Placed with the web-scale
    // pre-filters: everything downstream (substr cuts, dedup shingles,
    // mixtures) runs on the perplexity-gated corpus. GATE CONTRACT:
    // docs too short to score (< 2 tokens — no bigram) never pass,
    // whatever the quantile; an unscorable doc has no perplexity to
    // judge and a CCNet filter ships only what the reference LM vouches
    // for. (With the default min_tokens they would drop later anyway.)
    val docsG = cfg.lmRefDropQ match {
      case Some(q) =>
        // the gate consumes docsG0 three times (self-reference sample,
        // scoring side, the keep join) — pinned, or the upstream
        // c4/gopher kernels re-execute per consumer, breaking the
        // one-scan invariant the gopherKeep note above measures
        val pinned = Materialize(docsG0, cfg.checkpointDir)
        // the reference frame: the external clean corpus, or the 20%
        // hash self-sample (`keyCol` = the stratum column in the
        // per-language form, the doc id otherwise — both arms share
        // this loading/normalization rule so it cannot drift)
        def ref(keyCol: String): DataFrame = cfg.lmRefDir
          .map(d => normalized(spark.read.parquet(d)
            .select(col(keyCol), col("text")), cfg))
          .getOrElse(pinned.filter(Corpus.hashBucket(col("doc_id")) < 20)
            .select(col(keyCol), col("text")))
        val keepIds = cfg.lmRefStrataCol match {
          // CCNet's actual filter shape: one reference LM per stratum
          // (per LANGUAGE — `lm_ref_strata_col = "lang"`) and the drop
          // quantile applied per stratum, so minority languages are
          // neither judged under majority-language transition statistics
          // nor consumed by one noisy language's global tail. Docs whose
          // stratum has no reference rows drop (no model to vouch —
          // lmRefScoreStratified's inner totals join).
          case Some(sc) =>
            Corpus.dropBottomQuantileByStratum(
              Corpus.lmRefScoreStratified(ref(sc),
                pinned.select(col("doc_id"), col(sc), col("text")), sc,
                cfg.lmRefLambda, minBigramCount = cfg.lmRefMinBigram),
              "lm_ref", q, sc, checkpointDir = cfg.checkpointDir)
          case None =>
            Corpus.dropBottomQuantile(
              Corpus.lmRefScore(ref("doc_id"),
                pinned.select(col("doc_id"), col("text")), cfg.lmRefLambda,
                minBigramCount = cfg.lmRefMinBigram),
              "lm_ref", q, checkpointDir = cfg.checkpointDir)
        }
        pinned.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
      case None => docsG0
    }
    // optional ExactSubstr stage (Lee et al. 2022) BEFORE the document-
    // level cleaning: duplicated substr_window-token passages are cut
    // from all but their first occurrence, so cleanCorpus's min_tokens
    // gate judges the POST-CUT length (a doc reduced to boilerplate
    // crumbs drops out), its near-dup dedup sees cut text, and chunk
    // budgets never pay for passages the corpus already ships once.
    // One-shot by design — see the operator's idempotency note.
    val docs = cfg.substrWindow match {
      // preserveCase: matching is case-insensitive (the family's lowered
      // windows) but the SHIPPED text keeps its casing — the default
      // lowered emission exists for the oracle family, and silently
      // lowercasing a whole training corpus would be destructive
      case Some(w) =>
        graft.operators.Dedup.dedupSubstrings(docsG, n = w, preserveCase = true)
      case None => docsG
    }
    // eval docs get the SAME normalization: decontamination shingles must
    // compare like with like, or a copy differing only typographically
    // (curly quotes, CRLF) slips under eval_min_overlap
    val evalDocs = cfg.evalDir.map(d =>
      normalized(spark.read.parquet(d).select(col("doc_id"), col("text")), cfg))
    val cleaned0 = Corpus.cleanCorpus(docs, cfg.lang, cfg.minTokens,
      cfg.maxDigitRatio, cfg.ngram, cfg.minJaccard, cfg.maxDf, "text",
      "doc_id", cfg.checkpointDir, evalDocs, cfg.evalMinOverlap, cfg.redact,
      cfg.strata, cfg.softDedup)
    // without redaction cleanCorpus returns ids only — join the text back
    // (semi-shaped inner join on the id; AQE broadcasts the smaller side)
    val cleaned = Materialize(
      if (cfg.redact) cleaned0
      else cleaned0.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
      cfg.checkpointDir)

    // optional SELECTION stage between cleaning and balancing: keep the
    // k most target-like docs (DSIR importance resampling against a
    // target column value) or a deterministic weighted draw (A-Res on a
    // weight column) — the data-selection layer as a job stage. The keep
    // set is k ids → the semi-join broadcasts it.
    val selected = (cfg.dsirTopK, cfg.sampleK) match {
      case (Some(k), _) =>
        val tc = cfg.dsirTargetCol
        val withT = if (cleaned.columns.contains(tc)) cleaned
          else cleaned.join(docs.select(col("doc_id"), col(tc)), Seq("doc_id"))
        // checkpointDir threads through: above TopKMergeCap the valve
        // pins the scored relation, and a corpus-sized pin on a long
        // cluster run must be a RELIABLE checkpoint, not a localCheckpoint
        // whose blocks die with an executor
        val keep = Selection.dsirTopK(withT,
          col(tc) === lit(cfg.dsirTargetValue.get), k,
          checkpointDir = cfg.checkpointDir).select(col("doc_id"))
        cleaned.join(keep, Seq("doc_id"), "left_semi")
      case (None, Some(k)) =>
        val wc = cfg.sampleWeightCol
        val withW = if (cleaned.columns.contains(wc)) cleaned
          else cleaned.join(docs.select(col("doc_id"), col(wc)), Seq("doc_id"))
        cleaned.join(
          Selection.sampleWeighted(withW, col(wc), k,
            checkpointDir = cfg.checkpointDir).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      case _ => cleaned
    }

    // optional domain cap BEFORE the mixture: an exact ≤k docs per
    // stratum bounds any single domain's contribution, so the mixture's
    // per-source totals are computed over the already-balanced set. When
    // the mixture keys on the SAME column, it is carried through instead
    // of re-joined (one corpus-sized join, not two).
    val capped = cfg.capPerStratum match {
      case Some(k) =>
        val cc = cfg.capStrataCol
        // a temperature mixture (mixAlpha) needs the strata column just as
        // much as an explicit-weights one — dropping it here would force
        // the mixture stage to re-join the corpus it was carried to avoid
        val keepCol = (cfg.mixWeights.nonEmpty || cfg.mixAlpha.nonEmpty) &&
          cfg.mixStrataCol == cc
        val out = Corpus.capPerStratum(
          selected.join(docs.select(col("doc_id"), col(cc)), Seq("doc_id")), cc, k)
        if (keepCol) out else out.drop(cc)
      case None => selected
    }

    // optional mixture stage: per-stratum weights + char budget over the
    // CLEANED text (strata joined back from the source table via the
    // DEDICATED mix_strata_col — never the rebalance column, whose values
    // a source-keyed weight map would silently miss; the unit is
    // length(text) so redaction-shortened text counts as shipped). The
    // budget spans all splits — scale by 1/trainPct for train-only units.
    val mixed0 = if (cfg.mixWeights.isEmpty && cfg.mixAlpha.isEmpty) capped else {
      val sc = cfg.mixStrataCol
      val withStrata = (if (capped.columns.contains(sc)) capped
        else capped.join(docs.select(col("doc_id"), col(sc)), Seq("doc_id")))
        .withColumn("__units", length(col("text")).cast("long"))
      // explicit weights, or temperature-derived from the capped corpus
      // itself (w_s ∝ units_s^α — the mC4/XLM-R scheme). The derived map
      // is #strata rows: a bounded driver pull, same posture as
      // mixByBudget's own totals collect.
      val weights = cfg.mixAlpha match {
        case Some(a) => Corpus.temperatureWeights(withStrata, a, sc, "__units")
          .select(col("source"), col("weight")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        case None => cfg.mixWeights
      }
      val m = if (cfg.mixRepeats)
        Corpus.mixWithRepeats(withStrata, weights, cfg.mixBudget, sc, "__units")
      else
        Corpus.mixByBudget(withStrata, weights, cfg.mixBudget, sc, "__units")
      m.drop("__units", sc)
    }

    // upsampling duplicates doc_id, so every keyed downstream — shard
    // sort keys, chunk ids, packing order — keys on the per-copy
    // identity `copy_uid` instead; copy_idx rides into the shards so a
    // reader can distinguish (or cap) epochs
    val (mixed, shipId) =
      if (cfg.mixRepeats)
        (mixed0.withColumn("copy_uid",
          concat_ws("#", col("doc_id"), col("copy_idx"))), "copy_uid")
      else (mixed0, "doc_id")

    Corpus.writeShards(mixed, shardsDir(outRoot), cfg.nShards, shipId)
    // the marker carries the cleaning yield: on resume the clean frame
    // exists in no written output (mixtures/caps filtered it), and
    // recomputing it would re-run the cleaning cascade the marker skips
    val cd = cleaned.count()
    markStage("shards", cd.toString)
    cd
    }
    // every later stage reads the WRITTEN shards — one code path whether
    // this run produced them or a crashed prior run did, which makes
    // resume == single-shot structural rather than incidental
    val shardsBack = spark.read.parquet(shardsDir(outRoot))
    val shipId = if (cfg.mixRepeats) "copy_uid" else "doc_id"
    val train = shardsBack.filter(col("split") === "train")
    // chunk + pack budgets count merged-BPE tokens when a merges table is
    // configured — packing budgets that drift from the real tokenizer are
    // the #1 practical gap for a training-data user. The merges table is
    // driver-local kilobytes riding in the plan (a codegen reference
    // object); chunk boundaries fall at BPE budgets via the cost-aware
    // chunker, and packSequences packs on the same BPE n_tokens. It comes
    // from a file (`bpe_merges_path`, an existing tokenizer) or is
    // TRAINED on the shipped train split itself (`bpe_train_merges`:
    // Sennrich merge learning over the word histogram) and saved next to
    // the outputs so the trainer's tokenizer can load what the budgets
    // were counted with.
    // on resume, a previously-saved table reloads from merges.txt (the
    // GPT-2 format round-trips exactly) instead of re-training — the
    // budgets and ids must be counted with the table the crashed run
    // already shipped
    def savedOrElse(make: => Seq[(String, String)]): Seq[(String, String)] =
      if (stageDone("merges"))
        graft.functions.TextFunctions.loadBpeMerges(mergesPath(outRoot))
      else { val m = saveMerges(spark, outRoot, make); markStage("merges"); m }
    val mergesOpt: Option[Seq[(String, String)]] = cfg.bpeMergesPath
      .map(graft.functions.TextFunctions.loadBpeMerges)
      .orElse(cfg.bpeTrainMerges.map(n => savedOrElse(
        graft.functions.TextFunctions.trainBpeMerges(train, n, "text"))))
      // emit_ids promotes id emission to a first-class switch: with no
      // tokenizer configured it rides the canonical built-in merges table
      // (the same vocab the pack_emit_ids query serves)
      .orElse(if (cfg.emitIds)
        Some(savedOrElse(graft.functions.TextFunctions.BpeMerges)) else None)
    if (!stageDone("packed")) {
    // chunks feed TWO consumers (the packer and the chunk_text join) —
    // materialized so the regex-heavy chunking pass runs once, not twice
    val chunks = Materialize(chunker(cfg, mergesOpt, shipId)(train), cfg.checkpointDir)
    val packed = Corpus.packSequences(chunks, cfg.chunkBudget.toLong,
      cfg.packGroups, "n_tokens", "chunk_id")
    Writes(packedRows(packed, chunks, mergesOpt)
      .repartition(cfg.packGroups, col("grp"))
      .sortWithinPartitions(col("grp"), col("bin"), col("chunk_id")))
      .mode("overwrite").partitionBy("grp").parquet(packedDir(outRoot))
    markStage("packed")
    }
    val packedBack = spark.read.parquet(packedDir(outRoot))

    // terminal emission stage: the loader-facing manifest of the packed
    // layout — one row per (grp, bin) with member count, token total and
    // each member's `id@offset` start inside the bin (negative offset =
    // straddler begun in the previous bin). Aggregated over the
    // READ-BACK packed/ relation (it carries grp/bin/running/n_tokens),
    // so the packer's shuffle+window pass is never re-executed; lets a
    // loader mask attention at document boundaries without re-deriving
    // the layout from the packed rows.
    if (cfg.emitBoundaries && !stageDone("boundaries")) {
      Writes(Corpus.packBoundaries(packedBack, cfg.chunkBudget.toLong,
          "n_tokens", "chunk_id"))
        .mode("overwrite").parquet(boundariesDir(outRoot))
      markStage("boundaries")
    }
    // shipped count from the written shards (the cleaning yield came from
    // the shards stage marker — see above)
    val mixedDocs = shardsBack.count()
    val shardsWritten = shardsBack.select(col("shard")).distinct().count()
    val Array(chunkCount, binCount) = packedBack
      .agg(count(lit(1)), count_distinct(struct(col("grp"), col("bin"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray

    val result = Result(cleanDocs, mixedDocs, chunkCount, binCount, shardsWritten)
    writeManifest(spark, outRoot, cfg, result, idsEmitted = mergesOpt.nonEmpty)
    result
  }

  // ------------------------------------------------------------------
  // Incremental form — the text-side micro-batch loop ([[EmbeddingCurationJob]]
  // is the embedding-side sibling whose write-ahead/marker-gated protocol
  // this mirrors via [[IncProtocol]]).
  // ------------------------------------------------------------------

  /** Per-stage yields of one increment: rows delivered, surviving the
    * per-row + perplexity + substring + quality gates (= entering exact
    * dedup), shipped to the shards (post dedup/decontamination/
    * rebalance), and the increment's train chunks / touched bins. */
  final case class IncResult(batchDocs: Long, gatedDocs: Long,
      cleanDocs: Long, trainChunks: Long, trainBins: Long)

  def exactRegistryDir(root: String) = s"$root/registries/exact"
  def shingleRegistryDir(root: String) = s"$root/registries/shingles"
  def substrRegistryDir(root: String) = s"$root/registries/substr"
  def lmRefModelDir(root: String) = s"$root/lm_ref/model"
  def lmRefThresholdDir(root: String) = s"$root/lm_ref/threshold"
  def watermarkDir(root: String) = s"$root/watermark"

  /** The incremental form's increment protocol: its ledger columns (the
    * [[IncResult]] fields, in order) and its append-grown relations. */
  private val Inc = new IncProtocol[IncResult](
    Seq("batch_docs", "gated", "clean", "train_chunks", "train_bins"),
    { case Seq(a, b, c, d, e) => IncResult(a, b, c, d, e) },
    root => Seq(
      // the shards and packed/ read contracts include within-partition order
      IncProtocol.Relation(shardsDir(root), Seq("shard"), Seq("sort_key")),
      IncProtocol.Relation(packedDir(root), Seq("grp"), Seq("bin", "chunk_id")),
      IncProtocol.Relation(exactRegistryDir(root)),
      IncProtocol.Relation(shingleRegistryDir(root)),
      IncProtocol.Relation(substrRegistryDir(root)),
      IncProtocol.Relation(lmRefThresholdDir(root))))

  /** The config subset the incremental form supports. Everything here is
    * either per-row (gates, redaction, hash splits/rebalance) or has an
    * exact registry-incremental form (ExactSubstr windows, exact-dup
    * hashes, Jaccard shingle sets, pack state); the rest are corpus-
    * GLOBAL statistics that a batch cannot see — they belong to the
    * batch job, and silently approximating them per batch would ship a
    * corpus the config didn't describe. */
  private def requireIncrementable(cfg: TrainingSetConfig): Unit = {
    def no(ok: Boolean, what: String, why: String): Unit =
      require(ok, s"runIncrement does not support $what: $why — run the " +
        "batch job (TrainingSetJob.run), or drop the field from the " +
        "incremental config")
    no(cfg.mixWeights.isEmpty && cfg.mixAlpha.isEmpty, "mixtures",
      "per-stratum budgets are corpus-global totals")
    no(cfg.capPerStratum.isEmpty, "cap_per_stratum",
      "an exact global cap cannot be enforced per batch without unshipping")
    no(cfg.dsirTopK.isEmpty && cfg.sampleK.isEmpty,
      "selection (dsir_top_k / sample_k)",
      "global top-k and fixed-size draws compete across the whole corpus")
    no(!cfg.softDedup, "soft_dedup",
      "cluster weights are global cluster sizes")
    no(cfg.maxDf.isEmpty, "max_df",
      "the shingle df cap is a union-wide statistic")
    no(cfg.bpeTrainMerges.isEmpty, "bpe_train_merges",
      "the merge table is trained on the full train split; pass " +
        "bpe_merges_path (a fixed tokenizer) or emit_ids instead")
    no(cfg.lmRefDropQ.isEmpty || cfg.lmRefDir.nonEmpty,
      "lm_ref self-reference",
      "the 20% self-sample is batch-dependent; incremental gating " +
        "requires an external lm_ref_dir (the model is persisted once, " +
        "and the drop quantile is calibrated on the FIRST increment and " +
        "pinned — the CCNet production posture)")
  }

  /** Maintenance compaction of the incremental job's append-grown
    * relations ([[IncProtocol.compact]]): one file per increment otherwise
    * accumulates in every registry, the shards, the packed layout and the
    * ledger. Shards and packed compact through the SORTED variant (their
    * read contracts include within-partition order); registries and the
    * ledger are plain. Also GCs the write-ahead state of fully-completed
    * increments. Returns relation → (before, after). Run from a
    * maintenance window — never concurrently with an increment (the
    * single-writer contract). */
  def compact(spark: SparkSession, outRoot: String): Map[String, (Long, Long)] =
    Inc.compact(spark, outRoot)

  /** The micro-batch loop as a Structured Streaming SINK
    * ([[IncProtocol.runStream]]) — each delivered batch of document rows
    * runs one [[runIncrement]]; the content-keyed write-ahead protocol
    * absorbs at-least-once redelivery (replayed verdicts, marker-gated
    * appends — exactly-once curation EFFECT). Batches must respect the
    * append-only id discipline (see [[runIncrement]]); a source that
    * replays OLD ids fails the watermark check loudly rather than
    * silently re-adjudicating races the corpus already settled. */
  def runStream(spark: SparkSession, stream: DataFrame, outRoot: String,
      checkpoint: String, cfg: TrainingSetConfig = TrainingSetConfig(),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    Inc.runStream(spark, stream, outRoot, checkpoint, trigger, cfg.compactEvery)(
      runIncrement(spark, _, outRoot, cfg))

  /**
   * Run ONE increment of documents through the full text pipeline
   * against the job's persisted registries and models, and append its
   * outputs — the incremental form of [[run]]: what shipped once stays
   * shipped, and every later batch's races (substring cuts, exact-dup
   * keeps, near-dup survivors, pack bins) are adjudicated against
   * everything that came before.
   *
   * Stage semantics per increment, stated exactly:
   *  - markup-strip / normalize / C4 / Gopher / quality / langid /
   *    redaction / stratified rebalance / split: PER-ROW — the loop
   *    equals the batch job trivially.
   *  - lm_ref gate: the model is folded ONCE from the external
   *    `lm_ref_dir` reference and persisted; the drop threshold is
   *    calibrated from the FIRST increment with scorable docs and
   *    PINNED (a degenerate first batch pins nothing rather than a
   *    null threshold). Under `lm_ref_strata_col` calibration is LAZY
   *    PER STRATUM: each stratum pins its threshold on the first
   *    increment where it appears with scorable docs — a language
   *    arriving after the calibration increment calibrates then,
   *    instead of being dropped forever. This is the one DECLARED
   *    DIVERGENCE from the batch job, which re-computes the quantile
   *    over the whole corpus: a pinned gate is what CCNet production
   *    runs, and an ever-moving per-batch quantile would make
   *    shipped/dropped depend on batch boundaries.
   *  - ExactSubstr cut: [[graft.operators.Dedup.dedupSubstringsIncremental]]
   *    vs the window registry — EXACTLY the fused cut over
   *    (corpus ∪ batch) restricted to the batch (its spec-pinned
   *    contract); the registry then grows with every gate survivor's
   *    original windows.
   *  - exact dedup: content hashes vs the hash registry — a batch doc
   *    whose (post-cut) text hash is registered drops (the corpus copy
   *    has the smaller id); within the batch, min-id per hash. Equals
   *    fused-over-union restricted to the batch under the id
   *    discipline.
   *  - near-dup: batch-internal [[graft.operators.Dedup.ngramJaccardPairs]]
   *    ∪ cross edges vs the shingle registry
   *    ([[graft.operators.Dedup.ngramJaccardPairsAgainst]]), connected
   *    components over REAL ids — a batch doc survives iff it is the
   *    minimum of its component, which (ids ascending, no df cap)
   *    equals the fused verdict over the union restricted to the
   *    batch: touching any corpus doc, directly or transitively, means
   *    a smaller id is in the component. The registry then grows with
   *    every exact-kept member (the every-member contract — a dropped
   *    near-dup can still be the witness that drops a later copy).
   *  - packing: [[graft.operators.Corpus.packSequencesInc]] against the
   *    state folded from the written `packed/` relation — bit-identical
   *    to fused packing of the union (its oracle contract).
   *
   * APPEND-ONLY ID DISCIPLINE (the precondition every registry op
   * shares): each batch's ids must sort strictly after every previously
   * ingested id — in the id column's native order (dedup races) AND in
   * string order (the packer windows over string chunk ids derived from
   * them). Both are enforced against the persisted watermark; a
   * violating batch fails loudly before any state mutates.
   *
   * RETRY-SAFE via the [[IncProtocol]] conventions: the batch pins
   * under a content key; every verdict that depends on mutable state
   * (substring cut, exact keeps, near-dup survivors, the increment's
   * packed rows) is write-ahead under `inc_state/<key>/` BEFORE the
   * state it depends on grows; every append is marker-gated; a
   * fully-applied increment short-circuits to its ledger row. The
   * job-level CONFIG PIN is stricter than [[EmbeddingCurationJob]]'s
   * per-verdict claims: an incremental job's semantic config is
   * IMMUTABLE for its lifetime (the registries encode the window size,
   * shingle width, thresholds and pack geometry — re-parameterizing
   * mid-job would adjudicate new batches under statistics the old
   * config built), so any change fails loudly at entry.
   */
  def runIncrement(spark: SparkSession, batch: DataFrame, outRoot: String,
      cfg: TrainingSetConfig = TrainingSetConfig()): IncResult = {
    requireIncrementable(cfg)
    // job-level config pin (see scaladoc): first increment stamps the
    // semantic config identity; every later one must match it
    locally {
      val pin = s"$outRoot/_inc_config"
      val rk = runKey("__incremental__", cfg)
      if (!IncProtocol.exists(spark, pin)) writeTextFile(spark, pin, rk)
      else {
        val prev = Writes.readText(spark, pin).trim
        require(prev == rk,
          s"incremental config changed under $outRoot (pinned $prev, got " +
            s"$rk): the job's registries were built under the pinned " +
            "config — finish this job under it, or start a new outRoot")
      }
    }
    Inc.requireNoCrashedSwap(spark, outRoot)
    val idc = col("doc_id")
    // pin the increment once — every stage, registry append and count
    // below reads these blocks, not a re-executed source lineage; every
    // pin is released when the increment ends (IncProtocol.once)
    val b = Materialize(batch, cfg.checkpointDir)
    Inc.once(spark, outRoot, b, "doc_id", "text") { inc =>
    val nBatch = b.count()
    val stateDir = inc.stateDir
    // watermark check — skipped when this increment already left a trace
    // (its first run passed the check, and the watermark may since
    // include the batch itself)
    val isRetry = IncProtocol.exists(spark, stateDir) ||
      Seq(substrRegistryDir(outRoot), exactRegistryDir(outRoot),
        shingleRegistryDir(outRoot), shardsDir(outRoot), packedDir(outRoot))
        .exists(inc.appliedTo)
    if (!isRetry) require(
      !IncProtocol.exists(spark, watermarkDir(outRoot)) ||
        inc.completed(watermarkDir(outRoot)),
      s"watermark at ${watermarkDir(outRoot)} is incomplete — a prior " +
        "increment crashed mid-write; redeliver/retry that increment " +
        "(which rewrites the watermark) before ingesting new batches")
    if (!isRetry && inc.completed(watermarkDir(outRoot))) {
      val wm = broadcast(spark.read.parquet(watermarkDir(outRoot)))
      val bad = b.crossJoin(wm)
        .filter(idc <= col("max_id") ||
          idc.cast("string") <= col("max_id_str")).count()
      require(bad == 0,
        s"append-only id discipline violated: $bad batch ids sort at or " +
          "below the ingested watermark (native or string order) — such " +
          "ids would win dedup races the corpus already settled and " +
          "interleave pack windows; re-key the batch")
    }

    // ---- per-row gates (the batch job's own front) ----
    val docsG0 = perRowFront(b, cfg)

    // ---- lm_ref gate: persisted model + pinned threshold(s) ----
    val docsG = cfg.lmRefDropQ match {
      case Some(q) =>
        val pinned = inc.pin(docsG0, cfg.checkpointDir)
        val md = lmRefModelDir(outRoot)
        val scCol = cfg.lmRefStrataCol
        if (!inc.completed(s"$md/uni")) {
          val refRaw = spark.read.parquet(cfg.lmRefDir.get)
          val (cbg, cw, uni) = scCol match {
            case Some(sc) => Corpus.lmRefStratifiedModelRelations(
              normalized(refRaw.select(col(sc), col("text")), cfg), sc)
            case None => Corpus.lmRefModelRelations(
              normalized(refRaw.select(col("text")), cfg))
          }
          Writes(cbg).mode("overwrite").parquet(s"$md/cbg")
          Writes(cw).mode("overwrite").parquet(s"$md/cw")
          Writes(uni).mode("overwrite").parquet(s"$md/uni")
        }
        // cw stays a persisted artifact (one model serves every floor) but
        // the serve no longer reads it: c(w1,·) folds into the cbg
        // broadcast as a model-side window (lmRefScoreFromModel)
        val cbg = spark.read.parquet(s"$md/cbg")
        val uni = spark.read.parquet(s"$md/uni")
        // ONE scoring pass per increment: the threshold calibration and
        // the keep filter both read the materialized scores
        // (dropBottomQuantile's documented one-pass contract)
        val scored = inc.pin(scCol match {
          case Some(sc) => Corpus.lmRefScoreStratifiedFromModel(
            pinned.select(col("doc_id"), col(sc), col("text")), cbg, uni,
            sc, cfg.lmRefLambda, minBigramCount = cfg.lmRefMinBigram)
          case None => Corpus.lmRefScoreFromModel(
            pinned.select(col("doc_id"), col("text")), cbg, uni,
            cfg.lmRefLambda, minBigramCount = cfg.lmRefMinBigram)
        }, cfg.checkpointDir)
        val td = lmRefThresholdDir(outRoot)
        val keep = scCol match {
          case Some(sc) =>
            // LAZY per-stratum calibration: each stratum pins its
            // threshold on the FIRST increment where it appears with
            // scorable docs — a language that first arrives after the
            // calibration increment calibrates then, instead of being
            // silently inner-joined out of the corpus forever. The
            // append is marker-gated per increment content (a retry's
            // thresholds are the ones its first attempt pinned), and
            // each stratum's row is written exactly once (left_anti
            // against the existing table).
            inc.appendOnce(td) { mode =>
              val fresh0 = scored.groupBy(col(sc))
                .agg(percentile(col("lm_ref"), lit(q)).as("__thr"))
              val fresh = if (mode == "append")
                fresh0.join(spark.read.parquet(td).select(col(sc)),
                  Seq(sc), "left_anti")
              else fresh0
              Writes(fresh).mode(mode).parquet(td)
            }
            scored.join(broadcast(spark.read.parquet(td)), Seq(sc))
              .filter(col("lm_ref") >= col("__thr")).select(col("doc_id"))
          case None =>
            // global threshold: calibrated on the first increment that
            // actually scored docs — a degenerate first batch (nothing
            // scorable) must not pin a null threshold that would then
            // silently drop every later document
            if (!inc.completed(td)) {
              val t = scored.agg(percentile(col("lm_ref"), lit(q)).as("__thr"))
              if (t.head().get(0) != null)
                Writes(t).mode("overwrite").parquet(td)
            }
            if (inc.completed(td))
              scored.crossJoin(broadcast(spark.read.parquet(td)))
                .filter(col("lm_ref") >= col("__thr")).select(col("doc_id"))
            // no threshold yet == nothing scorable yet: unscorable docs
            // never pass a CCNet gate (the batch job's same contract)
            else scored.limit(0).select(col("doc_id"))
        }
        pinned.join(keep, Seq("doc_id"), "left_semi")
      case None => docsG0
    }

    // ---- ExactSubstr cut vs the window registry (write-ahead) ----
    val preSubstr = inc.pin(docsG, cfg.checkpointDir)
    val docs = cfg.substrWindow match {
      case Some(w) =>
        val reg = substrRegistryDir(outRoot)
        val cutPath = s"$stateDir/substr_cut"
        if (!inc.completed(cutPath)) {
          val cut =
            if (inc.completed(reg)) Dedup.dedupSubstringsIncremental(preSubstr,
              spark.read.parquet(reg), n = w, preserveCase = true)
            else Dedup.dedupSubstrings(preSubstr, n = w, preserveCase = true)
          Writes(cut).mode("overwrite").parquet(cutPath)
        }
        inc.appendOnce(reg) { mode =>
          // the batch's original windows, anti-joined against the
          // registry first (the substrRegistry contract: one row per
          // hash EVER, or recurring boilerplate fans the probe k-fold)
          val fresh = Dedup.substrRegistry(preSubstr, n = w)
          val toAdd = if (mode == "append")
            fresh.join(spark.read.parquet(reg), Seq("w"), "left_anti")
          else fresh
          Writes(toAdd).mode(mode).parquet(reg)
        }
        spark.read.parquet(cutPath)
      case None => preSubstr
    }

    // ---- quality + langid gates (cleanCorpus's per-row head) ----
    val qc = graft.functions.TextFunctions.qualityColumns(col("text")).toMap
    val gated = inc.pin(docs.filter(qc("n_tokens") >= cfg.minTokens &&
      qc("digit_ratio") <= cfg.maxDigitRatio &&
      graft.functions.TextFunctions.langId(col("text")) === cfg.lang),
      cfg.checkpointDir)
    val nGated = gated.count()

    // ---- exact dedup vs the hash registry (write-ahead) ----
    val exactReg = exactRegistryDir(outRoot)
    val exactIdsPath = s"$stateDir/exact_ids"
    if (!inc.completed(exactIdsPath)) {
      val inBatch = Dedup.exact(gated)  // (text_hash, doc_id=min, n_dups)
      val keep = if (inc.completed(exactReg))
        inBatch.join(spark.read.parquet(exactReg), Seq("text_hash"), "left_anti")
      else inBatch
      Writes(keep.select(col("doc_id"), col("text_hash")))
        .mode("overwrite").parquet(exactIdsPath)
    }
    val exactKept = inc.pin(
      gated.join(spark.read.parquet(exactIdsPath).select(idc),
        Seq("doc_id"), "left_semi"), cfg.checkpointDir)
    inc.appendOnce(exactReg) { mode =>
      // the kept docs' hashes ARE the batch's registry-fresh hashes
      // (dropped batch docs share a keeper's hash or a registered one)
      Writes(spark.read.parquet(exactIdsPath).select(col("text_hash")))
        .mode(mode).parquet(exactReg)
    }

    // ---- near-dup vs the shingle registry (write-ahead) ----
    val shReg = shingleRegistryDir(outRoot)
    val survIdsPath = s"$stateDir/jaccard_ids"
    if (!inc.completed(survIdsPath)) {
      val internal = Dedup.ngramJaccardPairs(exactKept, n = cfg.ngram,
        minJaccard = cfg.minJaccard, checkpointDir = cfg.checkpointDir)
      val pairs = if (inc.completed(shReg))
        internal.unionByName(Dedup.ngramJaccardPairsAgainst(exactKept,
          spark.read.parquet(shReg), n = cfg.ngram,
          minJaccard = cfg.minJaccard))
      else internal
      Writes(Dedup.dedupByClusters(exactKept.select(idc), pairs,
          checkpointDir = cfg.checkpointDir))
        .mode("overwrite").parquet(survIdsPath)
    }
    val survivors = exactKept.join(spark.read.parquet(survIdsPath),
      Seq("doc_id"), "left_semi")
    inc.appendOnce(shReg) { mode =>
      // every exact-kept member registers (the every-member contract)
      Writes(Dedup.shingleRelation(exactKept, n = cfg.ngram))
        .mode(mode).parquet(shReg)
    }

    // ---- per-row tail: decontaminate → redact → rebalance → split ----
    val decontaminated = cfg.evalDir match {
      case Some(d) =>
        val ev = normalized(spark.read.parquet(d)
          .select(col("doc_id"), col("text")), cfg)
        Corpus.decontaminate(survivors, ev, cfg.ngram, cfg.evalMinOverlap)
      case None => survivors
    }
    val redacted = if (cfg.redact) decontaminated.withColumn("text",
      graft.functions.TextFunctions.redactPii(col("text")))
    else decontaminated
    val balanced = cfg.strata.fold(redacted) { case (sc, rates, dflt) =>
      Corpus.sampleStratified(redacted, sc, rates, dflt)
    }
    val clean = inc.pin(Corpus.splitAssign(balanced)
      .select(col("doc_id"), col("bucket"), col("split"), col("text")),
      cfg.checkpointDir)
    val nClean = clean.count()

    // ---- shards append (skipped when the increment shipped nothing —
    // an empty partitionBy write leaves a schema-less directory) ----
    inc.appendOnce(shardsDir(outRoot)) { mode =>
      if (nClean > 0)
        Corpus.writeShards(clean, shardsDir(outRoot), cfg.nShards, mode = mode)
    }

    // ---- merges (fixed tokenizer or the canonical table — saved once) ----
    val mergesOpt: Option[Seq[(String, String)]] = cfg.bpeMergesPath
      .map(graft.functions.TextFunctions.loadBpeMerges)
      .orElse(if (cfg.emitIds) Some {
        if (!IncProtocol.exists(spark, mergesPath(outRoot)))
          saveMerges(spark, outRoot, graft.functions.TextFunctions.BpeMerges)
        else graft.functions.TextFunctions.loadBpeMerges(mergesPath(outRoot))
      } else None)

    // ---- chunk + incremental pack of the increment's train split ----
    val train = clean.filter(col("split") === "train")
    // An increment with ZERO train chunks writes nothing: an empty
    // partitionBy write leaves a schema-less directory that every later
    // packState/boundaries read would fail to infer — so emptiness is
    // detected up front and the whole pack stage (verdict + append)
    // skips. Deterministic on retry (chunks derive from the pinned
    // clean set), so skipping needs no write-ahead record.
    val packedRowsPath = s"$stateDir/packed_rows"
    val hasTrainChunks = inc.completed(packedRowsPath) || {
      val chunks = inc.pin(chunker(cfg, mergesOpt, "doc_id")(train),
        cfg.checkpointDir)
      if (chunks.limit(1).count() == 0) false
      else {
        val packed =
          if (inc.completed(packedDir(outRoot)))
            Corpus.packSequencesInc(chunks,
              Corpus.packState(spark.read.parquet(packedDir(outRoot))),
              cfg.chunkBudget.toLong, cfg.packGroups, "n_tokens", "chunk_id")
          else Corpus.packSequences(chunks, cfg.chunkBudget.toLong,
            cfg.packGroups, "n_tokens", "chunk_id")
        Writes(packedRows(packed, chunks, mergesOpt))
          .mode("overwrite").parquet(packedRowsPath)
        true
      }
    }
    val (nChunks, nBins) = if (!hasTrainChunks) (0L, 0L) else {
      val rows = spark.read.parquet(packedRowsPath)
      inc.appendOnce(packedDir(outRoot)) { mode =>
        Writes(rows
          .repartition(cfg.packGroups, col("grp"))
          .sortWithinPartitions(col("grp"), col("bin"), col("chunk_id")))
          .mode(mode).partitionBy("grp").parquet(packedDir(outRoot))
      }
      val Array(c, bn) = rows
        .agg(count(lit(1)), count_distinct(struct(col("grp"), col("bin"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      (c, bn)
    }

    // ---- boundaries: recompute over the WRITTEN packed relation (one
    // aggregation scan — bins straddle increments, so per-increment
    // boundary rows cannot compose; guarded on the relation actually
    // having committed data) ----
    if (cfg.emitBoundaries && inc.completed(packedDir(outRoot))) {
      Writes(Corpus.packBoundaries(spark.read.parquet(packedDir(outRoot)),
          cfg.chunkBudget.toLong, "n_tokens", "chunk_id"))
        .mode("overwrite").parquet(boundariesDir(outRoot))
    }

    // ---- watermark, then the ledger (IncProtocol.once: its marker is
    // the LAST write) ----
    Writes(b.agg(max(idc).as("max_id"), max(idc.cast("string")).as("max_id_str"))
      .coalesce(1)).mode("overwrite").parquet(watermarkDir(outRoot))
    IncResult(nBatch, nGated, nClean, nChunks, nBins)
    }
  }

  private def writeManifest(spark: SparkSession, root: String,
      cfg: TrainingSetConfig, r: Result, idsEmitted: Boolean): Unit = {
    // Jackson, not string concatenation: config strings (lang, strata
    // column) are user input and must be escaped to stay parseable
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("clean_docs", r.cleanDocs)
    node.put("mixed_docs", r.mixedDocs)
    node.put("train_chunks", r.trainChunks)
    node.put("train_bins", r.trainBins)
    node.put("shards", r.shardsWritten)
    node.put("lang", cfg.lang)
    node.put("min_tokens", cfg.minTokens)
    node.put("chunk_budget", cfg.chunkBudget)
    cfg.chunkStride.foreach(st => node.put("chunk_stride", st))
    cfg.dsirTopK.foreach { dk =>
      node.put("dsir_top_k", dk)
      node.put("dsir_target_col", cfg.dsirTargetCol)
      node.put("dsir_target_value", cfg.dsirTargetValue.getOrElse(""))
    }
    cfg.sampleK.foreach { sk =>
      node.put("sample_k", sk)
      node.put("sample_weight_col", cfg.sampleWeightCol)
    }
    cfg.bpeMergesPath.foreach(p => node.put("bpe_merges_path", p))
    cfg.bpeTrainMerges.foreach { n =>
      node.put("bpe_train_merges", n)
      node.put("bpe_merges_file", mergesPath(root))
    }
    // effective emission flags: ids are emitted whenever ANY merges
    // source is in play (configured tokenizer, trained, or emit_ids'
    // canonical default) — the manifest records what actually shipped
    node.put("emit_ids", idsEmitted)
    node.put("emit_boundaries", cfg.emitBoundaries)
    node.put("n_shards", cfg.nShards)
    node.put("redact", cfg.redact)
    node.put("normalize", cfg.normalize)
    node.put("strip_markup", cfg.stripMarkup)
    cfg.capPerStratum.foreach { k =>
      node.put("cap_per_stratum", k)
      node.put("cap_strata_col", cfg.capStrataCol)
    }
    cfg.strataCol.foreach { c =>
      node.put("strata_col", c)
      node.put("strata_default_pct", cfg.strataDefaultPct)
    }
    node.put("c4_clean", cfg.c4Clean)
    node.put("gopher_gate", cfg.gopherGate)
    cfg.lmRefDropQ.foreach { q =>
      node.put("lm_ref_drop_q", q)
      node.put("lm_ref_lambda", cfg.lmRefLambda)
      cfg.lmRefDir.foreach(d => node.put("lm_ref_dir", d))
      cfg.lmRefMinBigram.foreach(m => node.put("lm_ref_min_bigram", m))
      cfg.lmRefStrataCol.foreach(c => node.put("lm_ref_strata_col", c))
    }
    cfg.substrWindow.foreach(w => node.put("substr_window", w))
    if (cfg.mixWeights.nonEmpty || cfg.mixAlpha.nonEmpty) {
      node.put("mix_budget", cfg.mixBudget)
      node.put("mix_repeats", cfg.mixRepeats)
      cfg.mixAlpha.foreach(a => node.put("mix_alpha", a))
      val mw = node.putObject("mix_weights")
      cfg.mixWeights.foreach { case (s, w) => mw.put(s, w) }
    }
    Writes.writeFile(spark, manifestPath(root), mapper.writeValueAsBytes(node))
  }
}
