package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EmbeddingCurationConfig
import graft.operators.{Corpus, Materialize, Selection, Similarity}

/**
 * Config-driven embedding-side curation — the job-level home for the
 * `corpus_curate_semantic` stage family, run as the production
 * MICRO-BATCH loop rather than the one-shot fused statement: each
 * increment probes (and then grows) the job's persisted registries, so
 * what shipped once stays shipped and later batches dedup/compete
 * against everything that came before. [[TrainingSetJob]] is this
 * pipeline's text-side sibling; this job owns the embedding stages the
 * r16 review left without a config entry point.
 *
 * Per increment, in `corpus_curate_semantic`'s declared order (every
 * stage an [[EmbeddingCurationConfig]] switch, each the individually
 * oracle-verified operator):
 *
 *   1. coherence floor  — [[Selection.selectPrototypical]]'s cut
 *      (fused form: per-row, increment-invariant)
 *   2. SemDeDup         — [[Similarity.semanticDedupIncrement]] vs the
 *      job's registry; the registry then grows with EVERY floor-surviving
 *      member (the every-member contract: a removed near-dup can still be
 *      the only ≥τ witness against a later batch)
 *   3. decontamination  — [[Similarity.decontaminateSemantic]] vs the
 *      configured eval set (per-row, increment-invariant)
 *   4. diversity cap    — [[Selection.selectDiverseInc]] vs the job's
 *      selection registry (SHIP-ONCE: registry members are grandfathered,
 *      the batch competes for remaining slots); the registry then grows
 *      with the increment's selections
 *   5. split            — [[Corpus.splitExpr]] over the cell (cluster-
 *      disjoint, [[Selection.splitByCluster]]'s contract)
 *
 * plus, with `grow_layout`, the ANN serving layout over the CURATED
 * corpus: built on the first increment's survivors
 * ([[AnnIndex.buildServingLayout]]), grown retrain-free afterwards
 * ([[AnnIndex.growServingLayout]] — idempotent per increment content).
 *
 * Output layout under `outRoot`:
 *  - `curated/`               — (vec_id, cell, split) per shipped example
 *  - `centroids/`             — the job's pinned centroid model (trained
 *    once, on the FIRST batch via [[Similarity.kmeansSeeds]]; every later
 *    increment assigns under the same model — retraining is a recall
 *    decision, [[Similarity.assignToCells]]' posture)
 *  - `registries/semdedup/`   — every floor survivor, cell-partitioned
 *  - `registries/selection/`  — every shipped (vec_id, cell)
 *  - `layout/`                — the grown ANN serving layout
 *  - `increments/`            — one row of per-stage counts per increment
 *
 * INCREMENT SEMANTICS, stated exactly: stages 1/3/5 are per-row, so the
 * loop equals the fused statement for them; stage 2 equals the fused
 * dedup over (registry ∪ batch) restricted to the batch
 * ([[Similarity.semanticDedupIncrement]]'s spec-pinned contract, which
 * also means registry members always WIN ties against batch members);
 * stage 4 is deliberately NOT the fused selection — ship-once cannot
 * unship a registry member the fused run would have displaced
 * ([[Selection.selectDiverseInc]]'s documented divergence). The job spec
 * pins both sides: the stages that must equal the fused run do, and the
 * ship-once invariants (never breach the cap, never strand a slot) hold
 * across increments.
 */
object EmbeddingCurationJob {

  /** Per-stage yields of one increment: rows entering, after the floor,
    * after dedup, after decontamination, and shipped (post-cap). Stages
    * that are switched off repeat the previous count. */
  final case class Result(batchVecs: Long, floored: Long, deduped: Long,
      decontaminated: Long, curated: Long)

  def curatedDir(root: String) = s"$root/curated"
  def centroidsDir(root: String) = s"$root/centroids"
  def dedupRegistryDir(root: String) = s"$root/registries/semdedup"
  def selectionRegistryDir(root: String) = s"$root/registries/selection"
  def layoutDir(root: String) = s"$root/layout"
  def incrementsDir(root: String) = IncProtocol.incrementsDir(root)

  /** The job's increment protocol: its ledger columns (the [[Result]]
    * fields, in order) and its append-grown relations. */
  private val Inc = new IncProtocol[Result](
    Seq("batch_vecs", "floored", "deduped", "decontaminated", "curated"),
    { case Seq(a, b, c, d, e) => Result(a, b, c, d, e) },
    root => Seq(IncProtocol.Relation(dedupRegistryDir(root), Seq("cell")),
      IncProtocol.Relation(selectionRegistryDir(root)),
      IncProtocol.Relation(curatedDir(root))))

  /** Fingerprint of the config fields that shaped one write-ahead
    * VERDICT (see [[runIncrement]]'s per-stage claims): a retry must
    * replay a persisted verdict only under the parameters that produced
    * it — re-evaluating under new ones is not an option once the
    * registries hold the batch. Per-verdict (not whole-config) so a
    * retry that fixes an UNRELATED field (the retry spec's broken
    * evalDir) still replays stage 2's verdict. */
  private[graft] def cfgFingerprint(fields: Any*): String =
    // Options fold to their content (None stays "None"): the claim must
    // not depend on whether a call site passed the wrapped or unwrapped
    // value — the r19 review caught exactly that skew between two sites
    Keys.md5Hex12(fields.map {
      case Some(x) => String.valueOf(x)
      case x => String.valueOf(x)
    }.mkString("|"))

  /** The job's centroid model: trained on the FIRST batch (deterministic
    * [[Similarity.kmeansSeeds]] — the k lowest-id vectors) and persisted,
    * so every later increment assigns under the identical model — the
    * registries' cell keys stay comparable across the job's lifetime. */
  private def ensureCentroids(spark: SparkSession, batch: DataFrame,
      outRoot: String, nCells: Int, vecCol: String,
      idCol: String): Array[Array[Float]] = {
    import spark.implicits._
    val dir = centroidsDir(outRoot)
    if (!IncProtocol.exists(spark, dir)) {
      val seeds = Similarity.kmeansSeeds(batch, nCells, vecCol, idCol)
      require(seeds.length == nCells,
        s"first batch has only ${seeds.length} vectors for $nCells cells")
      Writes(seeds.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "c").coalesce(1))
        .mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir).orderBy(col("cell")).collect()
      .map(_.getSeq[Float](1).toArray)
  }

  /** The micro-batch loop as a Structured Streaming SINK
    * ([[IncProtocol.runStream]]): each delivered batch of (idCol, vecCol)
    * rows runs one [[runIncrement]], whose content-keyed write-ahead
    * protocol makes the curation EFFECT of at-least-once delivery
    * exactly-once (spec: the stream loop equals the sequential batch loop;
    * the retry spec pins redelivery == never-crashed). `compact_every`
    * compacts the append-grown relations every N applied increments.
    * The FIRST delivered batch trains the job's pinned centroid model
    * ([[ensureCentroids]]) and must carry ≥ nCells vectors.
    * `Trigger.AvailableNow` drains-and-stops; a processing-time trigger
    * tails the source. */
  def runStream(spark: SparkSession, stream: DataFrame, outRoot: String,
      checkpoint: String,
      cfg: EmbeddingCurationConfig = EmbeddingCurationConfig(),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      vecCol: String = "embedding", idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    Inc.runStream(spark, stream, outRoot, checkpoint, trigger, cfg.compactEvery)(
      runIncrement(spark, _, outRoot, cfg, vecCol, idCol))

  /** Maintenance compaction of the job's append-grown relations (the
    * semdedup registry one file per cell; the selection registry, the
    * curated output and the ledger one file each) plus the GC of
    * completed increments' write-ahead state ([[IncProtocol.compact]]).
    * Returns relation → (filesBefore, filesAfter). Run from a maintenance
    * window: never concurrently with an increment. */
  def compact(spark: SparkSession, outRoot: String): Map[String, (Long, Long)] =
    Inc.compact(spark, outRoot)

  /** Run ONE increment through the configured stages; append its
    * curations and grow the registries/layout. See the class doc for the
    * exact increment semantics per stage.
    *
    * RETRY-SAFE: the increment's outputs are recorded under a CONTENT
    * key of the pinned batch ([[AnnIndex.incrementKey]]), and every
    * stage whose verdict depends on mutable job state is write-ahead:
    *  - stage 2's survivor set is persisted (`inc_state/<key>/survivor_ids`)
    *    BEFORE the semdedup registry grows — a retried batch replays the
    *    persisted verdict instead of re-probing a registry that already
    *    contains the batch (which would drop every member as its own
    *    cos=1.0 witness and ship zero rows);
    *  - stage 4's selections are persisted (`inc_state/<key>/selected`)
    *    before the selection registry grows, for the same reason
    *    (ship-once would see the batch already shipped);
    *  - every append (both registries, curated, the manifest) records
    *    the applied increment as a marker file in the target relation
    *    (growServingLayout's appendOnce convention), so a retry skips
    *    completed writes instead of double-appending.
    * A fully-completed increment is therefore a no-op on retry (same
    * counts returned, nothing re-appended); a mid-sequence failure
    * completes only the missing writes. Residual window, stated
    * honestly: a crash BETWEEN an append finishing and its marker
    * creation still double-appends that one relation (transactional
    * table formats close it; parquet appends cannot). */
  def runIncrement(spark: SparkSession, batch: DataFrame, outRoot: String,
      cfg: EmbeddingCurationConfig = EmbeddingCurationConfig(),
      vecCol: String = "embedding", idCol: String = "vec_id"): Result = {
    Inc.requireNoCrashedSwap(spark, outRoot)
    // pin the increment once — every stage, registry write and count
    // below reads these blocks, not a re-executed source lineage
    val b = Materialize(batch.select(col(idCol).cast("long").as(idCol),
      col(vecCol)), cfg.checkpointDir)
    Inc.once(spark, outRoot, b, idCol, vecCol) { inc =>
    val nBatch = b.count()
    val stateDir = inc.stateDir
    val centroids = ensureCentroids(spark, b, outRoot, cfg.nCells,
      vecCol, idCol)
    // Per-VERDICT config guard: a persisted write-ahead verdict replays
    // only under the config fields that produced it. Mismatch with the
    // verdict COMPLETE fails loudly (re-evaluating is impossible — the
    // registries may already hold the batch); mismatch with the verdict
    // incomplete re-claims (nothing was mutated yet: every registry
    // append happens strictly after its verdict's _SUCCESS). Residual
    // window, same class as append-vs-marker: a crash between a verdict
    // completing and its claim file landing lets one changed-config
    // retry through unflagged.
    def claimCfg(tag: String, fp: String, verdictDone: Boolean): Unit = {
      val sd = new Path(stateDir)
      val fs = FileSystem.get(sd.toUri, spark.sparkContext.hadoopConfiguration)
      val prefix = s"_cfg_${tag}_"
      val existing =
        if (fs.exists(sd)) fs.listStatus(sd).map(_.getPath.getName)
          .filter(_.startsWith(prefix)).toSeq
        else { Writes.mkdirs(spark, stateDir); Seq.empty[String] }
      val cur = prefix + fp
      if (!existing.contains(cur)) {
        require(existing.isEmpty || !verdictDone,
          s"retry of increment ${inc.key} under a CHANGED config: the " +
            s"persisted '$tag' verdict was produced under " +
            s"${existing.mkString(",")} but this run is $cur — its " +
            "write-ahead state cannot be re-evaluated (the registries may " +
            "already hold this batch); finish the retry under the original " +
            s"config, or clear $stateDir AND roll back this increment's " +
            "registry appends before re-parameterizing")
        existing.foreach(n => fs.delete(new Path(sd, n), false))
        Writes.writeFile(spark, new Path(sd, cur).toString, Array.emptyByteArray,
          overwrite = false)
      }
    }

    // 1. coherence floor (per-row and model-pinned — deterministic on
    // retry, no write-ahead needed)
    val floored = cfg.minCos match {
      case Some(c) => inc.pin(
        Similarity.assignKeepVec(b, centroids, vecCol, idCol)
          .filter(col("cos") >= c).select(col(idCol), col(vecCol)),
        cfg.checkpointDir)
      case None => b
    }
    val nFloored = floored.count()

    // 2. SemDeDup vs the persisted registry; registry then grows with
    // every floor survivor. The probe's verdict is WRITE-AHEAD (persisted
    // under the increment's content key) before the registry append: the
    // verdict depends on registry state, so once the append lands, a
    // re-probe would find the batch as its own witness.
    // the claim guard's real lock condition: a persisted verdict OR a
    // landed marker-gated append means re-evaluating under new parameters
    // is no longer safe (catches the enable-a-stage-on-retry direction,
    // where no verdict was ever persisted but the curated rows landed)
    // the survivor verdict is shaped by the centroid model (nCells),
    // the floor and the dedup threshold — not by the later stages'
    // fields, so a retry fixing only those replays it. The claim sits
    // OUTSIDE the option branch: DISABLING the stage on retry is also a
    // config change (the registry already holds the batch), so the
    // option itself folds into the fingerprint
    claimCfg("survivors",
      cfgFingerprint(cfg.nCells, cfg.minCos, cfg.dedupCos),
      inc.completed(s"$stateDir/survivor_ids") ||
        inc.appliedTo(dedupRegistryDir(outRoot)))
    val deduped = cfg.dedupCos match {
      case Some(tau) =>
        val regPath = dedupRegistryDir(outRoot)
        val survPath = s"$stateDir/survivor_ids"
        if (!inc.completed(survPath)) {
          val s =
            if (inc.completed(regPath)) Similarity.semanticDedupIncrement(
              floored, centroids, regPath, tau, vecCol = vecCol,
              idCol = idCol, checkpointDir = cfg.checkpointDir)
            else Similarity.semanticDedupClustered(floored, centroids, tau,
              vecCol = vecCol, idCol = idCol)
          Writes(s.select(col(idCol))).mode("overwrite").parquet(survPath)
        }
        val pinned = inc.pin(
          floored.join(spark.read.parquet(survPath).select(col(idCol)),
            Seq(idCol), "left_semi"),
          cfg.checkpointDir)
        inc.appendOnce(regPath) { mode =>
          Similarity.writeSemanticRegistry(floored, centroids, regPath,
            vecCol = vecCol, idCol = idCol, append = mode == "append")
        }
        pinned
      case None => floored
    }
    val nDeduped = deduped.count()

    // 3. decontamination vs the configured eval set (per-row against an
    // immutable external set — deterministic on retry); without one the
    // stage is the identity and its count is the dedup count
    val (decontaminated, nDecont) = cfg.evalDir match {
      case Some(dir) =>
        val d = Similarity.decontaminateSemantic(deduped,
          spark.read.parquet(dir), cfg.decontCos, vecCol)
        (d, d.count())
      case None => (deduped, nDeduped)
    }

    // 4. ship-once diversity cap vs the selection registry (which then
    // grows with this increment's selections) — write-ahead like stage 2:
    // once the registry holds the batch, a re-run's ship-once probe would
    // see every member already shipped
    // the ship verdict sees every upstream stage's output plus the cap
    // and the split percentages (the curated append replays the
    // splitExpr over these selections); claim outside the branch — a
    // retry that toggles the cap off is a config change too
    claimCfg("selected", cfgFingerprint(cfg.nCells, cfg.minCos,
        cfg.dedupCos, cfg.evalDir, cfg.decontCos, cfg.perCell,
        cfg.trainPct, cfg.valPct),
      inc.completed(s"$stateDir/selected") ||
        inc.appliedTo(selectionRegistryDir(outRoot)) ||
        inc.appliedTo(curatedDir(outRoot)))
    val selected = cfg.perCell match {
      case Some(k) =>
        val selPath = selectionRegistryDir(outRoot)
        val shipPath = s"$stateDir/selected"
        if (!inc.completed(shipPath)) {
          val sel =
            if (inc.completed(selPath)) Selection.selectDiverseInc(decontaminated,
              centroids, spark.read.parquet(selPath), k, vecCol, idCol)
            else Selection.selectDiverse(decontaminated, centroids, k,
              vecCol, idCol)
          Writes(sel).mode("overwrite").parquet(shipPath)
        }
        val pinned = spark.read.parquet(shipPath)
        inc.appendOnce(selPath)(Writes(pinned).mode(_).parquet(selPath))
        pinned
      case None => Similarity.kmeansAssign(decontaminated, centroids,
        vecCol, idCol).select(col(idCol), col("cell"))
    }

    // 5. cluster-disjoint split (per-row over the pinned selections);
    // append the curations once per increment content
    val curated = inc.pin(selected.select(col(idCol), col("cell"),
      Corpus.splitExpr(col("cell"), cfg.trainPct, cfg.valPct).as("split")),
      cfg.checkpointDir)
    inc.appendOnce(curatedDir(outRoot))(
      Writes(curated).mode(_).parquet(curatedDir(outRoot)))
    val nCurated = curated.count()

    // serving layout over the curated corpus (idempotent growth —
    // AnnIndex's per-increment markers). A first-increment BUILD goes
    // through a STAGING dir: the four relations AND the increment's
    // markers are written under `<layout>__build_tmp`, then one atomic
    // directory rename publishes them together — a crash anywhere before
    // the rename leaves no layout (retry rebuilds from scratch), after
    // it the markers are already in place, so the build path has no
    // multi-relation double-append window (the grow path's documented
    // one-relation append-vs-marker window is the only residual).
    if (cfg.growLayout) {
      val vecs = deduped.join(curated.select(col(idCol)), Seq(idCol),
        "left_semi").select(col(idCol), col(vecCol))
      val lp = layoutDir(outRoot)
      if (!IncProtocol.exists(spark, s"$lp/ivf")) {
        val fs = FileSystem.get(new Path(lp).toUri,
          spark.sparkContext.hadoopConfiguration)
        val tmp = new Path(lp + "__build_tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        AnnIndex.buildServingLayout(vecs, tmp.toString,
          nCells = cfg.layoutCells)
        AnnIndex.markLayoutApplied(spark, tmp.toString, vecs, idCol, vecCol)
        val dst = new Path(lp)
        Option(dst.getParent).foreach(d => Writes.mkdirs(spark, d.toString))
        require(fs.rename(tmp, dst),
          s"publishing the built layout failed: rename $tmp -> $dst")
      } else AnnIndex.growServingLayout(spark, lp, vecs,
        checkpointDir = cfg.checkpointDir)
    }

    Result(nBatch, nFloored, nDeduped, nDecont, nCurated)
    }
  }
}
