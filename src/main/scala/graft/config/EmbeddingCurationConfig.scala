package graft.config

/**
 * Config for [[graft.EmbeddingCurationJob]] — the embedding-side
 * micro-batch curation pipeline: every stage a field, each field mapping
 * 1:1 to an individually-oracled operator.
 *
 * Stages in declared order (each optional; `corpus_curate_semantic`'s
 * order, with the incremental forms substituted where a registry
 * exists):
 *  - `minCos` — prototypical coherence floor
 *    ([[graft.operators.Selection.selectPrototypical]]'s cut)
 *  - `dedupCos` — SemDeDup vs the job's persisted registry
 *    ([[graft.operators.Similarity.semanticDedupIncrement]]; the
 *    registry grows with every FLOOR-surviving member after each probe —
 *    the every-member contract)
 *  - `evalDir` (+ `decontCos`) — embedding-side eval decontamination
 *    ([[graft.operators.Similarity.decontaminateSemantic]])
 *  - `perCell` — ship-once diversity cap vs the job's selection
 *    registry ([[graft.operators.Selection.selectDiverseInc]])
 *  - split — always on; [[graft.operators.Selection.splitByCluster]]'s
 *    cell-hash bucket (`trainPct`/`valPct`)
 *  - `growLayout` — maintain the ANN serving layout over the CURATED
 *    corpus per increment ([[graft.AnnIndex.buildServingLayout]] /
 *    [[graft.AnnIndex.growServingLayout]])
 *  - `compactEvery` — run [[graft.EmbeddingCurationJob.compact]]
 *    automatically every N applied increments inside the micro-batch
 *    loop (file-count maintenance + completed-increment state GC);
 *    absent = manual maintenance windows only
 */
final case class EmbeddingCurationConfig(
    nCells: Int = 8,
    minCos: Option[Double] = None,
    dedupCos: Option[Double] = None,
    evalDir: Option[String] = None,
    decontCos: Double = 0.45,
    perCell: Option[Int] = None,
    trainPct: Int = 80,
    valPct: Int = 10,
    growLayout: Boolean = false,
    layoutCells: Int = 16,
    checkpointDir: Option[String] = None,
    compactEvery: Option[Int] = None) {
  require(nCells > 0, s"nCells must be positive: $nCells")
  require(perCell.forall(_ > 0), s"perCell must be positive: $perCell")
  require(compactEvery.forall(_ > 0),
    s"compactEvery must be positive: $compactEvery")
  require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
    s"train/val percentages out of range: $trainPct/$valPct")
  require(layoutCells > 0, s"layoutCells must be positive: $layoutCells")
  require(minCos.forall(c => c >= -1 && c <= 1),
    s"minCos must be a cosine: $minCos")
  require(dedupCos.forall(c => c >= -1 && c <= 1),
    s"dedupCos must be a cosine: $dedupCos")
  require(decontCos >= -1 && decontCos <= 1,
    s"decontCos must be a cosine: $decontCos")
}

