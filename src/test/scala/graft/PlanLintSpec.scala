package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Fleet-wide plan lint: no declared query may plan a
 * `CartesianProductExec` — the both-sides-big, no-broadcast product that
 * cannot survive a 100 TB corpus. Everything that multiplies relations
 * must ride a broadcast (model/centroid/stats/query-batch tables), which
 * plans as BroadcastNestedLoopJoin, not CartesianProduct — including the
 * declared brute-force baseline `sim_topk_join`, whose bounded query
 * batch broadcasts against the streamed corpus.
 *
 * Catches the regression class where a broadcast hint is lost (a model
 * table grows a lineage Spark won't auto-broadcast, a config flips) and
 * a scale path silently degrades to an all-pairs shuffle.
 */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** No exceptions needed: even the declared brute-force baseline
    * (`sim_topk_join`, Similarity.topKJoin's corpus crossJoin) rides a
    * BroadcastNestedLoopJoin because its query side is a bounded batch —
    * the honest 100 TB shape (corpus streamed against broadcast queries).
    * CartesianProductExec appears only when NEITHER side broadcasts,
    * which is exactly the defect class this lint exists to catch. */
  private val bruteForceBaselines = Set.empty[String]

  test("positive control: the lint's probe does detect a planned cartesian") {
    import org.apache.spark.sql.functions.col
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(100).select(col("id").as("x"))
      val b = spark.range(100).select(col("id").as("y"))
      assert(a.crossJoin(b).queryExecution.executedPlan.toString
        .contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  /** True when the plan contains a window-family exec node — matched by
    * CONCRETE node type through the AQE-aware walk, not by plan-string
    * substring (a substring "Window"/"Sort" also matches WindowGroupLimit
    * pushdowns of other operators, SortMergeJoin, SortAggregate — names
    * that assert a different claim than "this query sorts its relation
    * per key to rank it"). */
  private def windowNodes(df: org.apache.spark.sql.DataFrame): Seq[String] =
    SparkTestBase.planSeq(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.nodeName
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w.nodeName
    }

  /** The per-query top-k election in the batch k-NN join family rides the
    * `struct_topk` heap aggregate, not a rank window: zero Window nodes in
    * any plan of the family (the window idiom would drag a full
    * per-partition sort of the scored relation in front of the exchange),
    * and the pure brute-force baseline plans zero SortExec nodes — its
    * only exchange is the ≤ k-rows-per-query heap aggregation. (SortExec
    * by node type: if the planner ever elects SortAggregate for the heap
    * it would surface here as the SortExec it requires, while a
    * SortMergeJoin name in the plan string would not false-positive.) */
  test("sim_topk_join family elects top-k via heap aggregation, not a window") {
    val sfDir = "/root/testdata/sf0.001"
    val family = SparkEntry.queries.keys.filter(_.startsWith("sim_topk_join")).toSeq.sorted
    assert(family.nonEmpty)
    for (name <- family) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val wins = windowNodes(df)
      assert(wins.isEmpty,
        s"$name plans ${wins.mkString(",")} — the heap election regressed")
      assert(df.queryExecution.executedPlan.toString.contains("struct_topk"),
        s"$name does not plan struct_topk")
    }
    val bruteSorts = SparkTestBase.planSeq(
        SparkEntry.queries("sim_topk_join")(spark, sfDir)
          .queryExecution.executedPlan)
      .collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(bruteSorts.isEmpty, s"sim_topk_join plans SortExec: $bruteSorts")
  }

  /** The r15 ladder lesson, pinned: every indexed join form's probe /
    * shortlist / query side must BROADCAST — their stats hide behind
    * aggregation or explode lineage, and without the explicit hint a
    * big corpus falls back to a sort-merge join that sorts the whole
    * index relation by a low-cardinality key (measured 3.5× the whole
    * query at the 16× rung — SCALING.md round 15). The declared queries
    * run 300-row corpora where any shape is fast, so only a plan
    * assertion holds the line. */
  test("indexed sim joins keep their corpus-side joins broadcast, never sort-merge") {
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("sim_topk_join_ivf", "sim_topk_join_lsh",
        "sim_topk_join_mrl_ivf", "sim_topk_join_mrl_pre",
        "sim_topk_join_ivfpq")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan
      val smj = SparkTestBase.planSeq(plan).collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s }
      assert(smj.isEmpty, s"$name plans a SortMergeJoin: $smj")
      val bhj = SparkTestBase.planSeq(plan).collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, s"$name plans no BroadcastHashJoin at all")
    }
  }

  /** The r15 rerank fix, pinned as a lint (it is load-bearing and
    * regression-prone — a lineage change silently reverts to streaming
    * the full corpus or to re-executing the route): for a below-cap
    * shortlist, (1) the rerank's executed plan must contain exactly ONE
    * file scan — the corpus; the prefix ROUTE ran once at build time
    * into a pinned local relation and must NOT be re-planned inside the
    * rerank — and (2) that corpus scan must carry the shortlist's In
    * filter in its PushedFilters, so parquet row-group stats +
    * dictionary pruning keep the rerank from reading the whole
    * relation. The second half proves the lint catches the r15 bug
    * shape: the naive reuse of the shortlist's lineage plans the route
    * scan a second time and pushes nothing. */
  test("mrl rerank leg: route planned once, shortlist In filter reaches the corpus scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.broadcast
    val sfDir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("sim_topk_mrl_pre")(spark, sfDir)
    val scans = SparkTestBase.planSeq(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1,
      s"rerank plans ${scans.length} file scans — the route subtree " +
        "re-entered the rerank plan (the r15 re-execution bug shape)")
    assert(scans.head.metadata.get("PushedFilters")
        .exists(_.contains("In(vec_id")),
      s"corpus scan lost the shortlist In pushdown: ${scans.head.metadata.get("PushedFilters")}")
    // red-proof — the r15 bug shape fails both assertions: reusing the
    // shortlist's DataFrame lineage re-plans the prefix route (a second
    // file scan) inside the rerank and pushes no In filter
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val preDir = java.nio.file.Files.createTempDirectory("lintpre").toString
    graft.operators.Similarity.writeMrlPrefixes(e, 16, preDir)
    val shortlist = spark.read.parquet(preDir)
      .orderBy(org.apache.spark.sql.functions.col("pnrm").desc)
      .limit(40).select("vec_id")
    val naive = broadcast(shortlist).join(e, "vec_id")
    val naiveScans = SparkTestBase.planSeq(naive.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(naiveScans.length == 2, "red-proof drifted: the naive shape " +
      s"should plan 2 scans, got ${naiveScans.length}")
    assert(!naiveScans.exists(_.metadata.get("PushedFilters")
      .exists(_.contains("In(vec_id"))))
  }

  /** The r16 verdict's finding, pinned as a lint: ABOVE the collect cap
    * the rerank must not feed the pinned shortlist through a
    * BroadcastExchange — `BroadcastExchangeExec` collects the broadcast
    * side's rows ON THE DRIVER before re-broadcasting, so a broadcast
    * hint there silently re-introduces the exact driver-memory term the
    * valve exists to remove (a 1M-query × k·overscan batch would pull
    * its 40M-row shortlist through driver memory inside the exchange
    * and die on Spark's 8 GB broadcast ceiling). The valve now returns
    * the above-cap frame SHUFFLE_HASH-hinted; this lint pins the
    * executed-plan consequence end-to-end through a real rerank leg. */
  test("shortlist valve above the cap: rerank shuffles on id — no BroadcastExchange carries the pinned shortlist") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.functions.{broadcast, col}
    def broadcastsOfPin(df: org.apache.spark.sql.DataFrame) = {
      df.count() // finalize AQE so the walked plan is the executed one
      SparkTestBase.planSeq(df.queryExecution.executedPlan).collect {
        case b: BroadcastExchangeExec
            if SparkTestBase.planSeq(b).exists(_.isInstanceOf[RDDScanExec]) => b
      }
    }
    // 250 queries × 500 corpus at corpus-covering overscan = 125k
    // shortlist rows > ShortlistCollectCap → the above-cap branch
    assert(graft.operators.Similarity.ShortlistCollectCap == 100000,
      "cap changed: resize this fixture so it still exceeds the cap")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 250)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val df = graft.operators.Similarity.topKJoinMrl(e, queries, k = 5,
      kDims = 16, overscan = 100)
    val plan = { df.count(); SparkTestBase.planSeq(df.queryExecution.executedPlan) }
    assert(plan.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "above-cap rerank lost its shuffle-hash join: " +
        plan.map(_.nodeName).distinct.mkString(", "))
    assert(broadcastsOfPin(df).isEmpty,
      "a BroadcastExchange carries the pinned shortlist — the shortlist " +
        "transits the driver inside the exchange (the r16 verdict's trap)")
    // red-proof: the pre-r17 shape — broadcast-hinting the pinned frame —
    // IS caught by this walk (BroadcastExchange over the RDD scan)
    val pinned = graft.operators.Materialize(
      e.filter(col("vec_id") < 200).select(col("vec_id")), None)
    val naive = broadcast(pinned).join(e, "vec_id")
    assert(broadcastsOfPin(naive).nonEmpty,
      "red-proof drifted: a broadcast-hinted pin should be flagged")
  }

  /** The single-query PQ serve routes its `k·overscan` shortlist through
    * the same valve: above the collect cap, no BroadcastExchange carries
    * the pinned shortlist into the rerank. */
  test("topKPqRescored above the collect cap: no BroadcastExchange over the shortlist") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.{array, col, cos, lit, sin}
    import graft.operators.Similarity
    val n = Similarity.ShortlistCollectCap + 50
    val e = spark.range(n).select(col("id").as("vec_id"), array(
      Seq(sin(col("id")), cos(col("id")), sin(col("id") * 3), lit(0.5))
        .map(_.cast("float")): _*).as("embedding"))
    val books = Array.tabulate(2, 2, 2)((m, c, i) => (m + c + i % 2).toFloat - 1f)
    val model = Similarity.PqModel(2, 2, 4, books)
    val q = Seq(1f, 0f, 0f, 0.5f)
    // k · overscan = cap + 50 shortlist rows → the above-cap branch
    val df = Similarity.topKPqRescored(Similarity.pqEncode(e, model), e, model, q,
      k = 10, overscan = n / 10)
    assert(df.count() == 10)
    val overPin = SparkTestBase.planSeq(df.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec
          if SparkTestBase.planSeq(b).exists(_.isInstanceOf[RDDScanExec]) => b
    }
    assert(overPin.isEmpty, "a BroadcastExchange carries the pinned PQ shortlist")
  }

  /** Above [[Selection.TopKMergeCap]], the weighted selectors must not
    * plan TakeOrderedAndProject: its final merge concentrates the full
    * k-row result in one task — fine at "top 10k", a driver-side funnel
    * at "select 5% of the corpus". The threshold-cut valve's plan is a
    * map-only precut + ~k-row range exchange + pid-partitioned
    * row_number — no single-point merge anywhere. */
  test("selection above the merge cap plans no TakeOrdered merge; below it, it does") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.functions.{col, length}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
    def takeOrdered(df: org.apache.spark.sql.DataFrame) = {
      df.queryExecution.toRdd.count() // finalize AQE
      SparkTestBase.planSeq(df.queryExecution.executedPlan)
        .filter(_.isInstanceOf[TakeOrderedAndProjectExec])
    }
    val valve = graft.operators.Selection.topKThresholdCut(
      graft.operators.Selection.sampleWeighted(d, col("n_chars"), d.count().toInt),
      "ares_key", "doc_id", 64)
    assert(takeOrdered(valve).isEmpty,
      "above-cap selection still plans a TakeOrdered single-point merge")
    // positive control: the below-cap path genuinely plans the node this
    // lint looks for (the walk is not vacuous)
    val base = graft.operators.Selection.sampleWeighted(
      d, col("n_chars"), k = 64)
    assert(takeOrdered(base).nonEmpty,
      "below-cap selection no longer plans TakeOrderedAndProject — " +
        "retarget this lint's positive control")
  }

  /** The embedding-side flagship's 100 TB shape, pinned: ONE corpus
    * scan, ONE shuffle exchange (the SemDeDup cell aggregation — the
    * diversity election reuses its hash partitioning), the eval side the
    * BUILD side of a broadcast join, and the corpus filter pushed into
    * the parquet scan. Regressions this catches: a stage re-joining the
    * corpus (second corpus scan), the second cell aggregation losing
    * partitioning reuse (second exchange), the decontamination join
    * flipping to build the CORPUS side (driver-collects the corpus), a
    * projection change un-pushing the id filter. */
  test("curateSemantic flagship: one corpus scan, one exchange, eval side broadcast, filter pushed") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = SparkEntry.queries("corpus_curate_semantic")(
      spark, "/root/testdata/sf0.001")
    df.count() // finalize AQE
    val plan = SparkTestBase.planSeq(df.queryExecution.executedPlan)
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 2, // the corpus + the (broadcast) eval slice
      s"flagship plans ${scans.length} scans — a stage re-joined the corpus")
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("GreaterThanOrEqual(vec_id,25)"))),
      "corpus filter no longer pushed into the scan")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 1,
      s"flagship plans ${shuffles.length} shuffles — the diversity " +
        "election lost the dedup exchange's partitioning reuse")
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.length == 1 && bnlj.head.buildSide.toString == "BuildRight",
      s"decontamination join shape drifted: ${bnlj.map(_.buildSide)}")
  }

  /** Fleet-wide Window allowlist: the heap election is the house idiom
    * for every "rank then keep k" shape, so a Window node is allowed only
    * where the WINDOW ITSELF is the declared semantics — an order
    * contract over a bounded or model-sized relation — and every such
    * site is named here. A new query that plans a Window without being
    * added (with its justification) fails this lint: that is the "silent
    * per-key sort over a corpus-sized relation" regression class. */
  private val allowedWindowSites: Map[String, String] = Map(
    // pagination: OFFSET pages are an ordered-traversal contract; the
    // window rides the ≤ page-horizon filtered relation (keyset variant
    // `paginate_after` is the windowless 100 TB path, lint-pinned below)
    "paginate" -> "offset pagination is an explicit global-order contract",
    // time traversals: lag/lead/last-over-time ARE the operator; each
    // window is keyed per entity (device/station), never unpartitioned
    // over the corpus
    "events_resample" -> "gap-fill carries last-observation forward per device",
    "events_asof" -> "as-of match traverses per-device event time order",
    "events_asof_sliced" -> "sliced as-of: same traversal, hot-key valve",
    "events_sessions" -> "session ids are a lag-over-time-per-device contract",
    "events_gaps" -> "gaps-and-islands spans are lag-per-device by definition",
    "dedup_substr" -> "suffix-window kernel: per-doc positional scan",
    "dedup_substr_bridge" -> "row-local window kernels over per-doc positions (cut spans), not a per-key rank of the corpus",
    "dedup_substr_inc" -> "same row-local positional kernels on the increment",
    "events_asof_fwd" -> "forward as-of: per-device event-time traversal",
    "events_asof_tol" -> "toleranced as-of: per-device event-time traversal",
    "events_sessionize" -> "batch sessionization is lag-per-device by definition",
    "events_resample_interp" -> "linear interpolation needs prev/next anchors per device",
    // evaluation meters / model algebra: unpartitioned windows over
    // relations already collapsed to model size (≤ |distinct 6dp scores|,
    // ≤ B+1 hash buckets, or ≤ |domains| rows — the lrFromCnt precedent;
    // a single-task window over kilobytes is the right plan)
    "quality_logreg_auc" -> "rank algebra over the ≤|distinct scores| histogram",
    "value_quantiles" -> ("exact-percentile rank selection (r20): row_number " +
      "over the per-group sort replaces the unbounded percentile() map " +
      "buffer — the window IS the order statistic, spills gracefully"),
    "quality_quantile_gate" -> "quantile thresholds over the bounded bucket relation",
    "sample_stratified" -> "per-stratum ordered allocation over bounded strata",
    "dsir_weights" -> "model fold: cumulative mass over the ≤B+1 bucket histogram",
    "dsir_sample" -> "same model fold upstream of the TakeOrdered selection",
    // corpus-covering-overscan bridges (r21): the shortlist selection
    // routes through Selection.topKThresholdCut above the merge cap —
    // TakeOrdered's 2K-slot per-task buffer OOM'd bounded executors at
    // K=10.5M — and the cut's row_number is partitioned by __pid over
    // the range-exchanged ~K-row candidate sliver, never a global sort
    "sim_topk_mrl_full" -> "threshold-cut rank over the candidate sliver (big-K valve)",
    "sim_topk_mrl_ivf_full" -> "same big-K threshold-cut valve",
    // lm_ref family (r21): the left-context total c1 folds as a window
    // over the AGGREGATED bigram model relation — sum(c2) per (strata?,
    // w1) partition of the ≤|bigram types| rows — replacing the separate
    // cw aggregation + broadcast join (one fewer model scan + join probe
    // per serve); the window never touches the corpus
    "quality_lm_ref" -> "left-context totals per w1 over the bigram model relation",
    "quality_lm_ref_pruned" -> "same model-side c1 fold (pruned serve)",
    "quality_lm_ref_inc" -> "same c1 fold over the persisted model relation",
    "quality_lm_ref_stratified" -> ("same per-(lang, w1) c1 fold + the " +
      "per-language quantile threshold over the ≤|langs| cut relation"),
    "mix_temperature" -> "normalizing sums over the ≤|domains| mixture relation",
    // sequence packing / chunking: greedy running-total semantics — the
    // prefix sum IS the operator; every window is keyed per doc or per
    // shard group, bounded by tokens-per-doc / docs-per-group
    "pack_boundaries" -> "running token total per shard group (greedy packing)",
    "pack_chunks" -> "running cost per doc: chunk split points are prefix sums",
    "pack_sequences" -> "running token total per group elects sequence breaks",
    "pack_emit_ids" -> "same next-fit prefix sum, carrying the id arrays it emits",
    "pack_sequences_inc" -> "state-offset prefix sum over the increment (registry packing)",
    // (chunk_docs_cost / chunk_docs_bpe left this list in r17: the
    // ChunkKernel.costChunks kernel made cost-budgeted chunking map-only — the
    // per-doc prefix sum is row-local, no Window in the plan)
    // verbatim-span machinery: per-doc positional kernels (lead over
    // token positions) + per-(pair,diagonal) gaps-and-islands — windows
    // over doc-bounded / diagonal-bounded relations, never the corpus
    "dedup_verbatim" -> "per-doc positional lead + per-pair-diagonal islands",
    // reference-parity upsert/MERGE family: latest-version election and
    // strict-unique-key enforcement are per-key order contracts over
    // ≤ duplicate-multiplicity rows; WindowGroupLimit bounds the rank
    // sites map-side (≤ cap rows per key per partition reach the sort)
    "upsert_classify" -> "per-key dedup of the incoming batch (reference A1/A2)",
    "upsert_merge" -> "same per-key election inside the MERGE",
    "upsert_replaces" -> "same per-key election feeding the replace partition",
    "upsert_stats" -> "same per-key election feeding run statistics",
    // declared window-form A/B twins (the heap/row-local form is the
    // default; the window rung stays on the ledger as the measured
    // alternative answering the identical oracle)
    "window_top_parts" -> "the declared window twin of top_parts_heap",
    "text_tfidf_openvocab" -> "the declared window twin of the row-local tfidfTop",
    // per-source capping: rank-cap per source with WindowGroupLimit
    // pushdown — Spark bounds shuffled rows to ≤ cap per key per
    // partition map-side, the same exchange bound as the heap idiom
    "cap_per_source" -> "rank cap per source; WindowGroupLimit bounds map-side"
  )

  test("Window nodes appear only at declared order-contract sites") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries) {
      try {
        val wins = windowNodes(fn(spark, sfDir))
        if (wins.nonEmpty && !allowedWindowSites.contains(name))
          offenders += s"$name (${wins.mkString(",")})"
      } catch {
        case scala.util.control.NonFatal(e) => errors += s"$name: ${e.getMessage}"
      }
    }
    assert(errors.isEmpty, s"queries failed to plan at sf0.001:\n${errors.mkString("\n")}")
    assert(offenders.isEmpty,
      "undeclared Window sites (add to allowedWindowSites WITH a " +
        s"justification, or re-express via the heap idiom): ${offenders.mkString(", ")}")
    // the keyset-pagination scale path must STAY windowless — it is the
    // declared 100 TB alternative to the offset form's order contract
    assert(windowNodes(SparkEntry.queries("paginate_after")(spark, sfDir)).isEmpty)
  }

  /** Limits of the TakeOrderedAndProject nodes above
    * [[graft.operators.Selection.TopKMergeCap]] — the 2k-slot per-task
    * buffer and single-point merge that `Selection.topKBy` keeps off
    * every plan. */
  private def overCapTakeOrdered(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
    SparkTestBase.planSeq(plan).collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          if t.limit > graft.operators.Selection.TopKMergeCap => t.limit
    }

  test("positive control: the over-cap TakeOrdered probe finds one in an unexecuted plan") {
    import org.apache.spark.sql.functions.col
    val cap = graft.operators.Selection.TopKMergeCap
    // the range must outsize the limit: the optimizer drops a limit that
    // bounds nothing (a 10-row range plans a bare Sort)
    val df = spark.range(2L * cap).orderBy(col("id").desc).limit(cap + 1)
    assert(overCapTakeOrdered(df.queryExecution.executedPlan) == Seq(cap + 1))
  }

  /** One walk over the whole inventory checks both plan-shape bans, so
    * the suite plans it once: no CartesianProductExec, and no
    * TakeOrderedAndProject above the merge cap. */
  test("no declared query plans a CartesianProductExec") {
    val sfDir = "/root/testdata/sf0.001"
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val overCap = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries if !bruteForceBaselines(name)) {
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        if (plan.toString.contains("CartesianProduct")) violations += name
        val limits = overCapTakeOrdered(plan)
        if (limits.nonEmpty) overCap += s"$name (${limits.mkString(",")})"
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"$name: ${e.getMessage}"
      }
    }
    assert(errors.isEmpty, s"queries failed to plan at sf0.001:\n${errors.mkString("\n")}")
    assert(violations.isEmpty,
      s"CartesianProductExec planned by: ${violations.mkString(", ")}")
    assert(overCap.isEmpty,
      "TakeOrderedAndProject above Selection.TopKMergeCap (route the top-k " +
        s"through Selection.topKBy) planned by: ${overCap.mkString(", ")}")
  }
}
