package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.config.EmbeddingCurationConfig
import graft.operators.{Selection, Similarity}

/** The embedding-side job loop: two increments through every configured
  * stage, registries carrying state between them, the serving layout
  * grown per increment. Pins the increment semantics the class doc
  * states exactly: per-row stages equal the fused operators, the dedup
  * increment equals the fused dedup restricted to the batch, ship-once
  * selection never breaches the cap, and the grown layout SERVES the
  * curated corpus exactly (its exact bridges equal brute force). */
class EmbeddingCurationJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("two increments: stage yields match the fused operators, ship-once holds, grown layout serves the curated corpus exactly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val evalDir = java.nio.file.Files.createTempDirectory("ecj_eval").toString
    e.filter(col("vec_id") < 25).write.mode("overwrite").parquet(evalDir)
    val corpus = e.filter(col("vec_id") >= 25)
    val batchA = corpus.filter(col("vec_id") < 300)
    val batchB = corpus.filter(col("vec_id") >= 300)
    val root = java.nio.file.Files.createTempDirectory("ecj_root").toString
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), evalDir = Some(evalDir), decontCos = 0.45,
      perCell = Some(12), growLayout = true, layoutCells = 4)
    val r1 = EmbeddingCurationJob.runIncrement(spark, batchA, root, cfg)
    val r2 = EmbeddingCurationJob.runIncrement(spark, batchB, root, cfg)

    // the job's pinned centroid model: trained on the FIRST batch only,
    // identical for both increments (registry cells stay comparable)
    val cents = spark.read.parquet(EmbeddingCurationJob.centroidsDir(root))
      .orderBy(col("cell")).collect().map(_.getSeq[Float](1).toArray)
    assert(cents.length == 8)
    assert(cents.map(_.toSeq).toSeq ==
      Similarity.kmeansSeeds(batchA, 8).map(_.toSeq).toSeq)

    // per-row stages equal the fused operators per batch
    def floorIds(b: org.apache.spark.sql.DataFrame) =
      Selection.selectPrototypical(b, cents, minCos = 0.12)
        .select(col("vec_id"))
    assert(r1.floored == floorIds(batchA).count())
    assert(r2.floored == floorIds(batchB).count())
    // dedup increment ≡ fused dedup over (floorA ∪ floorB) restricted to
    // batch B (semanticDedupIncrement's contract, composed through the
    // job's floor stage); increment 1 IS the fused dedup
    val flooredA = batchA.join(floorIds(batchA), Seq("vec_id"), "left_semi")
    val flooredB = batchB.join(floorIds(batchB), Seq("vec_id"), "left_semi")
    assert(r1.deduped ==
      Similarity.semanticDedupClustered(flooredA, cents, 0.45).count())
    assert(r2.deduped == Similarity.semanticDedupClustered(
        flooredA.unionByName(flooredB), cents, 0.45)
      .filter(col("vec_id") >= 300).count())

    // curated output: appended across increments, cap never breached
    // ACROSS them (ship-once: increment 1's rows still present, cells at
    // a cap stay there), split constant per cell
    val curated = spark.read.parquet(EmbeddingCurationJob.curatedDir(root))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(curated.length == r1.curated + r2.curated)
    assert(curated.map(_._1).distinct.length == curated.length)
    val perCell = curated.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perCell.values.forall(_ <= 12), s"cap breached: $perCell")
    curated.groupBy(_._2).foreach { case (cell, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cell $cell straddles splits")
    }
    // the selection registry IS the curated id set (ship-once ledger)
    val reg = spark.read.parquet(
      EmbeddingCurationJob.selectionRegistryDir(root)).collect()
      .map(_.getLong(0)).toSet
    assert(reg == curated.map(_._1).toSet)

    // grown serving layout SERVES the curated corpus exactly: the MRL
    // exact bridge (corpus-covering overscan) and full-probe IVF-PQ both
    // equal brute force over the curated vectors — increment 2's
    // additions are fully visible, nothing double-appended
    val curVecs = corpus.join(
      spark.read.parquet(EmbeddingCurationJob.curatedDir(root))
        .select(col("vec_id")), Seq("vec_id"), "left_semi")
    assert(spark.read.parquet(
        s"${EmbeddingCurationJob.layoutDir(root)}/prefixes").count() ==
      curVecs.count(), "layout prefixes != curated corpus")
    val q = curVecs.orderBy(col("vec_id").desc).head.getSeq[Float](1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    val prefixes = Similarity.readMrlPrefixes(spark,
      s"${EmbeddingCurationJob.layoutDir(root)}/prefixes")
    assert(ids(Similarity.topKMrlPre(prefixes, curVecs, q, k = 10,
        kDims = AnnIndex.MrlDims, overscan = 1000)) ==
      ids(Similarity.topK(curVecs, q, k = 10)))
    val ivf = Similarity.readIvfIndex(spark,
      s"${EmbeddingCurationJob.layoutDir(root)}/ivf")
    val (_, pq) = Similarity.readPqIndex(spark,
      s"${EmbeddingCurationJob.layoutDir(root)}/pq")
    val cellCodes = Similarity.readCellCodes(spark,
      s"${EmbeddingCurationJob.layoutDir(root)}/cellcodes")
    assert(Similarity.topKJoinIvfPq(cellCodes, curVecs, ivf, pq,
        Seq((0L, q)).toDF("q_id", "embedding"), k = 10, nProbe = 4, overscan = 100)
        .collect().map(_.getAs[Long]("vec_id")).toSet ==
      ids(Similarity.topK(curVecs, q, k = 10)).toSet)

    // increments ledger: one row per increment, matching the Results
    val inc = spark.read.parquet(EmbeddingCurationJob.incrementsDir(root))
      .collect().map(r => EmbeddingCurationJob.Result(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(inc == Set(r1, r2))
  }

  test("streaming sink: the foreachBatch loop equals the sequential batch loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), perCell = Some(40))
    val splits = Seq(e.filter(col("vec_id") < 200),
      e.filter(col("vec_id") >= 200 && col("vec_id") < 400),
      e.filter(col("vec_id") >= 400))
    // control: the sequential batch loop
    val ctlRoot = java.nio.file.Files.createTempDirectory("ecj_sctl").toString
    splits.foreach(b => EmbeddingCurationJob.runIncrement(spark, b, ctlRoot, cfg))
    // the stream: same three batches through foreachBatch micro-batches
    val root = java.nio.file.Files.createTempDirectory("ecj_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ecj_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SemVec]
    val q = EmbeddingCurationJob.runStream(spark, in.toDS().toDF(), root,
      ckpt, cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      splits.foreach { b =>
        in.addData(b.collect().map(r =>
          SemVec(r.getLong(0), r.getSeq[Float](1).toArray)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def state(r: String) = (
      spark.read.parquet(EmbeddingCurationJob.curatedDir(r)).collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet,
      spark.read.parquet(EmbeddingCurationJob.dedupRegistryDir(r)).count(),
      spark.read.parquet(EmbeddingCurationJob.selectionRegistryDir(r))
        .collect().map(_.getLong(0)).toSet)
    assert(state(root) == state(ctlRoot),
      "streaming loop diverged from the sequential batch loop")
  }

  test("retry safety: a replayed increment is a no-op; a stage-3 crash after the registry grew still ships the batch on retry") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val evalDir = java.nio.file.Files.createTempDirectory("ecj_eval2").toString
    e.filter(col("vec_id") < 25).write.mode("overwrite").parquet(evalDir)
    val corpus = e.filter(col("vec_id") >= 25)
    val batchA = corpus.filter(col("vec_id") < 300)
    val batchB = corpus.filter(col("vec_id") >= 300)
    val root = java.nio.file.Files.createTempDirectory("ecj_retry").toString
    // perCell 40 (vs the main spec's 12): at 12 every cell is at cap
    // after increment 1 and a LEGITIMATE increment 2 ships zero rows —
    // the retry assertions below need a batch that genuinely ships
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), evalDir = Some(evalDir), decontCos = 0.45,
      perCell = Some(40), growLayout = true, layoutCells = 4)
    def n(dir: String) = spark.read.parquet(dir).count()
    // control: the same two increments through a never-crashed job —
    // the retried run below must land exactly here
    val ctlRoot = java.nio.file.Files.createTempDirectory("ecj_ctl").toString
    val ctlCfg = cfg.copy(growLayout = false)
    EmbeddingCurationJob.runIncrement(spark, batchA, ctlRoot, ctlCfg)
    val ctl2 = EmbeddingCurationJob.runIncrement(spark, batchB, ctlRoot, ctlCfg)
    assert(ctl2.curated > 0, "control increment 2 ships nothing — test vacuous")

    val r1 = EmbeddingCurationJob.runIncrement(spark, batchA, root, cfg)
    val snap = Seq(EmbeddingCurationJob.curatedDir(root),
      EmbeddingCurationJob.dedupRegistryDir(root),
      EmbeddingCurationJob.selectionRegistryDir(root),
      s"${EmbeddingCurationJob.layoutDir(root)}/prefixes",
      s"${EmbeddingCurationJob.layoutDir(root)}/pq/codes",
      EmbeddingCurationJob.incrementsDir(root)).map(d => d -> n(d))

    // verbatim replay of a COMPLETED increment: same Result, nothing
    // double-appended anywhere (markers skip every write; the first-
    // increment layout BUILD recorded its markers so the replay's grow
    // path skips too)
    val r1b = EmbeddingCurationJob.runIncrement(spark, batchA, root, cfg)
    assert(r1b == r1)
    snap.foreach { case (d, c) =>
      assert(n(d) == c, s"replay double-appended $d") }

    // the ADVICE scenario: increment B fails in stage 3 AFTER stage 2
    // persisted its survivors and grew the semdedup registry (simulated
    // with an unreadable eval dir — the read throws before stage 3 runs)
    val badCfg = cfg.copy(evalDir = Some(s"$root/no_such_eval"))
    intercept[Exception] {
      EmbeddingCurationJob.runIncrement(spark, batchB, root, badCfg) }
    val regAfterCrash = n(EmbeddingCurationJob.dedupRegistryDir(root))
    assert(regAfterCrash > snap(1)._2, "crash simulation never reached stage 2")

    // retry with the fixed config: the persisted stage-2 verdict replays
    // (instead of re-probing a registry that now CONTAINS the batch,
    // which would drop every member as its own cos=1.0 witness and ship
    // zero rows), the registry is not double-appended, and the shipped
    // set equals the fused semantics — identical to the two-increment
    // run in the main spec
    val r2 = EmbeddingCurationJob.runIncrement(spark, batchB, root, cfg)
    assert(r2 == ctl2,
      "retried increment diverged from the never-crashed control")
    assert(r2.curated > 0, "retried batch shipped zero rows")
    assert(n(EmbeddingCurationJob.dedupRegistryDir(root)) == regAfterCrash,
      "registry double-appended on retry")
    assert(n(EmbeddingCurationJob.curatedDir(root)) == r1.curated + r2.curated)
  }

  test("changed-config retry: a PARTIALLY-applied increment rejects new parameters loudly; a fully-applied one replays as the recorded no-op") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val evalDir = java.nio.file.Files.createTempDirectory("ecj_cfge").toString
    e.filter(col("vec_id") < 25).write.mode("overwrite").parquet(evalDir)
    val corpus = e.filter(col("vec_id") >= 25)
    val batch = corpus.filter(col("vec_id") < 300)
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), evalDir = Some(evalDir), perCell = Some(40))
    val ctlRoot = java.nio.file.Files.createTempDirectory("ecj_cfgc").toString
    val ctl = EmbeddingCurationJob.runIncrement(spark, batch, ctlRoot, cfg)

    // crash at stage 3 (broken eval dir), AFTER the survivor verdict
    // persisted and the dedup registry grew — the write-ahead hazard
    val root = java.nio.file.Files.createTempDirectory("ecj_cfg").toString
    intercept[Exception] { EmbeddingCurationJob.runIncrement(spark, batch,
      root, cfg.copy(evalDir = Some(s"$root/nope"))) }
    // retry under a DIFFERENT dedup threshold: the persisted verdict was
    // produced under 0.45 and the registry holds the batch — silently
    // replaying OR re-evaluating would both be wrong
    val ex1 = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batch, root,
        cfg.copy(dedupCos = Some(0.30)))
    }
    assert(ex1.getMessage.contains("CHANGED config"))
    // DISABLING the stage on retry is a config change too
    val ex2 = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batch, root,
        cfg.copy(dedupCos = None))
    }
    assert(ex2.getMessage.contains("CHANGED config"))
    // the original config completes the retry == never-crashed control
    val r1 = EmbeddingCurationJob.runIncrement(spark, batch, root, cfg)
    assert(r1 == ctl)
    // FULLY applied: a changed-config redelivery (the config-upgrade-
    // across-restart case) short-circuits to the recorded ledger row —
    // a no-op with the ORIGINAL counts, never a crash
    val r1b = EmbeddingCurationJob.runIncrement(spark, batch, root,
      cfg.copy(dedupCos = Some(0.30), perCell = Some(5)))
    assert(r1b == r1)

    // the ship-verdict claim: crash AFTER stage 4 persisted (poisoned
    // layout dir makes the grow step throw), then a changed/disabled cap
    // on retry must fail loudly
    val root2 = java.nio.file.Files.createTempDirectory("ecj_cfg2").toString
    val cfg2 = cfg.copy(growLayout = true, layoutCells = 4)
    val poison = new java.io.File(
      s"${EmbeddingCurationJob.layoutDir(root2)}/ivf")
    assert(poison.mkdirs())
    intercept[Exception] {
      EmbeddingCurationJob.runIncrement(spark, batch, root2, cfg2) }
    val ex3 = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batch, root2,
        cfg2.copy(perCell = Some(5)))
    }
    assert(ex3.getMessage.contains("CHANGED config"))
    val ex4 = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batch, root2,
        cfg2.copy(perCell = None))
    }
    assert(ex4.getMessage.contains("CHANGED config"))
    // un-poison and finish under the original config: == control
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(EmbeddingCurationJob.layoutDir(root2)))
    val r2 = EmbeddingCurationJob.runIncrement(spark, batch, root2, cfg2)
    assert(r2 == ctl)

    // ENABLE direction: a crashed perCell=None run whose curated rows
    // already landed must reject a retry that turns the cap ON — no ship
    // verdict was ever persisted, but the curated relation holds the
    // uncapped set (the r19 second-review finding)
    val root3 = java.nio.file.Files.createTempDirectory("ecj_cfg3").toString
    val cfg3 = cfg.copy(perCell = None, growLayout = true, layoutCells = 4)
    assert(new java.io.File(
      s"${EmbeddingCurationJob.layoutDir(root3)}/ivf").mkdirs())
    intercept[Exception] {
      EmbeddingCurationJob.runIncrement(spark, batch, root3, cfg3) }
    val ex5 = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batch, root3,
        cfg3.copy(perCell = Some(5)))
    }
    assert(ex5.getMessage.contains("CHANGED config"))
  }

  test("compact_every mid-stream: yields preserved across a triggered compaction, files shrink, completed inc_state GC'd") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cfg0 = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), perCell = Some(40))
    val splits = Seq(e.filter(col("vec_id") < 200),
      e.filter(col("vec_id") >= 200 && col("vec_id") < 400),
      e.filter(col("vec_id") >= 400))
    // control: the sequential loop, never compacted
    val ctlRoot = java.nio.file.Files.createTempDirectory("ecj_cctl").toString
    splits.foreach(b =>
      EmbeddingCurationJob.runIncrement(spark, b, ctlRoot, cfg0))
    // the stream with compaction triggered after EVERY increment — the
    // strongest version of the 2-increment yield contract: batches 2 and
    // 3 each probe freshly-compacted registries
    val root = java.nio.file.Files.createTempDirectory("ecj_cstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ecj_cckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SemVec]
    val q = EmbeddingCurationJob.runStream(spark, in.toDS().toDF(), root,
      ckpt, cfg0.copy(compactEvery = Some(1)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      splits.foreach { b =>
        in.addData(b.collect().map(r =>
          SemVec(r.getLong(0), r.getSeq[Float](1).toArray)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def state(r: String) = (
      spark.read.parquet(EmbeddingCurationJob.curatedDir(r)).collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet,
      spark.read.parquet(EmbeddingCurationJob.dedupRegistryDir(r)).count(),
      spark.read.parquet(EmbeddingCurationJob.selectionRegistryDir(r))
        .collect().map(_.getLong(0)).toSet)
    assert(state(root) == state(ctlRoot),
      "triggered compaction changed the curation outcome")
    // compacted relations: ONE data file each (vs 3 appends uncompacted)
    def dataFiles(d: String) = new java.io.File(d).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles(EmbeddingCurationJob.selectionRegistryDir(root)) == 1)
    assert(dataFiles(EmbeddingCurationJob.curatedDir(root)) == 1)
    assert(dataFiles(EmbeddingCurationJob.selectionRegistryDir(ctlRoot)) >= 3)
    // every increment completed, so every write-ahead state dir is GC'd
    val stateRoot = new java.io.File(s"$root/inc_state")
    assert(!stateRoot.exists() || stateRoot.listFiles().isEmpty,
      "completed increments' write-ahead state not GC'd")
    assert(new java.io.File(s"$ctlRoot/inc_state").listFiles().length == 3)
  }

  test("crashed compaction swap: the next increment fails with the recovery instruction; renaming the backup recovers") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 25)
    val batchA = corpus.filter(col("vec_id") < 300)
    val batchB = corpus.filter(col("vec_id") >= 300)
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), perCell = Some(40))
    // control for the recovered run
    val ctlRoot = java.nio.file.Files.createTempDirectory("ecj_xctl").toString
    EmbeddingCurationJob.runIncrement(spark, batchA, ctlRoot, cfg)
    val ctl2 = EmbeddingCurationJob.runIncrement(spark, batchB, ctlRoot, cfg)

    val root = java.nio.file.Files.createTempDirectory("ecj_xswap").toString
    EmbeddingCurationJob.runIncrement(spark, batchA, root, cfg)
    // simulate a swap that crashed between its two renames: the relation
    // gone, the complete pre-compaction copy parked at __compact_old
    val reg = new java.io.File(EmbeddingCurationJob.dedupRegistryDir(root))
    val parked = new java.io.File(reg.getPath + "__compact_old")
    assert(reg.renameTo(parked))
    val ex = intercept[IllegalArgumentException] {
      EmbeddingCurationJob.runIncrement(spark, batchB, root, cfg)
    }
    assert(ex.getMessage.contains("crashed compaction swap"))
    // the documented recovery: rename the backup back, then proceed
    assert(parked.renameTo(reg))
    val r2 = EmbeddingCurationJob.runIncrement(spark, batchB, root, cfg)
    assert(r2 == ctl2, "recovered run diverged from the never-crashed control")
  }

  test("gcIncState keeps pre-upgrade increments' write-ahead state (no inc_key in the ledger => no short-circuit => verdicts still needed)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val batch = e.filter(col("vec_id") < 300)
    val cfg = EmbeddingCurationConfig(minCos = Some(0.12),
      dedupCos = Some(0.45), perCell = Some(40))
    val root = java.nio.file.Files.createTempDirectory("ecj_gcpre").toString
    val r1 = EmbeddingCurationJob.runIncrement(spark, batch, root, cfg)
    // simulate a PRE-UPGRADE ledger: rewrite it without the inc_key
    // column (the manifest marker stays — the increment IS fully applied)
    val inc = EmbeddingCurationJob.incrementsDir(root)
    val old = spark.read.parquet(inc).drop("inc_key").collect()
    val oldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(old.toSeq),
      spark.read.parquet(inc).drop("inc_key").schema)
    val tmp = java.nio.file.Files.createTempDirectory("ecj_gcledger").toString
    oldDf.write.mode("overwrite").parquet(tmp)
    for (f <- new java.io.File(inc).listFiles()
        if f.isFile && f.getName.endsWith(".parquet")) f.delete()
    for (f <- new java.io.File(tmp).listFiles()
        if f.isFile && f.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(inc, f.getName).toPath)
    // GC must KEEP the state dir: without inc_key the redelivery cannot
    // short-circuit and must replay the persisted verdicts
    val (before, kept) = IncProtocol.gcIncState(spark, root)
    assert(before == 1L && kept == 1L,
      s"pre-upgrade increment's write-ahead state was GC'd: ($before, $kept)")
    // and the redelivery indeed replays to the exact original counts
    val r2 = EmbeddingCurationJob.runIncrement(spark, batch, root, cfg)
    assert(r2 == r1, "post-GC-sweep redelivery diverged from the original")
    // control: with the inc_key ledger intact the same sweep deletes it
    val root2 = java.nio.file.Files.createTempDirectory("ecj_gcpost").toString
    EmbeddingCurationJob.runIncrement(spark, batch, root2, cfg)
    val (b2, k2) = IncProtocol.gcIncState(spark, root2)
    assert(b2 == 1L && k2 == 0L, s"upgraded increment not GC'd: ($b2, $k2)")
  }
}
