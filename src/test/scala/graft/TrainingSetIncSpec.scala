package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TrainingSetConfig

/** One streamed document row (the foreachBatch wiring test's encoder). */
case class IncDoc(doc_id: Long, text: String)

/**
 * [[TrainingSetJob.runIncrement]] — the text-side micro-batch loop: the
 * two-increment ≡ one-shot equivalence (the EmbeddingCurationJobSpec
 * pattern), redelivery idempotence, the append-only id watermark, the
 * job-level config pin, the pinned lm_ref threshold, and the
 * foreachBatch wiring.
 */
class TrainingSetIncSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // fixed-width ids (100–399): the pack window orders string chunk ids,
  // so the id discipline must hold in BOTH native and string order
  private val passage =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
  private def corpusRows: Seq[(Long, String)] = {
    val uniq = Seq.tabulate(30)(i => (100L + i,
      s"the story number $i keeps on going with its own distinct words " +
        s"and a long enough tail token$i tale$i turn$i to stay over the floor"))
    // exact dups across the batch boundary: 150 (batch 1) wins over 251
    val exact = Seq(
      (150L, "the very same words repeated here for the exact dedup stage to catch"),
      (251L, "the very same words repeated here for the exact dedup stage to catch"))
    // near-dups: within batch 1 (151/152), across batches (153 vs 252) —
    // the registry must drop 252 without re-pairing the corpus
    def near(tail: String) =
      s"a rather similar page about the same topic with mostly shared words $tail"
    val nears = Seq((151L, near("one end")), (152L, near("two end")),
      (153L, near("three end")), (252L, near("four end")))
    // duplicated passage across batches: 154 ships it first, 253's copy
    // must be cut by the substring registry
    val substr = Seq(
      (154L, s"first context before $passage and some closing words to keep length up"),
      (253L, s"completely different opening here $passage with another ending that runs long enough"))
    // a contaminated doc (overlaps the eval set)
    val contaminated = Seq((254L,
      "this page quotes the held out evaluation question verbatim which " +
        "must be dropped by decontamination every single time"))
    (uniq.take(15) ++ exact.take(1) ++ nears.take(3) ++ substr.take(1)) ++
      (uniq.drop(15).map { case (i, t) => (i + 150, t) } ++ exact.drop(1) ++
        nears.drop(3) ++ substr.drop(1) ++ contaminated)
  }
  private def evalRows = Seq((900L,
    "the held out evaluation question verbatim which must be dropped"))

  private def cfg(evalDir: String) = TrainingSetConfig(
    normalize = true, minTokens = 8, ngram = 3, minJaccard = 0.5,
    substrWindow = Some(8), evalDir = Some(evalDir), redact = true,
    chunkBudget = 64, packGroups = 2, nShards = 4, emitBoundaries = true,
    emitIds = true)

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
  private def shardSet(root: String) =
    rowSet(spark.read.parquet(TrainingSetJob.shardsDir(root))
      .select(col("doc_id"), col("text"), col("bucket"), col("split"),
        col("shard")))
  private def shippedIds(root: String): Set[Long] =
    spark.read.parquet(TrainingSetJob.shardsDir(root))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
  private def packedSet(root: String) =
    rowSet(spark.read.parquet(TrainingSetJob.packedDir(root))
      .select(col("chunk_id"), col("grp"), col("bin"), col("n_tokens"),
        col("running"), col("chunk_text"),
        concat_ws(",", col("token_ids")).as("ids")))
  private def boundarySet(root: String) =
    rowSet(spark.read.parquet(TrainingSetJob.boundariesDir(root))
      .select(col("grp"), col("bin"), col("n_chunks"), col("bin_tokens"),
        col("manifest")))

  test("two increments == the one-shot batch job on the union (shards, packed, boundaries, counts)") {
    import spark.implicits._
    val docsDir = java.nio.file.Files.createTempDirectory("tsi_docs").toString
    val evalDir = java.nio.file.Files.createTempDirectory("tsi_eval").toString
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    evalRows.toDF("doc_id", "text").write.mode("overwrite").parquet(evalDir)
    val all = spark.read.parquet(docsDir)
    val c = cfg(evalDir)

    // control: the one-shot batch job over the union
    val ctl = java.nio.file.Files.createTempDirectory("tsi_ctl").toString
    val rCtl = TrainingSetJob.run(spark, docsDir, ctl, c)

    // the loop: two increments split at the id boundary
    val inc = java.nio.file.Files.createTempDirectory("tsi_inc").toString
    val r1 = TrainingSetJob.runIncrement(spark,
      all.filter(col("doc_id") < 200), inc, c)
    val r2 = TrainingSetJob.runIncrement(spark,
      all.filter(col("doc_id") >= 200), inc, c)

    assert(shardSet(inc) == shardSet(ctl), "shards diverged")
    assert(packedSet(inc) == packedSet(ctl), "packed diverged")
    assert(boundarySet(inc) == boundarySet(ctl), "boundaries diverged")
    assert(r1.cleanDocs + r2.cleanDocs == rCtl.cleanDocs)
    assert(r1.trainChunks + r2.trainChunks == rCtl.trainChunks)
    // the cross-batch races actually happened: the exact dup, the
    // near-dup and the substr copy all entered batch 2 and lost
    val shipped = shippedIds(inc)
    assert(!shipped.contains(251L), "cross-batch exact dup shipped")
    assert(!shipped.contains(252L), "cross-batch near-dup shipped")
    assert(!shipped.contains(254L), "contaminated doc shipped")
    assert(shipped.contains(253L), "substr-cut doc should survive (cut, not dropped)")
    val cut253 = spark.read.parquet(TrainingSetJob.shardsDir(inc))
      .filter(col("doc_id") === 253L).select(col("text")).head().getString(0)
    assert(!cut253.contains("alpha bravo charlie"),
      "cross-batch duplicated passage not cut")

    // redelivery of a fully-applied increment: same counts, no new rows
    val before = (shardSet(inc).size, packedSet(inc).size)
    val r2b = TrainingSetJob.runIncrement(spark,
      all.filter(col("doc_id") >= 200), inc, c)
    assert(r2b == r2, "redelivery diverged from the original result")
    assert((shardSet(inc).size, packedSet(inc).size) == before,
      "redelivery appended rows")

    // job-level config pin: any semantic change fails loudly
    val ex = intercept[IllegalArgumentException] {
      TrainingSetJob.runIncrement(spark,
        all.filter(col("doc_id") >= 200), inc, c.copy(minJaccard = 0.4))
    }
    assert(ex.getMessage.contains("incremental config changed"))
    // execution posture (checkpointDir) is NOT semantic — no pin trip,
    // and the fully-applied short-circuit returns the recorded counts
    val r2c = TrainingSetJob.runIncrement(spark,
      all.filter(col("doc_id") >= 200), inc,
      c.copy(checkpointDir = Some(
        java.nio.file.Files.createTempDirectory("tsi_ckpt").toString)))
    assert(r2c == r2)

    // append-only id discipline: replayed OLD ids fail the watermark
    val ex2 = intercept[IllegalArgumentException] {
      TrainingSetJob.runIncrement(spark,
        all.filter(col("doc_id") < 120), inc, c)
    }
    assert(ex2.getMessage.contains("append-only id discipline"))
  }

  test("foreachBatch wiring: the stream loop equals the sequential increment loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docsDir = java.nio.file.Files.createTempDirectory("tss_docs").toString
    val evalDir = java.nio.file.Files.createTempDirectory("tss_eval").toString
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    evalRows.toDF("doc_id", "text").write.mode("overwrite").parquet(evalDir)
    val all = spark.read.parquet(docsDir)
    val c = cfg(evalDir)

    val ctl = java.nio.file.Files.createTempDirectory("tss_ctl").toString
    TrainingSetJob.runIncrement(spark, all.filter(col("doc_id") < 200), ctl, c)
    TrainingSetJob.runIncrement(spark, all.filter(col("doc_id") >= 200), ctl, c)

    val root = java.nio.file.Files.createTempDirectory("tss_inc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tss_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IncDoc]
    val q = TrainingSetJob.runStream(spark, in.toDS().toDF(), root, ckpt, c,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      for (b <- Seq(all.filter(col("doc_id") < 200),
          all.filter(col("doc_id") >= 200))) {
        in.addData(b.collect().map(r => IncDoc(r.getLong(0), r.getString(1))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(shardSet(root) == shardSet(ctl), "stream shards diverged")
    assert(packedSet(root) == packedSet(ctl), "stream packed diverged")
  }

  test("lm_ref gate: model persisted once, threshold calibrated on the first increment and pinned") {
    import spark.implicits._
    val proto = "the quick brown fox jumps over the lazy dog near the river bank "
    val refDir = java.nio.file.Files.createTempDirectory("tsl_ref").toString
    Seq.tabulate(6)(i => (900L + i, proto * 4)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refDir)
    // batch 1: 4 in-distribution + 1 gibberish (calibrates the q=0.2 cut
    // exactly at the gibberish doc); batch 2: 2 in-distribution + 1
    // gibberish — the PINNED threshold must drop only the gibberish one
    val b1 = (Seq.tabulate(4)(i =>
      (100L + i, proto * 3 + s"ending note number item$i")) :+
      ((110L, "zxq vplk wrn qqf mtt abcx lqzz pfm wwt yyx uuo ppl kkm jjn")))
      .toDF("doc_id", "text")
    val b2 = (Seq.tabulate(2)(i =>
      (200L + i, proto * 3 + s"later ending note item$i")) :+
      ((210L, "qqv zzt rrk lln mmp wwx kkf ttb ggh jjd ssu vvn bbq ccz")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("tsl_inc").toString
    val c = TrainingSetConfig(lmRefDropQ = Some(0.2), lmRefDir = Some(refDir),
      minJaccard = 0.99, chunkBudget = 64, packGroups = 2, nShards = 2)
    TrainingSetJob.runIncrement(spark, b1, root, c)
    assert(IncProtocol.completed(spark,
      s"${TrainingSetJob.lmRefModelDir(root)}/uni"), "model not persisted")
    assert(IncProtocol.completed(spark,
      TrainingSetJob.lmRefThresholdDir(root)), "threshold not persisted")
    val thr1 = spark.read.parquet(TrainingSetJob.lmRefThresholdDir(root))
      .head().getDouble(0)
    TrainingSetJob.runIncrement(spark, b2, root, c)
    // the threshold did NOT move with batch 2
    assert(spark.read.parquet(TrainingSetJob.lmRefThresholdDir(root))
      .head().getDouble(0) == thr1)
    val shipped = shippedIds(root)
    assert(!shipped.contains(110L) && !shipped.contains(210L),
      "gibberish passed the pinned perplexity gate")
    assert(Seq(100L, 101L, 102L, 103L, 200L, 201L).forall(shipped.contains),
      s"in-distribution docs dropped: $shipped")
    // self-reference without lm_ref_dir is refused in incremental mode
    val ex = intercept[IllegalArgumentException] {
      TrainingSetJob.runIncrement(spark, b2, root,
        TrainingSetConfig(lmRefDropQ = Some(0.2)))
    }
    assert(ex.getMessage.contains("lm_ref self-reference"))
  }

  test("lm_ref stratified in the loop: a stratum arriving after the calibration increment calibrates lazily instead of dropping forever") {
    import spark.implicits._
    val protoA = "the quick brown fox jumps over the lazy dog near the river bank "
    val protoB = "a slow purple crab walks under the bright winter moon by an old stone wall "
    val refDir = java.nio.file.Files.createTempDirectory("tslz_ref").toString
    (Seq.tabulate(6)(i => (900L + i, protoA * 4, "enx")) ++
      Seq.tabulate(6)(i => (950L + i, protoB * 4, "dex")))
      .toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(refDir)
    // batch 1: ONLY enx; batch 2 introduces dex (2 good + 1 gibberish)
    val b1 = (Seq.tabulate(3)(i =>
      (100L + i, protoA * 3 + s"ending note item$i", "enx")) :+
      ((110L, "zxq vplk wrn qqf mtt abcx lqzz pfm wwt yyx uuo ppl kkm jjn", "enx")))
      .toDF("doc_id", "text", "lang")
    val b2 = (Seq.tabulate(2)(i =>
      (200L + i, protoB * 3 + s"closing remark item$i", "dex")) ++
      Seq((210L, "qqv zzt rrk lln mmp wwx kkf ttb ggh jjd ssu vvn bbq ccz", "dex"),
        (211L, protoA * 3 + "another fine ending here", "enx")))
      .toDF("doc_id", "text", "lang")
    val root = java.nio.file.Files.createTempDirectory("tslz_inc").toString
    val c = TrainingSetConfig(lmRefDropQ = Some(0.25),
      lmRefDir = Some(refDir), lmRefStrataCol = Some("lang"),
      minJaccard = 0.99, chunkBudget = 64, packGroups = 2, nShards = 2)
    TrainingSetJob.runIncrement(spark, b1, root, c)
    val thr1 = spark.read.parquet(TrainingSetJob.lmRefThresholdDir(root))
    assert(thr1.count() == 1 &&
      thr1.head().getString(0) == "enx", "batch 1 should pin enx only")
    TrainingSetJob.runIncrement(spark, b2, root, c)
    val thr2 = spark.read.parquet(TrainingSetJob.lmRefThresholdDir(root))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(thr2.keySet == Set("enx", "dex"), s"dex not lazily calibrated: $thr2")
    // enx's pinned threshold did not move when batch 2 arrived
    assert(thr2("enx") == thr1.head().getDouble(1))
    val shipped = shippedIds(root)
    assert(Seq(100L, 101L, 102L, 200L, 201L, 211L).forall(shipped.contains),
      s"good docs dropped: $shipped")
    assert(!shipped.contains(110L) && !shipped.contains(210L),
      "gibberish passed a per-stratum gate")
  }

  test("degenerate first batch: no threshold pinned, no schema-less empty writes; the job recovers on the first real batch") {
    import spark.implicits._
    val proto = "the quick brown fox jumps over the lazy dog near the river bank "
    val refDir = java.nio.file.Files.createTempDirectory("tsdg_ref").toString
    Seq.tabulate(6)(i => (900L + i, proto * 4)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refDir)
    // batch 1 is all unscorable (single tokens — no bigram to judge):
    // nothing ships, NO threshold may be pinned, and the empty shards/
    // packed relations must not be written as schema-less directories
    val b1 = Seq((100L, "one"), (101L, "two")).toDF("doc_id", "text")
    val b2 = (Seq.tabulate(4)(i =>
      (200L + i, proto * 3 + s"ending note item$i")) :+
      ((210L, "zxq vplk wrn qqf mtt abcx lqzz pfm wwt yyx uuo ppl kkm jjn")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("tsdg_inc").toString
    val c = TrainingSetConfig(lmRefDropQ = Some(0.2), lmRefDir = Some(refDir),
      minJaccard = 0.99, chunkBudget = 64, packGroups = 2, nShards = 2)
    val r1 = TrainingSetJob.runIncrement(spark, b1, root, c)
    assert(r1.cleanDocs == 0 && r1.trainChunks == 0)
    assert(!IncProtocol.completed(spark,
      TrainingSetJob.lmRefThresholdDir(root)),
      "a null threshold was pinned from the unscorable batch")
    // the first REAL batch calibrates and ships normally
    val r2 = TrainingSetJob.runIncrement(spark, b2, root, c)
    assert(r2.cleanDocs == 4 && r2.trainChunks > 0, s"$r2")
    val shipped = shippedIds(root)
    assert(shipped == Set(200L, 201L, 202L, 203L), s"shipped: $shipped")
    assert(spark.read.parquet(TrainingSetJob.packedDir(root)).count() > 0)
  }

  test("compact_every mid-stream: outputs preserved across triggered compactions, files shrink, completed inc_state GC'd") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docsDir = java.nio.file.Files.createTempDirectory("tsc_docs").toString
    val evalDir = java.nio.file.Files.createTempDirectory("tsc_eval").toString
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    evalRows.toDF("doc_id", "text").write.mode("overwrite").parquet(evalDir)
    val all = spark.read.parquet(docsDir)
    val c = cfg(evalDir)

    // control: the sequential loop, never compacted
    val ctl = java.nio.file.Files.createTempDirectory("tsc_ctl").toString
    TrainingSetJob.runIncrement(spark, all.filter(col("doc_id") < 150), ctl, c)
    TrainingSetJob.runIncrement(spark,
      all.filter(col("doc_id") >= 150 && col("doc_id") < 200), ctl, c)
    TrainingSetJob.runIncrement(spark, all.filter(col("doc_id") >= 200), ctl, c)

    // the stream with compaction after EVERY increment — the strongest
    // version of the contract: batches 2 and 3 probe freshly-compacted
    // registries and pack against a freshly-compacted packed/ state.
    // compactEvery is maintenance posture, NOT semantic: it must not
    // trip the incremental config pin vs the control's config.
    val root = java.nio.file.Files.createTempDirectory("tsc_inc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tsc_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IncDoc]
    val q = TrainingSetJob.runStream(spark, in.toDS().toDF(), root, ckpt,
      c.copy(compactEvery = Some(1)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      for (b <- Seq(all.filter(col("doc_id") < 150),
          all.filter(col("doc_id") >= 150 && col("doc_id") < 200),
          all.filter(col("doc_id") >= 200))) {
        in.addData(b.collect().map(r => IncDoc(r.getLong(0), r.getString(1))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(shardSet(root) == shardSet(ctl), "compaction changed the shards")
    assert(packedSet(root) == packedSet(ctl), "compaction changed the packing")
    assert(boundarySet(root) == boundarySet(ctl), "compaction changed boundaries")
    // compacted: ONE data file per relation (vs >=3 appends uncompacted);
    // packed/ and shards/ keep their within-partition sort contract
    def dataFiles(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.exists()) 0
      else f.listFiles().flatMap(x =>
        if (x.isDirectory && !x.getName.startsWith("_")) x.listFiles()
        else Array(x))
        .count(x => x.isFile && x.getName.endsWith(".parquet"))
    }
    assert(dataFiles(TrainingSetJob.exactRegistryDir(root)) == 1)
    assert(dataFiles(TrainingSetJob.exactRegistryDir(ctl)) >= 3)
    val packedPart = new java.io.File(TrainingSetJob.packedDir(root))
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("grp="))
    assert(packedPart.forall(p =>
      p.listFiles().count(f => f.getName.endsWith(".parquet")) == 1),
      "packed partition not compacted to one file")
    // within-partition (bin, chunk_id) order survived the sorted compaction
    for (p <- packedPart) {
      val rows = spark.read.parquet(p.getPath)
        .select(col("bin"), col("chunk_id")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"packed ${p.getName} lost its sort order")
    }
    // every increment completed -> its write-ahead state is GC'd
    val stateRoot = new java.io.File(s"$root/inc_state")
    assert(!stateRoot.exists() || stateRoot.listFiles().isEmpty,
      "completed increments' write-ahead state not GC'd")
    assert(new java.io.File(s"$ctl/inc_state").listFiles().length == 3)
  }

  test("unsupported global stages fail loudly at entry") {
    import spark.implicits._
    val b = Seq((100L, "some words here")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("tsu").toString
    def rejects(c: TrainingSetConfig, what: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        TrainingSetJob.runIncrement(spark, b, root, c) }
      assert(ex.getMessage.contains(what), s"$what: ${ex.getMessage}")
    }
    rejects(TrainingSetConfig(mixWeights = Map("a" -> 1.0), mixBudget = 10),
      "mixtures")
    rejects(TrainingSetConfig(capPerStratum = Some(5)), "cap_per_stratum")
    rejects(TrainingSetConfig(dsirTopK = Some(5),
      dsirTargetValue = Some("x")), "selection")
    rejects(TrainingSetConfig(softDedup = true), "soft_dedup")
    rejects(TrainingSetConfig(maxDf = Some(100L)), "max_df")
    rejects(TrainingSetConfig(bpeTrainMerges = Some(10)), "bpe_train_merges")
  }
}
