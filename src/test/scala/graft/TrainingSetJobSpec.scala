package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.config.TrainingSetConfig
import graft.operators.Corpus

class TrainingSetJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("config parse: empty object keeps operator defaults; full object round-trips") {
    val dflt = TrainingSetConfig.parse("{}")
    assert(dflt == TrainingSetConfig())
    val cfg = TrainingSetConfig.parse(
      """{"lang":"en","min_tokens":5,"max_digit_ratio":0.5,"ngram":2,
        |"min_jaccard":0.7,"max_df":100,"eval_dir":"/tmp/eval",
        |"eval_min_overlap":3,"redact":true,"strata_col":"source",
        |"strata_rates":{"src7":40,"src18":40},"strata_default_pct":90,
        |"chunk_budget":64,"pack_groups":8,"n_shards":4}""".stripMargin)
    assert(cfg.minTokens == 5 && cfg.maxDf.contains(100L) &&
      cfg.evalDir.contains("/tmp/eval") && cfg.redact &&
      cfg.strata.contains(("source", Map("src7" -> 40, "src18" -> 40), 90)) &&
      cfg.chunkBudget == 64 && cfg.nShards == 4)
  }

  test("end-to-end: clean corpus sharded, train split chunked+packed, manifest written") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,
        |"strata_col":"source","strata_default_pct":100}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)

    // clean-doc count equals the standalone composition's; without a
    // mixture, shipped == cleaned
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expectClean = Corpus.cleanCorpus(docs).count()
    assert(r.cleanDocs == expectClean && r.cleanDocs > 0)
    assert(r.mixedDocs == r.cleanDocs)

    // shards: within bounds, union reproduces the clean set, split column rides
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    assert(r.shardsWritten <= 8 && shards.count() == r.cleanDocs)
    assert(shards.columns.toSet == Set("doc_id", "text", "bucket", "split", "shard", "sort_key"))

    // packed: every chunk fits the budget; bins never exceed one straddle;
    // chunk membership == chunkDocs over the train split
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    assert(packed.filter(col("n_tokens") > 64).count() == 0)
    val overPacked = packed.groupBy(col("grp"), col("bin"))
      .agg(sum(col("n_tokens")).as("s")).filter(col("s") > 2 * 64).count()
    assert(overPacked == 0, "a packed bin exceeded budget + one straddle")
    assert(r.trainChunks == packed.count() && r.trainBins > 0)
    val trainDocs = shards.filter(col("split") === "train")
    assert(packed.count() == Corpus.chunkDocs(trainDocs, 64).count())

    // manifest: present, parseable, counts agree
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("clean_docs").asLong == r.cleanDocs &&
      m.get("train_bins").asLong == r.trainBins &&
      m.get("strata_col").asText == "source")
  }

  test("mixture stage: weighted sources survive in proportion, others drop") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_mix").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,
        |"mix_weights":{"src3":0.7,"src7":0.3},"mix_budget":20000}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    // only the weighted sources remain (joined back to check membership)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val srcs = shards.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(srcs.subsetOf(Set("src3", "src7")) && srcs.nonEmpty, s"sources: $srcs")
    // the mixture genuinely downsampled: shipped < cleaned, and the
    // shipped count is what the shards hold
    assert(r.mixedDocs == shards.count() && r.mixedDocs > 0)
    assert(r.mixedDocs < r.cleanDocs,
      s"mixture kept everything: ${r.mixedDocs} of ${r.cleanDocs}")
    // manifest records the mixture
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("mix_weights").get("src3").asDouble == 0.7 &&
      m.get("mix_budget").asDouble == 20000.0)
  }

  test("temperature mixture stage: alpha-derived weights ship every source, lifted tail") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_temp").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,
        |"mix_alpha":0.3,"mix_budget":20000}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bySrc = shards.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // temperature weights cover EVERY source (no explicit list to drop from)
    val allSrcs = Corpus.cleanCorpus(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(bySrc.keySet == allSrcs, s"shipped ${bySrc.keySet} of $allSrcs")
    assert(r.mixedDocs < r.cleanDocs, "budget must genuinely downsample")
    // manifest records the alpha and no explicit weights
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("mix_alpha").asDouble == 0.3 && m.get("mix_weights").isEmpty)
    // alpha + explicit weights refuse to combine
    intercept[IllegalArgumentException](TrainingSetConfig.parse(
      """{"mix_alpha":0.3,"mix_weights":{"src3":1.0},"mix_budget":1}"""))
  }

  test("gopher gate stage: rule-failing docs never reach the pipeline") {
    import spark.implicits._
    val passing = ("the fox and the hound went to the market of smalltown " +
      "and that day they have come with friends to be merry ") * 3
    val dir = java.nio.file.Files.createTempDirectory("gopher_in").toString
    // 4 passing docs (distinct suffixes dodge exact-dedup), 2 violators
    (Seq.tabulate(4)(i => (i.toLong, passing + s"tail marker $i", "src3")) ++
      Seq((10L, "too short with the and of that", "src3"),
        (11L, ("wombat zeppelin quartz " * 40), "src3")))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_gopher").toString
    val cfg = TrainingSetConfig.parse(
      """{"gopher_gate":true,"min_jaccard":0.99,"chunk_budget":64,
        |"pack_groups":2,"n_shards":2}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val kept = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L), s"kept: $kept")
    assert(r.cleanDocs == 4)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("gopher_gate").asBoolean)
  }

  test("lm_ref gate stage: out-of-distribution docs drop at the reference-perplexity quantile") {
    import spark.implicits._
    // clean reference: repeated in-distribution prose
    val proto = "the quick brown fox jumps over the lazy dog near the river bank "
    val refDir = java.nio.file.Files.createTempDirectory("lmref_ref").toString
    Seq.tabulate(6)(i => (100L + i, proto * 4))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(refDir)
    val dir = java.nio.file.Files.createTempDirectory("lmref_in").toString
    // 4 in-distribution docs (distinct tails dodge exact dedup, long
    // enough for min_tokens), 1 gibberish doc the gate must drop
    (Seq.tabulate(4)(i => (i.toLong, proto * 3 + s"ending note $i", "src3")) ++
      Seq((10L, "zxq vplk wrn qqf mtt abcx lqzz pfm wwt yyx uuo ppl kkm jjn",
        "src3")))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_lmref").toString
    val cfg = TrainingSetConfig.parse(
      s"""{"lm_ref_drop_q":0.2,"lm_ref_dir":"$refDir","min_jaccard":0.99,
         |"chunk_budget":64,"pack_groups":2,"n_shards":2}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val kept = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L), s"kept: $kept")
    assert(r.cleanDocs == 4)
    // the gate equals the standalone composition over the same inputs
    val docs = spark.read.parquet(dir)
    val expect = Corpus.dropBottomQuantile(
        Corpus.lmRefScore(spark.read.parquet(refDir), docs), "lm_ref", 0.2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == expect)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("lm_ref_drop_q").asDouble == 0.2)
  }

  test("lm_ref stratified gate: each language drops its own worst under its own reference model") {
    import spark.implicits._
    // two languages with disjoint vocabularies; each has its own clean
    // reference prose and its own gibberish doc. A GLOBAL gate judged
    // under pooled statistics could let one language's tail consume the
    // whole cut; the per-lang gate must drop exactly each language's own
    // gibberish doc at q=0.25 (1 of 4 docs per lang).
    // both strata must pass cleanCorpus's downstream en-langid gate, so
    // stratum B is English too — what matters here is DISJOINT content
    // vocabulary, so each stratum's model only vouches for its own prose
    val protoA = "the quick brown fox jumps over the lazy dog near the river bank "
    val protoB = "a slow purple crab walks under the bright winter moon by an old stone wall "
    val refDir = java.nio.file.Files.createTempDirectory("lmrefs_ref").toString
    (Seq.tabulate(6)(i => (100L + i, protoA * 4, "enx")) ++
      Seq.tabulate(6)(i => (200L + i, protoB * 4, "dex")))
      .toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(refDir)
    val dir = java.nio.file.Files.createTempDirectory("lmrefs_in").toString
    (Seq.tabulate(3)(i => (i.toLong, protoA * 3 + s"ending note $i", "enx", "src3")) ++
      Seq((10L, "zxq vplk wrn qqf mtt abcx lqzz pfm wwt yyx uuo ppl kkm jjn",
        "enx", "src3")) ++
      Seq.tabulate(3)(i => (20L + i, protoB * 3 + s"closing remark $i", "dex", "src3")) ++
      Seq((30L, "qqv zzt rrk lln mmp wwx kkf ttb ggh jjd ssu vvn bbq ccz",
        "dex", "src3")))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_lmrefs").toString
    val cfg = TrainingSetConfig.parse(
      s"""{"lm_ref_drop_q":0.25,"lm_ref_dir":"$refDir",
         |"lm_ref_strata_col":"lang","min_jaccard":0.99,
         |"chunk_budget":64,"pack_groups":2,"n_shards":2}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val kept = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 20L, 21L, 22L), s"kept: $kept")
    assert(r.cleanDocs == 6)
    // the gate equals the standalone composition over the same inputs
    val docs = spark.read.parquet(dir)
    val expect = Corpus.dropBottomQuantileByStratum(
        Corpus.lmRefScoreStratified(spark.read.parquet(refDir), docs, "lang"),
        "lm_ref", 0.25, "lang")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == expect)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("lm_ref_strata_col").asText == "lang")
  }

  test("substr_window stage: duplicated passage cut from the later doc, crumbs dropped") {
    import spark.implicits._
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    // mixed case: the shipped corpus must KEEP its casing (the stage uses
    // preserveCase — matching is case-insensitive, emission is not lowered)
    val bodyA = ("Unique First Story keeps on going with many other words " +
      "and even more distinct words to stay over the token floor ")
    val bodyB = ("another second story with its own totally different framing " +
      "and a long enough tail of words to stay over the floor too ")
    val dir = java.nio.file.Files.createTempDirectory("substr_in").toString
    Seq(
      (0L, bodyA + passage, "src"), // keeper: passage survives here
      (1L, bodyB + passage, "src"), // later copy: passage cut, body stays
      (2L, passage, "src")) // nothing but the passage -> crumbs, min_tokens drops it
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_substr").toString
    val cfg = TrainingSetConfig.parse(
      """{"substr_window":8,"min_tokens":5,"min_jaccard":0.99,
        |"chunk_budget":64,"pack_groups":2,"n_shards":2}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val shipped = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select(col("doc_id"), col("text")).collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(shipped.keySet == Set(0L, 1L), s"shipped: ${shipped.keySet}")
    assert(shipped(0L).contains("alpha bravo charlie"), "keeper kept its passage")
    assert(shipped(0L).contains("Unique First Story"),
      "shipped text keeps its original casing (preserveCase in the stage)")
    assert(!shipped(1L).contains("alpha bravo charlie"), "later copy cut")
    assert(shipped(1L).contains("another second story"), "unique body survives")
    assert(r.cleanDocs == 2)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("substr_window").asInt == 8)
  }

  test("c4 clean stage: bad lines leave the text, bad pages leave the corpus") {
    import spark.implicits._
    def page(tag: String) =
      s"The first $tag sentence has plenty of words here.\n" +
        "bad fragment\n" +
        s"The second $tag sentence also carries enough words along.\n" +
        s"The third $tag sentence closes the page out properly."
    val dir = java.nio.file.Files.createTempDirectory("c4_in").toString
    (Seq.tabulate(3)(i => (i.toLong, page(s"p$i"), "src3")) ++
      Seq((10L, "only one good sentence with enough words here.\nnothing else", "src3")))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_c4").toString
    val cfg = TrainingSetConfig.parse(
      """{"c4_clean":true,"min_jaccard":0.99,"chunk_budget":64,
        |"pack_groups":2,"n_shards":2}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    val kept = shards.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L), s"kept: $kept") // page 10: < 3 kept lines
    // the shipped text is the LINE-CLEANED form ("bad fragment" gone)
    val texts = shards.select(col("text")).collect().map(_.getString(0))
    assert(texts.forall(t => !t.contains("bad fragment") && t.count(_ == '\n') == 2))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("c4_clean").asBoolean)
    assert(r.cleanDocs == 3)
  }

  test("chunk_stride stage: packed train chunks are the overlapping windows") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_stride").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"chunk_stride":32,"pack_groups":4,"n_shards":8}""")
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    val trainDocs = shards.filter(col("split") === "train")
    // chunk membership equals the overlap chunker's, and exceeds the
    // non-overlapping form (the shared-context windows are extra rows)
    assert(r.trainChunks ==
      Corpus.chunkDocsOverlap(trainDocs, 64, 32).count())
    assert(r.trainChunks > Corpus.chunkDocs(trainDocs, 64).count())
    assert(packed.filter(col("n_tokens") > 64).count() == 0)
    // stride + BPE budgets refuse to combine
    intercept[IllegalArgumentException](TrainingSetConfig.parse(
      """{"chunk_stride":32,"bpe_train_merges":10}"""))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("chunk_stride").asInt == 32)
  }

  test("upsampling mixture: copies ship with distinct identities end to end") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // budget chosen so src3's rate lands at ~2 epochs over its CLEANED mass
    val t3 = Corpus.cleanCorpus(docs)
      .join(docs.select(col("doc_id"), col("text"), col("source")), Seq("doc_id"))
      .filter(col("source") === "src3")
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(t3 > 0, "fixture assumption: src3 has cleaned docs")
    val budget = math.ceil(2.0 * t3 / 0.6).toLong
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_rep").toString
    val cfg = TrainingSetConfig.parse(
      s"""{"chunk_budget":64,"pack_groups":4,"n_shards":8,"mix_repeats":true,
         |"mix_weights":{"src3":0.6,"src7":0.4},"mix_budget":$budget}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)

    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    // rate ~2 means src3 docs ship multiple epochs: duplicate doc_ids exist,
    // each copy with its own copy_idx / copy_uid
    assert(shards.groupBy(col("doc_id")).count().filter(col("count") > 1).count() > 0,
      "no doc shipped more than one epoch")
    assert(shards.select(col("copy_uid")).distinct().count() == shards.count())
    // shipped rows exceed shipped distinct docs — upsampling added epochs
    assert(r.mixedDocs == shards.count() &&
      r.mixedDocs > shards.select(col("doc_id")).distinct().count())
    // chunk identities stay unique through packing
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    assert(packed.select(col("chunk_id")).distinct().count() == packed.count())
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("mix_repeats").asBoolean)
  }

  test("BPE budgets: bpe_merges_path makes chunk+pack count merged-BPE tokens") {
    val mergesDir = java.nio.file.Files.createTempDirectory("trainset_merges")
    val mergesFile = mergesDir.resolve("merges.txt")
    // a real-shaped merges file: version header + the demo table's pairs
    java.nio.file.Files.write(mergesFile,
      ("#version: 0.2" +: graft.functions.TextFunctions.BpeMerges.map {
        case (a, b) => s"$a $b" }).asJava)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_bpe").toString
    val cfg = TrainingSetConfig.parse(
      s"""{"chunk_budget":64,"pack_groups":4,"n_shards":8,
         |"bpe_merges_path":"$mergesFile"}""".stripMargin)
    assert(cfg.bpeMergesPath.contains(mergesFile.toString))
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    assert(r.trainChunks > 0)

    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    val merges = graft.functions.TextFunctions.loadBpeMerges(mergesFile.toString)
    // every packed chunk's n_tokens IS the merged-BPE count of its text
    // under the loaded table — the budget the trainer's tokenizer sees
    val mismatch = packed.withColumn("recount",
      graft.functions.TextFunctions.bpeCount(col("chunk_text"), merges))
      .filter(col("recount") =!= col("n_tokens")).count()
    assert(mismatch == 0, s"$mismatch chunks with drifted BPE counts")
    // with merges in play the packed rows also carry the actual token-id
    // sequences, sized exactly n_tokens (one tokenizer for budget + ids)
    assert(packed.columns.contains("token_ids"))
    assert(packed.filter(size(col("token_ids")) =!= col("n_tokens")).count() == 0)
    // chunks respect the BPE budget up to one straddling word's cost
    assert(packed.filter(col("n_tokens") > 64 + 32).count() == 0)
    // BPE merges compress: chunk token counts differ from ws counts, so
    // the wiring demonstrably changed the budget metric
    val wsEq = packed.withColumn("ws", size(split(col("chunk_text"), " ")))
      .filter(col("ws") === col("n_tokens")).count()
    assert(wsEq < packed.count(), "BPE counts never diverged from ws counts")
    // manifest records the merges path
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("bpe_merges_path").asText == mergesFile.toString)
  }

  test("trained BPE budgets: bpe_train_merges learns, saves, and budgets with the table") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_bpetrain").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,"bpe_train_merges":32}""")
    assert(cfg.bpeTrainMerges.contains(32))
    // mutual exclusion with an explicit merges file is a config error
    intercept[IllegalArgumentException] {
      TrainingSetConfig.parse(
        """{"bpe_train_merges":32,"bpe_merges_path":"/tmp/m.txt"}""")
    }
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    assert(r.trainChunks > 0)
    // the learned table was saved in loadable GPT-2 format next to outputs
    val merges = graft.functions.TextFunctions.loadBpeMerges(
      TrainingSetJob.mergesPath(outRoot))
    assert(merges.nonEmpty && merges.length <= 32)
    // and the packed budgets were counted under exactly that table
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    val mismatch = packed.withColumn("recount",
      graft.functions.TextFunctions.bpeCount(col("chunk_text"), merges))
      .filter(col("recount") =!= col("n_tokens")).count()
    assert(mismatch == 0, s"$mismatch chunks with drifted trained-BPE counts")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("bpe_train_merges").asInt == 32 &&
      m.get("bpe_merges_file").asText == TrainingSetJob.mergesPath(outRoot))
  }

  test("normalize + domain cap stages: mangled text round-trips, per-source bound holds") {
    // mangle the corpus: wrap in tags and double every space (markup
    // strip + normalization undo both, so shipped text must equal the
    // ORIGINAL text)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mangledDir = java.nio.file.Files.createTempDirectory("trainset_mangled").toString
    docs.withColumn("text",
        concat(lit("<p>"), regexp_replace(col("text"), " ", "  "), lit("</p>")))
      .write.mode("overwrite").parquet(s"$mangledDir/docs")
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_norm").toString
    val cfg = TrainingSetConfig.parse(
      """{"strip_markup":true,"normalize":true,"cap_per_stratum":2,"chunk_budget":64,
        |"pack_groups":4,"n_shards":8}""".stripMargin)
    val r = TrainingSetJob.run(spark, s"$mangledDir/docs", outRoot, cfg)

    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    // normalization undid the mangling: shipped text equals the original
    val mismatched = shards.select(col("doc_id"), col("text"))
      .join(docs.select(col("doc_id"), col("text").as("orig")), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(mismatched == 0, s"$mismatched docs shipped non-original text")
    // with normalize off, the mangled text would ship mangled (stage wiring)
    assert(r.mixedDocs > 0)
    // cap: no source contributes more than 2 docs
    val over = shards.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).count().filter(col("count") > 2).count()
    assert(over == 0)
    // and the cleaning yield equals cleanCorpus over the NORMALIZED corpus
    // (which equals the original corpus here, mangling being reversible)
    assert(r.cleanDocs == Corpus.cleanCorpus(docs).count())
    // manifest records both stages
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("normalize").asBoolean && m.get("strip_markup").asBoolean &&
      m.get("cap_per_stratum").asInt == 2)
  }

  test("DSIR selection stage: ships exactly the top-k target-like clean docs") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_dsir").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":2,"n_shards":4,
        |"dsir_top_k":5,"dsir_target_col":"source","dsir_target_value":"src3"}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    assert(r.mixedDocs == 5 && r.cleanDocs > 5)
    // shipped set == the operator's own top-k over the cleaned corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cleaned = Corpus.cleanCorpus(docs)
      .join(docs.select(col("doc_id"), col("text"), col("source")), Seq("doc_id"))
    val expect = graft.operators.Selection
      .dsirTopK(cleaned, col("source") === "src3", 5)
      .collect().map(_.getLong(0)).toSet
    val shipped = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shipped == expect)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8"))
    assert(m.get("dsir_top_k").asInt == 5 && m.get("dsir_target_value").asText == "src3")
  }

  test("weighted-sample selection stage: deterministic A-Res draw of k docs") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_wsamp").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":2,"n_shards":4,
        |"sample_k":7,"sample_weight_col":"n_chars"}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    assert(r.mixedDocs == 7)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cleaned = Corpus.cleanCorpus(docs)
      .join(docs.select(col("doc_id"), col("text"), col("n_chars")), Seq("doc_id"))
    val expect = graft.operators.Selection
      .sampleWeighted(cleaned, col("n_chars"), 7)
      .collect().map(_.getLong(0)).toSet
    val shipped = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shipped == expect)
  }

  test("sentence chunking stage: packed chunks equal chunkDocsSentences over the train split") {
    import spark.implicits._
    // own punctuated corpus: the shared fixture docs carry no terminators
    // (every doc would be one oversized single-sentence chunk). Long
    // multi-sentence docs, distinct tails to dodge exact/near dedup.
    val sent = "the quick fox jumped over the lazy dog near the old barn"
    val dir = java.nio.file.Files.createTempDirectory("sent_in").toString
    Seq.tabulate(24) { i =>
      val body = (0 until 6).map(j => s"$sent tail$i word$j.").mkString(" ")
      (i.toLong, body, "src1")
    }.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_sent").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_sentences":true,"chunk_budget":16,"min_jaccard":0.99,
        |"pack_groups":2,"n_shards":4}""".stripMargin)
    val r = TrainingSetJob.run(spark, dir, outRoot, cfg)
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    val train = shards.filter(col("split") === "train")
    val expect = Corpus.chunkDocsSentences(train, 16)
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    assert(r.trainChunks == expect.count() && packed.count() == expect.count())
    // a chunk's text is whole sentences: boundary integrity survives
    // the job wiring (non-final chunks end in a terminator run)
    val byDoc = packed
      .join(expect.select(col("chunk_id"), col("doc_id"), col("chunk")), Seq("chunk_id"))
      .select(col("doc_id"), col("chunk"), col("chunk_text")).collect()
      .groupBy(_.getLong(0))
    val nonFinal = byDoc.values.flatMap(rows =>
      rows.sortBy(_.getLong(1)).dropRight(1)).map(_.getString(2))
    assert(nonFinal.nonEmpty, "fixture produced no multi-chunk docs")
    nonFinal.foreach(t => assert(t.isEmpty || t.matches(".*[.!?]+$"),
      s"chunk ends mid-sentence: [$t]"))
    // exclusivity: sentence atoms have no stride/BPE form
    intercept[IllegalArgumentException] {
      TrainingSetConfig.parse("""{"chunk_sentences":true,"chunk_stride":32}""")
    }
    intercept[IllegalArgumentException] {
      TrainingSetConfig.parse("""{"chunk_sentences":true,"emit_ids":true}""")
    }
  }

  test("soft_dedup branch: near-dup members ship reweighted, cluster unit mass survives the pipeline") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_soft").toString
    val cfg = TrainingSetConfig.parse(
      """{"soft_dedup":true,"chunk_budget":64,"pack_groups":2,"n_shards":4}""")
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // soft keeps every near-dup member the hard form removes
    val hardClean = Corpus.cleanCorpus(docs).count()
    assert(r.cleanDocs == Corpus.cleanCorpus(docs, softDedup = true).count())
    assert(r.cleanDocs > hardClean,
      "fixture has no near-dup clusters — the soft branch is untested")
    // the weight column rides all the way into the shards, in (0, 1]
    val shards = spark.read.parquet(TrainingSetJob.shardsDir(outRoot))
    assert(shards.columns.contains("weight"))
    assert(shards.count() == r.cleanDocs)
    assert(shards.filter(col("weight") <= 0 || col("weight") > 1).count() == 0)
    // UNIT MASS, end to end: hard dedup ships exactly one doc per
    // near-dup cluster (singletons included), so Σ shipped weights ==
    // #clusters == the hard-dedup count — each cluster contributes
    // exactly one document of mass however many variants it ships
    // (tolerance: weights are 6dp-quantized, 1e-6 per member)
    val mass = shards.agg(sum(col("weight"))).head.getDouble(0)
    assert(math.abs(mass - hardClean) < 0.01,
      s"shipped mass $mass != cluster count $hardClean")

    // composability: a downstream A-Res draw ON the soft weights —
    // reweight-then-sample (the dedup_soft_sample composition) as one
    // job config, the near-dup-debiased draw the weights exist for
    val outRoot2 = java.nio.file.Files.createTempDirectory("trainset_soft2").toString
    val cfg2 = TrainingSetConfig.parse(
      """{"soft_dedup":true,"sample_k":9,"sample_weight_col":"weight",
        |"chunk_budget":64,"pack_groups":2,"n_shards":4}""".stripMargin)
    val r2 = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot2, cfg2)
    assert(r2.mixedDocs == 9)
    val soft = Corpus.cleanCorpus(docs, softDedup = true)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    val expect = graft.operators.Selection
      .sampleWeighted(soft, col("weight"), 9)
      .collect().map(_.getLong(0)).toSet
    val shipped = spark.read.parquet(TrainingSetJob.shardsDir(outRoot2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shipped == expect)
  }

  test("gopher gate: the signals kernel appears exactly once in the optimized plan") {
    // the job's gate shape: gopherKeep is ONE boolean kernel, so the
    // optimized plan must contain exactly one kernel expression and zero
    // exploded signal structs. (Every evaluate-once plan shape built from
    // the struct — hand-projected alias, Catalyst `With` — was measured
    // re-substituted to 63 kernel copies by predicate pushdown, which is
    // why the verdict is its own expression.)
    // (parquet-backed so ConvertToLocalRelation can't fold the plan away)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val gated = docs.filter(graft.functions.TextFunctions.gopherKeep(col("text")))
    val optimized = gated.queryExecution.optimizedPlan
    def countIn(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]): Int =
      optimized.collect { case p =>
        p.expressions.map(_.collect(pf).size).sum
      }.sum
    def kernelCalls(method: String): Int = countIn {
      case k: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          if k.functionName == method => ()
    }
    assert(kernelCalls("gopherKeep") == 1, s"plan:\n$optimized")
    assert(kernelCalls("gopherSignals") == 0, s"plan:\n$optimized")
    // and the gate verdict itself is unchanged vs the assembled form
    // (per-row agreement incl. a crafted keeper is pinned in
    // TextExpressionsSpec — the synthetic corpus keeps nothing)
    val naive = docs.filter(graft.functions.TextFunctions
      .gopherColumns(col("text")).toMap.apply("keep"))
    assert(gated.count() == naive.count())
  }

  test("config: dsir and weighted-sample selection are mutually exclusive") {
    assertThrows[IllegalArgumentException] {
      TrainingSetConfig.parse(
        """{"dsir_top_k":5,"dsir_target_value":"x","sample_k":3}""")
    }
    assertThrows[IllegalArgumentException] {
      TrainingSetConfig.parse("""{"dsir_top_k":5}""") // missing target value
    }
  }

  test("emission stage: emit_ids + emit_boundaries ship loader-ready output consistent with the manifest") {
    val outRoot = java.nio.file.Files.createTempDirectory("trainset_emit").toString
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,
        |"emit_ids":true,"emit_boundaries":true}""".stripMargin)
    val r = TrainingSetJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outRoot, cfg)
    assert(r.trainChunks > 0 && r.trainBins > 0)

    // packed rows carry token ids under the canonical merges, and the
    // emission is budget-faithful: size(token_ids) == n_tokens row-wise
    // (the chunker counted the SAME tokenizer the emitter encodes with)
    val packed = spark.read.parquet(TrainingSetJob.packedDir(outRoot))
    assert(packed.columns.contains("token_ids"))
    assert(packed.filter(size(col("token_ids")) =!= col("n_tokens")).count() == 0)

    // boundary manifest ⟷ emitted ids: bin sets identical, and per
    // (grp, bin) the manifest's member count / token total equal both the
    // packed rows' n_tokens sum AND the emitted ids' total length
    val bounds = spark.read.parquet(TrainingSetJob.boundariesDir(outRoot))
    val agg = packed.groupBy(col("grp"), col("bin")).agg(
      count(lit(1)).as("nc"), sum(col("n_tokens")).as("bt"),
      sum(size(col("token_ids"))).as("it"))
    val j = bounds.join(agg, Seq("grp", "bin"), "full")
    assert(j.filter(col("n_chunks").isNull || col("nc").isNull).count() == 0,
      "boundary manifest and packed output disagree on the bin set")
    assert(j.filter(col("n_chunks") =!= col("nc") ||
      col("bin_tokens") =!= col("bt") || col("bin_tokens") =!= col("it"))
      .count() == 0, "boundary counts drifted from the emitted ids")

    // the id@offset entries parse back to exactly each bin's members,
    // offsets inside (-budget, budget) (negative = straddler head)
    val parsed = bounds
      .select(col("grp"), col("bin"),
        explode(split(col("manifest"), ",")).as("m"))
      .select(col("grp"), col("bin"),
        regexp_extract(col("m"), "^(.*)@(-?\\d+)$", 1).as("chunk_id"),
        regexp_extract(col("m"), "^(.*)@(-?\\d+)$", 2).cast("long").as("off"))
    val members = packed.select(col("grp"), col("bin"), col("chunk_id"))
    assert(parsed.select(col("grp"), col("bin"), col("chunk_id"))
      .except(members).count() == 0)
    assert(members.except(
      parsed.select(col("grp"), col("bin"), col("chunk_id"))).count() == 0)
    // exact offset contract: a member assigned to a bin ends inside it
    // (running ∈ (bin·B, (bin+1)·B]), so its start offset lies in
    // (-n_tokens, budget). Negative = straddler begun in an earlier bin —
    // ordinary one-boundary straddles, and multi-bin ones when a BPE
    // chunk exceeds the budget (a single pre-token's cost can; the
    // chunker cannot split below token granularity).
    val offJoined = parsed.join(
      packed.select(col("grp"), col("bin"), col("chunk_id"), col("n_tokens")),
      Seq("grp", "bin", "chunk_id"))
    assert(offJoined.filter(
      col("off") >= 64 || col("off") <= -col("n_tokens")).count() == 0)

    // the merges the ids mean are saved next to the outputs; the job
    // manifest records the effective emission flags
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(TrainingSetJob.mergesPath(outRoot))))
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TrainingSetJob.manifestPath(outRoot))), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(m.get("emit_ids").asBoolean && m.get("emit_boundaries").asBoolean)
  }

  test("config: emit_ids and chunk_stride are mutually exclusive") {
    assertThrows[IllegalArgumentException] {
      TrainingSetConfig.parse("""{"emit_ids":true,"chunk_stride":32}""")
    }
  }

  test("stage resume: a crash after the shards stage re-runs only the tail; resume == single-shot byte-identical") {
    val docsDir = "/root/testdata/sf0.001/documents.parquet"
    val cfg = TrainingSetConfig.parse(
      """{"chunk_budget":64,"pack_groups":4,"n_shards":8,
        |"bpe_train_merges":24,"emit_boundaries":true}""".stripMargin)
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
      f.delete(); ()
    }
    def bytes(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)).toSeq
    def packedRows(root: String) = spark.read
      .parquet(TrainingSetJob.packedDir(root))
      .select(col("chunk_id"), col("grp"), col("bin"), col("running"),
        col("n_tokens"), col("chunk_text"), col("token_ids"))
      .collect().map(_.toString).toSet
    def boundRows(root: String) = spark.read
      .parquet(TrainingSetJob.boundariesDir(root))
      .collect().map(_.toString).toSet

    // control: one uninterrupted run
    val ctl = java.nio.file.Files.createTempDirectory("ts_rctl").toString
    val rCtl = TrainingSetJob.run(spark, docsDir, ctl, cfg)

    // the crashed run: complete once, then erase what a crash DURING the
    // packed write leaves missing — packed/, boundaries/, the manifest,
    // and their stage markers; shards/ + its marker + merges.txt survive
    val root = java.nio.file.Files.createTempDirectory("ts_res").toString
    TrainingSetJob.run(spark, docsDir, root, cfg)
    val firstManifest = bytes(TrainingSetJob.manifestPath(root))
    rmrf(TrainingSetJob.packedDir(root))
    rmrf(TrainingSetJob.boundariesDir(root))
    rmrf(TrainingSetJob.manifestPath(root))
    new java.io.File(s"$root/_resume").listFiles()
      .filter(f => f.getName.endsWith("_packed") ||
        f.getName.endsWith("_boundaries"))
      .foreach(_.delete())
    // sentinel: the shards output must NOT be rewritten by the resume
    val shardsSucc = new java.io.File(
      TrainingSetJob.shardsDir(root), "_SUCCESS")
    val shardsMtime = shardsSucc.lastModified()
    val mergesMtime = new java.io.File(
      TrainingSetJob.mergesPath(root)).lastModified()

    val r2 = TrainingSetJob.run(spark, docsDir, root, cfg)
    assert(r2 == rCtl, "resumed run's Result diverged from single-shot")
    assert(shardsSucc.lastModified() == shardsMtime,
      "resume re-ran the cleaning cascade / shard write")
    assert(new java.io.File(TrainingSetJob.mergesPath(root))
      .lastModified() == mergesMtime, "resume re-trained the merges table")
    // byte-identical manifest (vs this root's own single-shot run;
    // cross-root comparison normalizes the embedded merges-file path),
    // identical packed + boundaries content, identical merges table
    // (the trained table reloaded from merges.txt)
    assert(bytes(TrainingSetJob.manifestPath(root)) == firstManifest)
    def normManifest(r: String) = new String(
      bytes(TrainingSetJob.manifestPath(r)).toArray, "UTF-8")
      .replace(r, "<ROOT>")
    assert(normManifest(root) == normManifest(ctl))
    assert(bytes(TrainingSetJob.mergesPath(root)) ==
      bytes(TrainingSetJob.mergesPath(ctl)))
    assert(packedRows(root) == packedRows(ctl))
    assert(boundRows(root) == boundRows(ctl))

    // re-run on a COMPLETED root: every stage skips (the packed write is
    // the expensive tail — its _SUCCESS must survive untouched)
    val packedSucc = new java.io.File(
      s"${TrainingSetJob.packedDir(root)}/_SUCCESS")
    val packedMtime = packedSucc.lastModified()
    val r3 = TrainingSetJob.run(spark, docsDir, root, cfg)
    assert(r3 == rCtl)
    assert(packedSucc.lastModified() == packedMtime,
      "no-op re-run rewrote the packed output")

    // a SEMANTIC config change is a different run (markers miss); a
    // posture-only change (checkpoint dir) is the same run and resumes
    assert(TrainingSetJob.runKey(docsDir, cfg) !=
      TrainingSetJob.runKey(docsDir, cfg.copy(chunkBudget = 65)))
    assert(TrainingSetJob.runKey(docsDir, cfg) ==
      TrainingSetJob.runKey(docsDir,
        cfg.copy(checkpointDir = Some("/tmp/ck"))))
  }
}
