package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.{IvfIndex, PqModel}

/**
 * Prebuilt, persisted serving artifacts per data directory — the
 * production split the declared `sim_*`, registry and model queries
 * serve from.
 *
 * WHY: an ANN deployment trains its models and lays out its index ONCE
 * (then grows it incrementally — [[growServingLayout]]); queries only
 * PROBE. A benchmark whose every `sim_topk_*` invocation re-runs two
 * k-means trainings before a 5-query probe measures training, not
 * serving — and the triad of
 * ivfpq queries would train the same models three times over. This
 * object is the Fixtures-style bridge: the first query against a data
 * directory builds the artifact family it reads through the library's
 * own persist writers ([[Similarity.writeLshIndex]],
 * [[Similarity.writeIvfIndex]], [[Similarity.writePqIndex]],
 * [[Similarity.writeCellCodes]] — the partition-pruned layouts
 * SCALING.md documents), and every later query reads the persisted
 * relations. Training cost stays visible as its own declared build step:
 * each [[Family]] names one, and `SparkEntry.builds` runs it
 * unconditionally.
 *
 * DETERMINISM: every build step (hash-ordered k-means seeding, Lloyd
 * rounds over exact means, parquet float round-trips) is deterministic
 * given the data, so a query served from the persisted artifacts is
 * bit-identical to one that trained inline — the `*_full` bridge
 * oracles hash-verify exactly that equality end to end.
 *
 * STALENESS: an entry's [[Key]] fingerprints every file under the
 * family's source table (relative path + length + mtime, recursively),
 * so regenerated test data — even a single rewritten part file — can
 * never be served a previous dataset's artifact; and it fingerprints the
 * engine's own class files ([[codeFingerprint]]), so an artifact is only
 * ever served to the code that built it. A commit prunes the entries
 * other code left over the same data, all but the most recently served
 * one ([[prune]]).
 */
object AnnIndex {

  /** Model geometry shared by every declared sim_* query. */
  val Dim = 64
  val NCells = 16
  val PqM = 8
  val PqK = 16
  val Iters = 2

  /** Default IVF-PQ SERVE operating point — from the measured
    * recall-vs-cost curve (SCALING.md r20, SCRATCH_ANNSWEEP: nProbe ×
    * overscan at two corpus sizes against brute force). On an
    * UNSTRUCTURED corpus (synthetic near-random vectors — the pruning
    * worst case) recall is probe-bound AND re-rank-bound: ≥0.9 recall@10
    * first appears at probing 3/4 of the cells with a 50·k exact re-rank
    * shortlist — (12 of 16, 50) reads 0.931 at the small rung, (12, 100)
    * 0.931–0.944 at both rungs — while the old fixed point (4, 10)
    * reads 0.49. Real corpora with cluster structure sustain recall at
    * far smaller probe fractions (the r19 growth rung climbs 0.55 → 1.0
    * as neighborhood structure accumulates), so these defaults are the
    * CONSERVATIVE floor: start here, monitor recall, and lower nProbe /
    * raise nCells as the corpus's structure reveals itself — cost
    * scales with probed-cell occupancy (the sweep's adc_rows column),
    * so structured corpora buy their speed back immediately. */
  val ServeNProbe = 12
  val ServeOverscan = 50

  /** Matryoshka serving cut width shared by every declared MRL query. */
  val MrlDims = 16

  // ------------------------------------------------- the artifact cache

  /** One cached artifact family, declared once: the build step that
    * times its build (`SparkEntry.builds`), the source table its data key
    * fingerprints, the suffix that names its cache entries, and the build
    * that lays it out under a directory, returning a one-row-per-artifact
    * summary. */
  private[graft] final case class Family(step: String, table: String,
      suffix: String, build: (SparkSession, String, String) => DataFrame)

  private val Ann = Family("sim_index_build", "embeddings", "", buildAll)
  private val Mrl = Family("mrl_index_build", "embeddings", "_mrl", buildMrlPrefixes)
  private val SemReg = Family("sem_registry_build", "embeddings", "_semreg", buildSemRegistry)
  private val SubstrReg =
    Family("substr_registry_build", "documents", "_substrreg", buildSubstrRegistry)
  private val Logreg = Family("logreg_model_build", "documents", "_logreg", buildLogregModel)
  private val LmRef = Family("lm_ref_model_build", "documents", "_lmref", buildLmRefModel)
  private val Dsir = Family("dsir_model_build", "documents", "_dsir", buildDsirModel)
  private val Nb = Family("nb_model_build", "documents", "_nb", buildNbModel)

  private[graft] val families: Seq[Family] =
    Seq(Ann, Mrl, SemReg, SubstrReg, Logreg, LmRef, Dsir, Nb)

  /** `fam`'s build step: the full training and layout cost as its own
    * ledger number, run unconditionally into a throwaway directory that
    * is deleted before returning (Bench invokes builds repeatedly). */
  private[graft] def buildFresh(spark: SparkSession, sfDir: String,
      fam: Family): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_${fam.step}").toFile
    try fam.build(spark, sfDir, tmp.getPath)
    finally deleteRecursively(tmp)
  }

  private def cacheRoot: String =
    sys.env.getOrElse("GRAFT_ANN_CACHE",
      s"${System.getProperty("java.io.tmpdir")}/graft_ann_cache")

  /** MD5 over the bytes of every `graft/**/*.class` in the class path
    * entry this object loaded from — a jar or a classes directory — in
    * path order, computed once per JVM. Any change to the compiled engine
    * flips it, so [[keyOf]] keys every artifact by the code that built
    * it. */
  private[graft] lazy val codeFingerprint: String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(name: String, bytes: Array[Byte]): Unit = {
      md.update(name.getBytes("UTF-8")); md.update(bytes)
    }
    val src = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (java.nio.file.Files.isDirectory(src)) {
      val walk = java.nio.file.Files.walk(src.resolve("graft"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".class"))
        .map(p => src.relativize(p).toString).toSeq.sorted
        .foreach(rel => add(rel, java.nio.file.Files.readAllBytes(src.resolve(rel))))
      finally walk.close()
    } else {
      val jar = new java.util.jar.JarFile(src.toFile)
      try jar.entries.asScala
        .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
        .toSeq.sortBy(_.getName)
        .foreach(e => add(e.getName, jar.getInputStream(e).readAllBytes()))
      finally jar.close()
    }
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** A cache entry's key, in two parts: `data` fingerprints the source
    * table (behind the data directory's name, so a listing reads), `code`
    * the engine that builds ([[codeFingerprint]]). An entry lives at
    * `<root>/<data>_<code><suffix>`; keeping the parts apart lets a
    * commit find the entries other code built over the same data. */
  private[graft] final case class Key(data: String, code: String)

  private[graft] def keyOf(sfDir: String, table: String = "embeddings",
      code: String = codeFingerprint): Key = {
    // every file under the source table's parquet (Spark datasets are
    // directories), relative path + length + mtime, sorted — a
    // regenerated part file, added part, or re-written footer all flip
    // the key even when the top-level entry looks unchanged
    val root = new java.io.File(s"$sfDir/$table.parquet")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    // RELATIVE path, not bare name: partitioned layouts repeat part-file
    // names across subdirectories (lang=en/part-00000 vs lang=de/part-00000),
    // and a name-keyed multiset cannot see an mtime-preserving content swap
    // between them
    val fp = s"$sfDir|${walk(root).map(f =>
      s"${root.toPath.relativize(f.toPath)}|${f.length()}|${f.lastModified()}").mkString(";")}"
    Key(new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_" + Keys.md5Hex12(fp), code)
  }

  private val Ready = "_GRAFT_READY"

  /** Entries this JVM has served (each touched once, see [[ensureDir]]). */
  private val served = scala.collection.mutable.Set.empty[String]

  /**
   * The one commit path for `key`'s entry of the family named by
   * `suffix` under `root`, cross-PROCESS safe: an absent entry is built
   * into a process-unique staging directory, marked `_GRAFT_READY`, and
   * atomically renamed into place, so a concurrent JVM (bench and verify
   * sharing the default cache) sees the complete entry or none of it —
   * never a half-written index. The rename loser deletes its staging copy
   * and serves the winner's (identical — builds are deterministic, see
   * the class doc). `synchronized` serializes threads within this JVM so
   * one session builds once, not once per query. A commit [[prune]]s
   * what other code left over the same data; each JVM's first serve of an
   * entry touches its marker, the "most recently served" clock prune
   * reads.
   */
  private[graft] def ensureDir(root: String, key: Key, suffix: String)(
      build: String => Unit): String = synchronized {
    val path = s"$root/${key.data}_${key.code}$suffix"
    val marker = new java.io.File(path, Ready)
    if (!marker.exists()) {
      val staging = new java.io.File(
        s"$path.staging_${ProcessHandle.current().pid()}")
      deleteRecursively(staging)
      build(staging.getPath)
      java.nio.file.Files.createFile(new java.io.File(staging, Ready).toPath)
      try {
        java.nio.file.Files.move(staging.toPath, new java.io.File(path).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        prune(root, key, suffix)
      } catch {
        case _: java.nio.file.FileSystemException =>
          // another process committed first; its entry is byte-equivalent
          // — serve theirs if it is complete
          deleteRecursively(staging)
          if (!marker.exists()) throw new IllegalStateException(
            s"artifact cache entry $path exists without its $Ready marker " +
              "(partial build from a crashed or pre-atomic writer) — " +
              "delete it and retry")
      }
    }
    if (served.add(path)) marker.setLastModified(System.currentTimeMillis())
    path
  }

  /** After `key`'s entry commits: of the complete entries that OTHER code
    * built for the same family and data key, keep the most recently
    * served one — a parent/change A/B pair shares the default root — and
    * delete the rest. A directory without its marker is never touched
    * ([[ensureDir]] fails loudly on it instead). */
  private def prune(root: String, key: Key, suffix: String): Unit = {
    import java.util.regex.Pattern.quote
    val sibling = (quote(s"${key.data}_") + "([0-9a-f]{12})" + quote(suffix)).r
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(d => d.getName match {
        case sibling(code) => code != key.code
        case _ => false
      })
      .map(d => d -> new java.io.File(d, Ready))
      .filter(_._2.exists())
      .sortBy(-_._2.lastModified())
      .drop(1)
      .foreach(e => deleteRecursively(e._1))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) f.delete()
  }

  /** The one serve path: `fam`'s entry for `sfDir` is keyed, built and
    * committed if absent ([[ensureDir]]), and `rel` under it is loaded by
    * `read` once per session ([[SessionMemo]]). The readers pay
    * driver-side work per call — `readIvfIndex` collects centroids (a
    * Spark job), `readPqIndex` a collect, and every reader re-lists
    * parquet footers — for artifacts that are IMMUTABLE by construction:
    * the entry path embeds both key parts, so changed data or code
    * resolves to a different path and is never served a stale model. */
  private def serve[T <: AnyRef](spark: SparkSession, sfDir: String,
      fam: Family, rel: String)(read: String => T): T = {
    val dir = ensureDir(cacheRoot, keyOf(sfDir, fam.table), fam.suffix)(
      fam.build(spark, sfDir, _).collect())
    SessionMemo(spark, s"$dir/$rel")(read(s"$dir/$rel"))
  }

  def lshFull(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Ann, "lsh_full")(Similarity.readLshIndex(spark, _))
  def lsh300(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Ann, "lsh_300")(Similarity.readLshIndex(spark, _))
  def ivfFull(spark: SparkSession, sfDir: String): IvfIndex =
    serve(spark, sfDir, Ann, "ivf_full")(Similarity.readIvfIndex(spark, _))
  def ivf300(spark: SparkSession, sfDir: String): IvfIndex =
    serve(spark, sfDir, Ann, "ivf_300")(Similarity.readIvfIndex(spark, _))
  /** (full-corpus codes, model). */
  def pqFull(spark: SparkSession, sfDir: String): (DataFrame, PqModel) =
    serve(spark, sfDir, Ann, "pq_full")(Similarity.readPqIndex(spark, _))
  def codes300(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Ann, "codes_300")(spark.read.parquet(_))
  def cellCodes300(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Ann, "cellcodes_300")(Similarity.readCellCodes(spark, _))
  def mrlFull(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Mrl, "mrl_full")(Similarity.readMrlPrefixes(spark, _))
  def mrl300(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Mrl, "mrl_300")(Similarity.readMrlPrefixes(spark, _))

  /** Path of the persisted semantic-dedup registry for `sfDir`, assigned
    * under [[kmeansSeeds]] — the centroids its probe must pass. Served,
    * not rebuilt per probe, so `dedup_semantic_inc` measures the
    * increment PROBE only — the production serve split: a live pipeline
    * writes its registry once and appends after each probed batch. */
  def semRegistryPath(spark: SparkSession, sfDir: String): String =
    serve(spark, sfDir, SemReg, "registry")(identity)
  /** Path of the persisted substring-dedup registry for `sfDir`:
    * `dedup_substr_inc` serves the increment probe only. */
  def substrRegistryPath(spark: SparkSession, sfDir: String): String =
    serve(spark, sfDir, SubstrReg, "registry")(identity)
  /** The persisted (bucket, w) logreg model `quality_logreg_inc` scores
    * from map-only. */
  def logregModel(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Logreg, "model")(spark.read.parquet(_))
  /** The persisted reference-LM model (cbg, uni): serving folds the
    * left-context totals from cbg itself since the r21 window fold, so
    * the persisted `cw` relation (still written — one model serves every
    * reader, including external ones) is not loaded here. */
  def lmRefModel(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    (serve(spark, sfDir, LmRef, "cbg")(spark.read.parquet(_)),
      serve(spark, sfDir, LmRef, "uni")(spark.read.parquet(_)))
  /** The persisted DSIR (bucket, log_ratio) model `dsir_weights_inc`
    * scores from. */
  def dsirModel(spark: SparkSession, sfDir: String): DataFrame =
    serve(spark, sfDir, Dsir, "model")(spark.read.parquet(_))
  /** Path of the persisted NB router model (path-based: the serve,
    * `nbClassifyFromModel`, reads two relations). */
  def nbModelPath(spark: SparkSession, sfDir: String): String =
    serve(spark, sfDir, Nb, "model")(identity)

  /** The k-means seed model of `sfDir`'s embeddings (its 8 lowest-id
    * vectors): the centroids the semantic registry is assigned under and
    * every declared k-means query starts from. A constant of a data
    * directory, fetched once per JVM — Bench and Verify are fresh JVMs
    * per run, so regenerated test data is never served a stale model. */
  private val seedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  def kmeansSeeds(spark: SparkSession, sfDir: String): Array[Array[Float]] =
    seedMemo.computeIfAbsent(sfDir, _ =>
      Similarity.kmeansSeeds(embeddingsOf(spark, sfDir), 8))

  // ---------------------------------------------------- family builds

  private def embeddingsOf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def documentsOf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Train + lay out every ANN serving artifact for `sfDir`'s embeddings
    * (the `sim_index_build` family). */
  private def buildAll(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    val e = embeddingsOf(spark, sfDir)
    val corpus300 = e.filter(col("vec_id") < 300)
    // The seven artifacts form a shallow dependency graph — the two LSH
    // and two IVF builds are independent of each other and of the PQ
    // chain (train → encode → cellcodes, which also needs ivf_300) — so
    // submit them as concurrent Spark jobs ([[Overlap]]): the scheduler
    // interleaves their stages across the executor cores and wall-clock
    // drops to the PQ critical path. Each build depends only on its inputs
    // and every step is deterministic, so concurrency cannot change any
    // artifact byte (the *_full bridge oracles would catch it if it
    // could). At cluster scale each training pass saturates the executors
    // and the overlap matters less, but concurrent submission never hurts:
    // FIFO scheduling drains the independent DAGs back-to-back.
    val (_, (ivfFull, ivf300, pq, codes300)) = Overlap.both(spark)(
      Overlap.all(spark)(Seq(
        () => Similarity.writeLshIndex(
          Similarity.buildLshIndex(e, dim = Dim), s"$path/lsh_full"),
        () => Similarity.writeLshIndex(
          Similarity.buildLshIndex(corpus300, dim = Dim), s"$path/lsh_300"))), {
      // ONE fused training pass drives both IVF models and the PQ
      // codebooks (Similarity.trainAnnModels): one seed collect for the
      // full side, one aggregation job per Lloyd round instead of three —
      // the round-trip ladder was the build's critical path (r21). ONE PQ
      // model (trained on the full set — what every declared pq query
      // uses), TWO code relations: full-corpus codes for the single-query
      // probes, corpus<300 codes for the batch joins.
      val (ivfFull, ivf300, pq) = Similarity.trainAnnModels(
        e, corpus300, nCells = NCells, m = PqM, k = PqK, iters = Iters)
      val codes300 = Similarity.pqEncode(corpus300, pq)
      // every artifact below depends only on the trained models — fan
      // the five writes out as concurrent jobs (guide-§2.6 back-fill);
      // the cellcodes build joins the codes300 LINEAGE, not the written
      // parquet, so both writes are independent jobs
      Overlap.all(spark)(Seq(
        () => Similarity.writeIvfIndex(ivfFull, s"$path/ivf_full"),
        () => Similarity.writeIvfIndex(ivf300, s"$path/ivf_300"),
        () => Similarity.writePqIndex(Similarity.pqEncode(e, pq), pq, s"$path/pq_full"),
        () => Writes(codes300).mode("overwrite").parquet(s"$path/codes_300"),
        () => Similarity.writeCellCodes(
          Similarity.buildCellCodes(ivf300, codes300), s"$path/cellcodes_300")))
      (ivfFull, ivf300, pq, codes300)
    })
    Seq(
      ("lsh_full", Dim.toLong), ("lsh_300", Dim.toLong),
      ("ivf_full", ivfFull.centroids.length.toLong),
      ("ivf_300", ivf300.centroids.length.toLong),
      ("pq_full", (pq.m * pq.k).toLong),
      ("codes_300", codes300.count()),
      ("cellcodes_300", NCells.toLong))
      .toDF("artifact", "n")
  }

  /** Lay out the persisted MRL prefix relations (full corpus + the <300
    * batch-join corpus) — the `mrl_index_build` family: one map-only
    * projection pass each ([[Similarity.writeMrlPrefixes]]), kDims/Dim of
    * the corpus bytes on disk. */
  private def buildMrlPrefixes(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    val e = embeddingsOf(spark, sfDir)
    // the two prefix relations are independent map-only writes — submit
    // concurrently (guide-§2.6 overlap, the buildAll/buildLmRefModel
    // posture) so the small write's jobs back-fill the big write's tail
    Overlap.all(spark)(Seq("mrl_full" -> e, "mrl_300" -> e.filter(col("vec_id") < 300))
      .map { case (name, vecs) => () => {
        Similarity.writeMrlPrefixes(vecs, MrlDims, s"$path/$name")
        name -> spark.read.parquet(s"$path/$name").count()
      }})
      .toDF("artifact", "n")
  }

  /** Lay out the persisted semantic-dedup registry (vec_id < 300 assigned
    * under [[kmeansSeeds]], cell-partitioned) — the `sem_registry_build`
    * family. The centroids are a function of the data, so the data key
    * covers them. */
  private def buildSemRegistry(spark: SparkSession, sfDir: String,
      path: String): DataFrame = {
    import spark.implicits._
    Similarity.writeSemanticRegistry(
      embeddingsOf(spark, sfDir).filter(col("vec_id") < 300),
      kmeansSeeds(spark, sfDir), s"$path/registry")
    Seq(("sem_registry", spark.read.parquet(s"$path/registry").count()))
      .toDF("artifact", "n")
  }

  /** Lay out the persisted substring-dedup registry (original windows of
    * docs < 250, md5-bridge keyed) — the `substr_registry_build` family. */
  private def buildSubstrRegistry(spark: SparkSession, sfDir: String,
      path: String): DataFrame = {
    import spark.implicits._
    val d = documentsOf(spark, sfDir).select(col("doc_id"), col("text"))
    Writes(graft.operators.Dedup.substrRegistry(d.filter(col("doc_id") < 250),
        n = 20, md5Bridge = true))
      .mode("overwrite").parquet(s"$path/registry")
    Seq(("substr_registry", spark.read.parquet(s"$path/registry").count()))
      .toDF("artifact", "n")
  }

  /** Train + persist the logistic-regression quality model for `sfDir`'s
    * documents — the `logreg_model_build` family (deterministic: the
    * 9dp-quantized GD loop, so serving from the cache is bit-identical to
    * training inline). The summary's n is the persisted relation's row
    * count, read BACK from parquet so the build verifiably round-trips. */
  private def buildLogregModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    Writes(graft.operators.Selection.logregModel(
        documentsOf(spark, sfDir), col("lang") === "en"))
      .mode("overwrite").parquet(s"$path/model")
    Seq(("logreg_model", spark.read.parquet(s"$path/model").count()))
      .toDF("artifact", "n")
  }

  /** Train + persist the reference-LM model (bigram counts, left-context
    * totals, unigram counts — `Corpus.lmRefModelRelations` over the
    * declared 20% hash-sample reference) — the `lm_ref_model_build`
    * family; counts are exact longs, so serving from the parquet round
    * trip is bit-identical to folding inline. Persisted UNPRUNED: count
    * pruning is a serve-time floor, so one model serves every
    * `min_bigram_count`. */
  private def buildLmRefModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    // pin the reference sample: cbg and uni are independent folds over
    // the same tokenization, and cw derives from the WRITTEN cbg — left
    // as lineage, the three writes would re-execute the reference scan
    // and the pairs aggregation ~3× (r19 review finding)
    val ref = graft.operators.Materialize(
      documentsOf(spark, sfDir)
        .filter(graft.operators.Corpus.hashBucket(col("doc_id")) < 20)
        .select(col("doc_id"), col("text")), None)
    val (cbg, _, uni) = graft.operators.Corpus.lmRefModelRelations(ref)
    // Two independent job chains over the pinned reference — {cbg write →
    // cw fold+write} and {uni write} — submitted concurrently ([[Overlap]],
    // the buildAll posture): the scheduler back-fills each chain's
    // single-task tail stages with the other's work, and the read-back
    // counts overlap the same way. Determinism is untouched — each
    // artifact's bytes depend only on its own deterministic lineage.
    try {
      Overlap.all(spark)(Seq(
        () => {
          Writes(cbg).mode("overwrite").parquet(s"$path/cbg")
          Writes(spark.read.parquet(s"$path/cbg").groupBy(col("w1"))
            .agg(org.apache.spark.sql.functions.sum(col("c2")).as("c1")))
            .mode("overwrite").parquet(s"$path/cw")
        },
        () => Writes(uni).mode("overwrite").parquet(s"$path/uni")))
      Overlap.all(spark)(Seq("cbg", "cw", "uni").map(a =>
        () => a -> spark.read.parquet(s"$path/$a").count()))
        .toDF("artifact", "n")
    } finally {
      // Overlap returns or throws only once every body has finished, so
      // no job still reads the pinned blocks
      graft.operators.Materialize.release(ref)
    }
  }

  /** Train + persist the DSIR (bucket, log_ratio) importance model — the
    * `dsir_model_build` family. */
  private def buildDsirModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    Writes(graft.operators.Selection.dsirModel(
        documentsOf(spark, sfDir), col("lang") === "en"))
      .mode("overwrite").parquet(s"$path/model")
    Seq(("dsir_model", spark.read.parquet(s"$path/model").count()))
      .toDF("artifact", "n")
  }

  /** Train + persist the NB domain-router model on the declared train
    * split (hash buckets < 80) — the `nb_model_build` family. */
  private def buildNbModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    graft.operators.Selection.writeNbModel(
      documentsOf(spark, sfDir)
        .filter(graft.operators.Corpus.hashBucket(col("doc_id")) < 80),
      s"$path/model")
    Seq(("nb_model", spark.read.parquet(s"$path/model/terms").count()))
      .toDF("artifact", "n")
  }

  // --------------------------------------- user-owned serving layouts

  /**
   * Train + persist ONE user-owned serving layout for a corpus — the
   * job-level composition an embeddings pipeline grows batch by batch
   * (the micro-batch loop of the dedup/packing registries, applied to
   * the ANN family): `ivf` ([[Similarity.writeIvfIndex]] — trained
   * centroids + cell-partitioned assignments), `pq`
   * ([[Similarity.writePqIndex]] — codebooks + codes), `cellcodes`
   * (the IVF-PQ serving relation) and `prefixes` (the MRL route
   * relation). Unlike the per-data-directory fingerprint cache (which
   * must stay immutable so its key stays honest), this layout is OWNED
   * by the caller and grows in place via [[growServingLayout]].
   */
  def buildServingLayout(corpus: DataFrame, path: String,
      nCells: Int = NCells, kDims: Int = MrlDims, pqM: Int = PqM,
      pqK: Int = PqK, iters: Int = Iters): Unit = {
    val (ivf, pq) = Similarity.trainIvfPq(corpus, nCells = nCells, m = pqM,
      k = pqK, iters = iters)
    Similarity.writeIvfIndex(ivf, s"$path/ivf")
    val encoded = Similarity.pqEncode(corpus, pq)
    Similarity.writePqIndex(encoded, pq, s"$path/pq")
    Similarity.writeCellCodes(Similarity.buildCellCodes(ivf, encoded),
      s"$path/cellcodes")
    Similarity.writeMrlPrefixes(corpus, kDims, s"$path/prefixes")
  }

  /**
   * Retrain-free growth of EVERY artifact in a [[buildServingLayout]]
   * layout with one increment: assignments via
   * [[Similarity.assignToCells]], codes via [[Similarity.pqEncode]],
   * the IVF-PQ relation by [[Similarity.buildCellCodes]] over those two,
   * prefixes via [[Similarity.growMrlPrefixes]] (which also guards the
   * width) — each
   * appended under the EXISTING models, so (spec-pinned, per artifact
   * and composed) growing equals rebuilding the relation over the grown
   * corpus under those models, and every serve sees the grown corpus.
   * The models themselves never change here; retrain on a sample when
   * recall at fixed nProbe decays, not per increment ([[assignToCells]]'
   * documented posture). Growth is IDEMPOTENT per increment content: each
   * relation records applied increments via marker files, so a retry
   * after a mid-sequence failure appends only the relations the failed
   * attempt missed (see the marker comment in the body for the residual
   * append-vs-marker crash window).
   */
  def growServingLayout(spark: SparkSession, path: String,
      increment: DataFrame, kDims: Int = MrlDims,
      checkpointDir: Option[String] = None): Unit = {
    val ivf = Similarity.readIvfIndex(spark, s"$path/ivf")
    val (_, pq) = Similarity.readPqIndex(spark, s"$path/pq")
    // Pin the increment ONCE (checkpointDir = the long-cluster-run knob,
    // the Materialize contract): every check and derived relation below
    // reads the pinned blocks — the increment's lineage (often a
    // filtered/derived frame) executes once, not once per artifact.
    val inc = graft.operators.Materialize(increment, checkpointDir)
    // EVERY-ROW width guard at the ONE entry point that could poison the
    // whole layout (the growMrlPrefixes append-guard's reasoning,
    // widened): a mismatched row would not error downstream — pqEncode's
    // subspace dots null on length mismatch and write NULL codes, and
    // mixed-width full vectors null out of every rerank — silent
    // degradation instead of a loud failure. take(1) sampling is NOT
    // enough here: an increment concatenated from two embedding batches
    // can be mixed-width, and one bad row poisons four relations. The
    // scan is over the already-pinned blocks of a micro-batch-sized
    // increment — cheap by the increment contract. The PQ model's
    // persisted dim is the layout's authoritative width.
    // isNull branch: size(null) is null under ANSI, and null =!= dim is
    // null — a null embedding would slip past a bare inequality filter
    inc.select(size(col("embedding")).as("__w"))
      .filter(col("__w").isNull || col("__w") =!= pq.dim)
      .take(1).headOption.foreach { r =>
        val w = if (r.isNullAt(0)) "null (null embedding)"
                else r.getInt(0).toString
        require(requirement = false,
          s"increment contains a vector of width $w != layout " +
            s"dim ${pq.dim} — a mixed-width layout degrades silently; " +
            "re-embed the increment or rebuild the layout at the new width")
      }
    // ALL guards before ANY write — a guard failure must never leave a
    // partial append behind (mid-WRITE failures are the per-relation
    // increment markers' job below); the prefix-width check is one
    // take(1) read
    require(kDims <= pq.dim, s"kDims $kDims > layout dim ${pq.dim}")
    val prefixes = Similarity.readMrlPrefixes(spark, s"$path/prefixes")
    prefixes.select(size(col("prefix"))).take(1).headOption.foreach { r =>
      require(r.getInt(0) == kDims,
        s"persisted prefix width ${r.getInt(0)} != kDims $kDims — pass " +
          "the width the layout was built with")
    }
    // assigned/encoded each feed TWO writes (their own relation + the
    // cellcodes join) — pin so each computes once
    val assigned = graft.operators.Materialize(
      Similarity.assignToCells(ivf, inc), checkpointDir)
    val encoded = graft.operators.Materialize(
      Similarity.pqEncode(inc, pq), checkpointDir)
    // The four appends are sequential and parquet appends are not
    // transactional, so a mid-sequence failure (disk full, executor loss)
    // would leave some relations grown and others not — and a BLIND retry
    // would double-append the grown ones. Each relation therefore records
    // the applied increment as a marker file (underscore-prefixed, so
    // every parquet reader ignores it) keyed on a CONTENT fingerprint of
    // the pinned increment: a retry of the same increment skips the
    // already-appended relations and completes only the missing ones —
    // growth is idempotent per increment content. Residual window, stated
    // honestly: a crash BETWEEN an append finishing and its marker
    // creation still double-appends that one relation on retry (closing
    // it needs a transactional table format); recovery for that case is
    // [[buildServingLayout]] from the source corpus.
    val incId = incrementKey(inc, idCol = "vec_id")
    IncProtocol.appendOnce(spark, s"$path/ivf/assignments", incId) { _ =>
      Writes(assigned).mode("append").partitionBy("cell")
        .parquet(s"$path/ivf/assignments")
    }
    IncProtocol.appendOnce(spark, s"$path/pq/codes", incId) { _ =>
      Writes(encoded).mode("append").parquet(s"$path/pq/codes")
    }
    IncProtocol.appendOnce(spark, s"$path/cellcodes", incId) { _ =>
      Writes(Similarity.buildCellCodes(
          Similarity.IvfIndex(assigned, ivf.centroids), encoded))
        .mode("append").partitionBy("cell").parquet(s"$path/cellcodes")
    }
    IncProtocol.appendOnce(spark, s"$path/prefixes", incId) { _ =>
      Similarity.growMrlPrefixes(inc, kDims, s"$path/prefixes")
    }
  }

  /** Content fingerprint of an increment: row count + order-independent
    * bit_xor of xxhash64(id, embedding, multiplicity) — one cheap job
    * over the already-pinned blocks (bit_xor, not sum: a 64-bit hash sum
    * overflows under ANSI). Multiplicity is folded INTO the hash, not
    * left to xor cancellation: under plain xor a row with even
    * multiplicity cancels to 0, so two different increments that each
    * consist of duplicated rows (exactly the accidental-double-batch
    * scenario markers exist for) and share a row count would collide.
    * Identical content (as a multiset) ⇒ identical key, which is exactly
    * the retry-detection contract [[growServingLayout]]'s markers need.
    * Shared with [[EmbeddingCurationJob]]'s increment-level markers.
    *
    * KEY SCHEME VERSIONING: the multiplicity fold changed the key format
    * (the original xor'd only (id, embedding)), so keys carry a `v2_`
    * prefix — an old-format marker can never alias a new key. Layouts
    * grown under the v1 scheme lose retry protection for their OLD
    * increments after upgrading (their markers no longer match anything);
    * new increments are protected normally. If a pre-upgrade increment
    * might be retried, rebuild the layout from the source corpus first
    * ([[buildServingLayout]] — the same recovery the marker scaladoc
    * prescribes for the append-vs-marker crash window). */
  private[graft] def incrementKey(inc: DataFrame, idCol: String,
      vecCol: String = "embedding"): String = {
    val r = inc.groupBy(col(idCol), col(vecCol))
      .agg(count(lit(1)).as("__m"))
      .agg(sum(col("__m")).as("n"),
        bit_xor(xxhash64(col(idCol), col(vecCol), col("__m"))).as("h"))
      .head
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    s"v2_${n}_${java.lang.Long.toHexString(h)}"
  }

  /** Record `increment` as already applied to every relation of a
    * [[buildServingLayout]] layout — called after a FIRST-increment
    * build so a retry of that increment (which sees the layout existing
    * and routes to [[growServingLayout]]) skips the rows the build
    * already contains instead of double-appending them. Same key, same
    * [[IncProtocol.appendOnce]] markers as [[growServingLayout]]. */
  private[graft] def markLayoutApplied(spark: SparkSession, path: String,
      increment: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val incId = incrementKey(increment, idCol, vecCol)
    for (rel <- Seq("ivf/assignments", "pq/codes", "cellcodes", "prefixes"))
      IncProtocol.appendOnce(spark, s"$path/$rel", incId)(_ => ())
  }
}
