package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.{IvfIndex, PqModel}

/**
 * Prebuilt, persisted serving artifacts per data directory — the
 * production split the declared `sim_*` queries (ANN indexes) and
 * `quality_logreg_inc` (trained quality model) serve from.
 *
 * WHY: an ANN deployment trains its models and lays out its index ONCE
 * (then grows it incrementally — [[growServingLayout]]); queries only
 * PROBE. A benchmark whose every `sim_topk_*` invocation re-runs two
 * k-means trainings before a 5-query probe measures training, not
 * serving — and the triad of
 * ivfpq queries would train the same models three times over. This
 * object is the Fixtures-style bridge: the first query against a data
 * directory builds every artifact through the library's own persist
 * writers ([[Similarity.writeLshIndex]], [[Similarity.writeIvfIndex]],
 * [[Similarity.writePqIndex]], [[Similarity.writeCellCodes]] — the
 * partition-pruned layouts SCALING.md documents), and every later
 * query reads the persisted relations. Training cost stays visible as
 * its own declared build step (`sim_index_build` in SparkEntry.builds runs unconditionally).
 *
 * DETERMINISM: every build step (hash-ordered k-means seeding, Lloyd
 * rounds over exact means, parquet float round-trips) is deterministic
 * given the data, so a query served from the persisted artifacts is
 * bit-identical to one that trained inline — the `*_full` bridge
 * oracles hash-verify exactly that equality end to end.
 *
 * STALENESS: the cache key fingerprints every file under the
 * embeddings parquet (relative path + length + mtime, recursively), so
 * regenerated test data — even a single rewritten part file — can never
 * be served a previous dataset's index; and it fingerprints the engine's
 * own class files ([[codeFingerprint]]), so an artifact is only ever
 * served to the code that built it — a changed writer or layout rebuilds
 * instead of serving an older artifact.
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

  private[graft] def keyOf(sfDir: String, table: String = "embeddings",
      code: String = codeFingerprint): String = {
    // fingerprint = the engine's code plus every file under the source
    // table's parquet (Spark datasets are directories), relative path +
    // length + mtime, sorted — a regenerated part file, added part, or
    // re-written footer all flip the key even when the top-level entry
    // looks unchanged
    val root = new java.io.File(s"$sfDir/$table.parquet")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val files = walk(root)
    // RELATIVE path, not bare name: partitioned layouts repeat part-file
    // names across subdirectories (lang=en/part-00000 vs lang=de/part-00000),
    // and a name-keyed multiset cannot see an mtime-preserving content swap
    // between them
    val fp = s"$sfDir|$code|${files.map(f =>
      s"${root.toPath.relativize(f.toPath)}|${f.length()}|${f.lastModified()}").mkString(";")}"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + md
  }

  private def dirFor(sfDir: String): String = s"$cacheRoot/${keyOf(sfDir)}"

  private def embeddingsOf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /**
   * Train + lay out every serving artifact for `sfDir`'s embeddings —
   * the build the cache amortizes, also runnable unconditionally (the
   * `sim_index_build` build step) so training cost stays a measured number.
   * Returns a one-row-per-artifact summary.
   */
  def buildAll(spark: SparkSession, sfDir: String, path: String): DataFrame = {
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

  /**
   * Build-once guard, cross-PROCESS safe: artifacts are built into a
   * process-unique staging directory and atomically renamed into place,
   * so a concurrent JVM (bench and verify sharing the default cache)
   * either sees the complete committed artifact set or none of it —
   * never a half-written index. The rename loser deletes its staging
   * copy and serves the winner's (identical — builds are deterministic,
   * see the class doc). `synchronized` still serializes threads within
   * this JVM so one session builds once, not once per query.
   */
  private def ensure(spark: SparkSession, sfDir: String): String =
    ensureDir(dirFor(sfDir))(staging =>
      buildAll(spark, sfDir, staging).collect())

  /** The atomic-commit guard behind [[ensure]], reusable for any
    * per-data-directory artifact family (the trained logreg quality
    * model rides it too — see [[logregModel]]): `build` populates a
    * staging directory, which commits into `path` by atomic rename. */
  private[graft] def ensureDir(path: String)(build: String => Unit): String = synchronized {
    val marker = new java.io.File(path, "_GRAFT_READY")
    if (!marker.exists()) {
      val staging = new java.io.File(
        s"$path.staging_${ProcessHandle.current().pid()}")
      deleteRecursively(staging)
      build(staging.getPath)
      java.nio.file.Files.createFile(
        new java.io.File(staging, "_GRAFT_READY").toPath)
      try {
        java.nio.file.Files.move(staging.toPath, new java.io.File(path).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.AccessDeniedException |
            _: java.nio.file.FileSystemException =>
          // another process committed first; its artifact set is
          // byte-equivalent — drop ours if theirs is complete
          if (marker.exists()) deleteRecursively(staging)
          else throw new IllegalStateException(
            s"ANN cache at $path exists without its _GRAFT_READY marker " +
              "(partial build from a crashed or pre-atomic writer) — " +
              "delete it and retry")
      }
    }
    path
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) f.delete()
  }

  /** Loaded-artifact memo. The model readers pay driver-side work per
    * call — `readIvfIndex` collects centroids (a Spark job), `readPqIndex`
    * runs a head + a collect, and every reader re-lists/re-reads parquet
    * footers — for artifacts that are IMMUTABLE by construction: the memo
    * key is the resolved cache path, which embeds the data fingerprint
    * (`keyOf`), so regenerated test data resolves to a different path and
    * can never be served a stale model. Weak session keys, like
    * SparkEntry's table memo: stopped test sessions must not pin plans. */
  private val loadMemo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()
  private def memo[T <: AnyRef](spark: SparkSession, key: String)(load: => T): T = {
    val per = loadMemo.synchronized {
      var m = loadMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
        loadMemo.put(spark, m)
      }
      m
    }
    per.computeIfAbsent(key, _ => load).asInstanceOf[T]
  }

  def lshFull(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensure(spark, sfDir)}/lsh_full"
    memo(spark, p)(Similarity.readLshIndex(spark, p))
  }

  def lsh300(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensure(spark, sfDir)}/lsh_300"
    memo(spark, p)(Similarity.readLshIndex(spark, p))
  }

  def ivfFull(spark: SparkSession, sfDir: String): IvfIndex = {
    val p = s"${ensure(spark, sfDir)}/ivf_full"
    memo(spark, p)(Similarity.readIvfIndex(spark, p))
  }

  def ivf300(spark: SparkSession, sfDir: String): IvfIndex = {
    val p = s"${ensure(spark, sfDir)}/ivf_300"
    memo(spark, p)(Similarity.readIvfIndex(spark, p))
  }

  /** (full-corpus codes, model). */
  def pqFull(spark: SparkSession, sfDir: String): (DataFrame, PqModel) = {
    val p = s"${ensure(spark, sfDir)}/pq_full"
    memo(spark, p)(Similarity.readPqIndex(spark, p))
  }

  def codes300(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensure(spark, sfDir)}/codes_300"
    memo(spark, p)(spark.read.parquet(p))
  }

  def cellCodes300(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensure(spark, sfDir)}/cellcodes_300"
    memo(spark, p)(Similarity.readCellCodes(spark, p))
  }

  // --------------------------------------------- MRL prefix relations

  /** Matryoshka serving cut width shared by every declared MRL query. */
  val MrlDims = 16

  /** Lay out the persisted MRL prefix relations (full corpus + the <300
    * batch-join corpus) — the `mrl_index_build` build step body: one
    * map-only projection pass each ([[Similarity.writeMrlPrefixes]]),
    * kDims/Dim of the corpus bytes on disk. Kept OUTSIDE [[buildAll]]
    * so existing committed ANN cache directories (keyed on the data
    * fingerprint, not the artifact set) stay valid; the prefixes live
    * under their own `_mrl` fingerprint directory, the
    * [[logregModel]] precedent. */
  def buildMrlPrefixes(spark: SparkSession, sfDir: String, path: String): DataFrame = {
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

  private def ensureMrl(spark: SparkSession, sfDir: String): String = {
    val p = s"$cacheRoot/${keyOf(sfDir)}_mrl"
    ensureDir(p)(staging => buildMrlPrefixes(spark, sfDir, staging).collect())
    p
  }

  def mrlFull(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensureMrl(spark, sfDir)}/mrl_full"
    memo(spark, p)(Similarity.readMrlPrefixes(spark, p))
  }

  // ------------------------------------------- semantic-dedup registry

  /** Lay out the persisted semantic-dedup registry (vec_id < 300 assigned
    * under `centroids`, cell-partitioned) — the `sem_registry_build` build
    * step body. The cache key is (embeddings fingerprint, centroid
    * fingerprint) — see [[semRegistryPath]]. */
  def buildSemRegistry(spark: SparkSession, sfDir: String, path: String,
      centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    Similarity.writeSemanticRegistry(
      embeddingsOf(spark, sfDir).filter(col("vec_id") < 300), centroids,
      s"$path/registry")
    Seq(("sem_registry", spark.read.parquet(s"$path/registry").count()))
      .toDF("artifact", "n")
  }

  /** Path of the persisted semantic-dedup registry for `sfDir` (built
    * once per data directory under the shared fingerprint cache), so
    * `dedup_semantic_inc` measures the increment PROBE only — the
    * production serve split: a live pipeline writes its registry once and
    * appends after each probed batch, it does not rebuild per probe.
    * The cache key folds in a CENTROID fingerprint (r16 ADVICE): the
    * registry's cells are a function of (data, centroids), and keying on
    * the data alone would silently serve a registry built under OTHER
    * centroids to a caller passing different ones — the "centroids must
    * be deterministic from the data" contract, now enforced by the key
    * instead of merely documented. */
  def semRegistryPath(spark: SparkSession, sfDir: String,
      centroids: Array[Array[Float]]): String = {
    val p = s"$cacheRoot/${keyOf(sfDir)}_semreg_${centroidKey(centroids)}"
    ensureDir(p)(staging =>
      buildSemRegistry(spark, sfDir, staging, centroids).collect())
    s"$p/registry"
  }

  /** Content fingerprint of a centroid model — MD5 over the exact float
    * bits plus row lengths, truncated to 64 bits for a path-friendly
    * key. Any reordered, resized or perturbed centroid flips it. */
  private def centroidKey(centroids: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(
      4 * (centroids.iterator.map(_.length).sum + centroids.length))
    centroids.foreach { c => bb.putInt(c.length); c.foreach(bb.putFloat) }
    md.update(bb.array(), 0, bb.position())
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Lay out the persisted substring-dedup registry (original windows of
    * docs < 250, md5-bridge keyed) — the `substr_registry_build` build
    * step body. */
  def buildSubstrRegistry(spark: SparkSession, sfDir: String,
      path: String): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    Writes(graft.operators.Dedup.substrRegistry(d.filter(col("doc_id") < 250),
        n = 20, md5Bridge = true))
      .mode("overwrite").parquet(s"$path/registry")
    Seq(("substr_registry", spark.read.parquet(s"$path/registry").count()))
      .toDF("artifact", "n")
  }

  /** Path of the persisted substring-dedup registry for `sfDir`
    * ([[semRegistryPath]]'s contract, keyed on documents.parquet):
    * `dedup_substr_inc` serves the increment probe only. */
  def substrRegistryPath(spark: SparkSession, sfDir: String): String = {
    val p = s"$cacheRoot/${keyOf(sfDir, "documents")}_substrreg"
    ensureDir(p)(staging => buildSubstrRegistry(spark, sfDir, staging).collect())
    s"$p/registry"
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

  def mrl300(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"${ensureMrl(spark, sfDir)}/mrl_300"
    memo(spark, p)(Similarity.readMrlPrefixes(spark, p))
  }

  // --------------------------------------------- trained quality filter

  /** Train + persist the logistic-regression quality model for `sfDir`'s
    * documents — the build the logreg cache amortizes, also runnable
    * unconditionally (the `logreg_model_build` build step) so training +
    * persist cost stays a measured ledger number. Returns a one-row
    * summary (artifact, n) with n = the persisted relation's row count,
    * read BACK from parquet so the build verifiably round-trips. */
  def buildLogregModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    Writes(graft.operators.Selection.logregModel(
        spark.read.parquet(s"$sfDir/documents.parquet"), col("lang") === "en"))
      .mode("overwrite").parquet(s"$path/model")
    Seq(("logreg_model", spark.read.parquet(s"$path/model").count()))
      .toDF("artifact", "n")
  }

  /** The persisted (bucket, w) logreg model for `sfDir` — the production
    * serving artifact `quality_logreg_inc` scores from map-only. Same
    * contract as the ANN artifacts: first call per data directory trains
    * through [[buildLogregModel]] (deterministic — the 9dp-quantized GD
    * loop — so serving from the cache is bit-identical to training
    * inline, which the shared fused oracle hash-verifies end to end);
    * the fingerprint keys on documents.parquet, so regenerated test data
    * can never be served a stale model. */
  def logregModel(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"$cacheRoot/${keyOf(sfDir, "documents")}_logreg"
    ensureDir(p)(staging => buildLogregModel(spark, sfDir, staging).collect())
    memo(spark, s"$p/model")(spark.read.parquet(s"$p/model"))
  }

  /** Train + persist the reference-LM model (bigram counts, left-context
    * totals, unigram counts — `Corpus.lmRefModelRelations` over the
    * declared 20% hash-sample reference) — the `lm_ref_model_build`
    * build step; `quality_lm_ref_inc` serves from it. Persisted
    * UNPRUNED: count pruning is a serve-time floor, so one model serves
    * every `min_bigram_count`. */
  def buildLmRefModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    // pin the reference sample: cbg and uni are independent folds over
    // the same tokenization, and cw derives from the WRITTEN cbg — left
    // as lineage, the three writes would re-execute the reference scan
    // and the pairs aggregation ~3× (r19 review finding)
    val ref = graft.operators.Materialize(
      spark.read.parquet(s"$sfDir/documents.parquet")
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

  /** The persisted reference-LM model for `sfDir`, trained once per data
    * directory ([[logregModel]]'s contract): counts are exact longs, so
    * serving from the parquet round trip is bit-identical to folding
    * inline — which `quality_lm_ref_inc`'s shared fused oracle
    * hash-verifies end to end. Returns (cbg, uni): serving folds the
    * left-context totals from cbg itself since the r21 window fold, so
    * the persisted `cw` relation (still written — one model serves every
    * reader, including external ones) is no longer loaded here. */
  def lmRefModel(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val p = s"$cacheRoot/${keyOf(sfDir, "documents")}_lmref"
    ensureDir(p)(staging => buildLmRefModel(spark, sfDir, staging).collect())
    memo(spark, s"$p/model")((spark.read.parquet(s"$p/cbg"),
      spark.read.parquet(s"$p/uni")))
  }

  /** Train + persist the DSIR (bucket, log_ratio) importance model —
    * the `dsir_model_build` declared build step (the logreg precedent:
    * training cost is its own ledger number, serving measures scoring
    * only). */
  def buildDsirModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    Writes(graft.operators.Selection.dsirModel(
        spark.read.parquet(s"$sfDir/documents.parquet"), col("lang") === "en"))
      .mode("overwrite").parquet(s"$path/model")
    Seq(("dsir_model", spark.read.parquet(s"$path/model").count()))
      .toDF("artifact", "n")
  }

  /** The persisted DSIR model for `sfDir`, trained once per data
    * directory under the shared fingerprint cache ([[logregModel]]'s
    * contract): deterministic estimation, so serving from the cache is
    * bit-identical to training inline — which `dsir_weights_inc`'s
    * shared fused oracle hash-verifies end to end. */
  def dsirModel(spark: SparkSession, sfDir: String): DataFrame = {
    val p = s"$cacheRoot/${keyOf(sfDir, "documents")}_dsir"
    ensureDir(p)(staging => buildDsirModel(spark, sfDir, staging).collect())
    memo(spark, s"$p/model")(spark.read.parquet(s"$p/model"))
  }

  /** Train + persist the NB domain-router model on the declared train
    * split (hash buckets < 80) — the `nb_model_build` declared build
    * step. */
  def buildNbModel(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import spark.implicits._
    graft.operators.Selection.writeNbModel(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(graft.operators.Corpus.hashBucket(col("doc_id")) < 80),
      s"$path/model")
    Seq(("nb_model", spark.read.parquet(s"$path/model/terms").count()))
      .toDF("artifact", "n")
  }

  /** Path of the persisted NB router model for `sfDir` (trained once per
    * data directory; [[logregModel]]'s cache contract — the serve API is
    * path-based because `nbClassifyFromModel` reads two relations). */
  def nbModelPath(spark: SparkSession, sfDir: String): String = {
    val p = s"$cacheRoot/${keyOf(sfDir, "documents")}_nb"
    ensureDir(p)(staging => buildNbModel(spark, sfDir, staging).collect())
    s"$p/model"
  }
}
