package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Writes
import graft.functions.Quantize

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Baseline: brute-force cosine top-k — one scan, one
 * [[Selection.topKBy]] (TakeOrderedAndProject: per-partition heaps +
 * driver merge of k rows, no global sort shuffle).
 *
 * Scale paths — the ANN triad, each attacking a different axis:
 *  - LSH (no training): bucketing by random-hyperplane signs
 *    (deterministic hyperplanes derived from hashes — no RNG state) so
 *    the candidate set shrinks ~2^bits-fold before exact re-scoring;
 *    recall tuned by multi-probe / more tables.
 *  - IVF (data-adapted): k-means cells, probes read the `nProbe` nearest
 *    cells from a cell-partitioned index; sample-trainable,
 *    increment-assignable without retraining.
 *  - PQ (memory): vectors compress to m codebook codes served by ADC
 *    lookup tables, with exact rerank of the shortlist; IVF-PQ composes
 *    cell pruning with compressed scans.
 * Every index path carries a provable bridge to brute force (probe-all /
 * corpus-spanning shortlist), hash-verified by the shared oracle.
 *
 * All math in double, sequential array order — no UDF; dot products are
 * a native codegen'd expression, bit-exact reproducible and mirrorable
 * in the DuckDB oracle.
 */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential array order — native codegen'd
    * expression (`graft.plans.FloatVectorDot`). Bit-identical to the
    * higher-order formulation
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)` but ~8× faster: the HOF
    * lambdas evaluate interpreted per element, the native expression is a
    * primitive loop inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Driver-side norm with the same fold order as the `norm` column fn —
    * substituting it as a literal keeps results bit-identical while saving
    * one 64-op aggregate per row. */
  private[operators] def normOf(query: Seq[Float]): Double =
    math.sqrt(query.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble))

  /** Exact cosine of `vec` (whose norm is `nrm` — computed, or a
    * persisted index column) to a literal query vector, rounded to 6dp so
    * cross-engine float summation agrees: the single-query serves' one
    * score. */
  private def cosToQuery(vec: Column, nrm: Column, query: Seq[Float]): Column =
    Quantize.quantize(
      dot(vec, array(query.map(v => lit(v)): _*)) / (nrm * lit(normOf(query))), 6)

  /** [[cosToQuery]] with a zero-norm vector scoring an EXPLICIT null
    * (the unguarded division would yield null silently or abort under
    * ANSI) — the MRL serves' route and rerank legs. */
  private def cosToQueryGuarded(vec: Column, nrm: Column,
      query: Seq[Float]): Column =
    when(nrm === 0d, lit(null).cast("double"))
      .otherwise(cosToQuery(vec, nrm, query))

  /**
   * Brute-force cosine top-k against one query vector (as a literal array —
   * shipped in the plan, evaluated per row, no join). Deterministic
   * tiebreak on id. Rounded to 6dp so cross-engine float summation agrees.
   */
  def topK(embeddings: DataFrame, query: Seq[Float], k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    Selection.topKBy(embeddings.select(col(idCol),
      cosToQuery(col(vecCol), norm(col(vecCol)), query).as("cos")),
      "cos", idCol, k)

  /**
   * MRL-routed top-k (Kusupati et al., "Matryoshka Representation
   * Learning", NeurIPS 2022 — public literature): rank by cosine of the
   * first-`kDims` PREFIX (the matryoshka serving cut —
   * [[Embeddings.truncateRenorm]]'s consumer), keep a k·overscan
   * shortlist, rerank it exactly full-dimension. The routing pass
   * touches d/kDims× fewer floats in the DOT KERNEL — flops, not IO:
   * `slice()` over the full-width column still deserializes every
   * element (parquet has no sub-array pruning), so the byte win needs
   * the persisted prefix relation ([[topKMrlPre]] /
   * [[writeMrlPrefixes]], the paper's truncated serving table). The
   * shortlist is a [[Selection.topKBy]] like [[topK]]'s (TakeOrdered up
   * to the merge cap, the threshold-cut valve above it — never a global
   * sort); overscan buys recall back. `overscan`
   * covering the corpus makes the shortlist everything, so the rerank
   * IS [[topK]] — the hash-verified `sim_topk_mrl_full` bridge (oracle
   * substrate, not a scale point, like every other *_full). Zero-norm
   * prefixes score an EXPLICIT null (guarded — ANSI division would
   * abort) and sort last under the descending route order — a vector
   * invisible at kDims dims is routed out, the MRL contract.
   */
  def topKMrl(embeddings: DataFrame, query: Seq[Float], k: Int,
      kDims: Int = 16, overscan: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(kDims > 0 && query.length >= kDims && overscan >= 1)
    val pre = slice(col(vecCol), 1, kDims)
    val shortlist = Selection.topKBy(embeddings.select(col(idCol), col(vecCol),
        cosToQueryGuarded(pre, norm(pre), query.take(kDims)).as("__pc")),
      "__pc", idCol, k.toLong * overscan)
    // same zero-norm guard as the prefix leg: a zero-norm vector can
    // reach the shortlist (tiny corpus, or the *_full bridge where the
    // shortlist is everything)
    Selection.topKBy(shortlist.select(col(idCol),
        cosToQueryGuarded(col(vecCol), norm(col(vecCol)), query).as("cos")),
      "cos", idCol, k)
  }

  /**
   * Deterministic pseudo-random hyperplane component for (table, bit, dim):
   * hash → uniform in [-1, 1). Stable across sessions/executors — the
   * "model" is pure code, no RNG state to ship.
   */
  private def planeComponent(table: Int, bit: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s"plane:$table:$bit:$d").toLong & 0xFFFFFFFFL
    (h.toDouble / 0x80000000L.toDouble) - 1.0
  }

  /** Driver-side bucket of a concrete query vector. */
  private def bucketOf(query: Seq[Float], bits: Int, table: Int): Long =
    (0 until bits).map { b =>
      val proj = query.indices.map(d => query(d) * planeComponent(table, b, d)).sum
      if (proj >= 0) 1L << b else 0L
    }.sum

  /**
   * LSH index build: one pass computing `tables` bucket ids per vector,
   * exploded to (id, table, bucket, vec). This is the write-once pass — at
   * corpus scale it is persisted partitioned/bucketed by (table, bucket) so
   * a query reads only its probed buckets (partition pruning), instead of
   * re-projecting hyperplanes per query as an inline filter would.
   *
   * Recall tuning: P(candidate | angle θ) = 1-(1-p^bits)^tables with
   * p = 1-θ/π. Loose neighbors (this synthetic corpus, cos≈0.5) want few
   * bits / many tables; near-dup regimes (cos ≥ 0.9) support 16+ bits.
   */
  def buildLshIndex(embeddings: DataFrame, dim: Int, bits: Int = 4, tables: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // MAP-ONLY: all tables' buckets come from one
    // [[graft.plans.VectorKernels.lshBuckets]] kernel call per vector (the
    // tables·bits·dim weight table rides the plan as a literal —
    // kilobytes; the LSH "model" is pure code), posexplode fans out the
    // `tables` index replicas. Bit-identical to the previous posexplode →
    // broadcast-weight join → two-aggregation shape (which kept the
    // multiply codegen'd at the cost of a dim·tables·bits row fan-out
    // plus two exchanges): that path also accumulated each (vec, table,
    // bit) projection in d order inside the scan task. An inline Column
    // expression tree was ~20× slower still — giant exprs defeat codegen;
    // the kernel replaces all of it with one tight loop.
    // The norm rides along as an index column: computed ONCE per vector,
    // persisted with the index, and reused by every candidate
    // verification — the index carries `tables` replicas of each vector,
    // so recomputing at probe time would pay the 64-op dot per replica.
    // `size > 0` keeps the join path's drop of empty vectors (posexplode
    // of an empty projection emitted no rows for them).
    val wts: Seq[Double] = for {
      t <- 0 until tables; b <- 0 until bits; d <- 0 until dim
    } yield planeComponent(t, b, d)
    embeddings
      .where(size(col(vecCol)) > 0)
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
        posexplode(graft.plans.VectorExpressions.lshBuckets(
          col(vecCol), wts, tables, bits, dim)).as(Seq("table", "bucket")))
  }

  /**
   * Persist the index WRITE-ONCE, partitioned by `(table, bucket)` — the
   * layout SCALING.md promises: a probe touches only its `tables` probed
   * bucket directories (partition pruning, plan-asserted in
   * TrainingDataOpsSpec), so query cost is O(candidates), not O(corpus).
   * Data files carry only (id, vector, norm): the partition values live in
   * the directory names, and the persisted norm saves every future probe
   * one 64-op dot product per candidate replica.
   *
   * Directory-count note: hyperplane regimes up to ~2^12 buckets × tables
   * partition cleanly; for 16+ bit signatures (near-dup regimes) partition
   * explosion sets in — a bucketed table on (table, bucket) would let
   * bucket pruning do the same job with a fixed file count.
   */
  def writeLshIndex(index: DataFrame, path: String): Unit =
    // the helper hash-repartitions on the partition columns: otherwise
    // every write task opens a file in every (table, bucket) directory it
    // sees — tasks × dirs file commits (measured as the dominant
    // index-build cost, not compute). Keyed this way each directory is
    // written by exactly one task: dirs-many files total, and the commit
    // protocol scales with the layout, not the task grid. Same trade at
    // 100 TB, where a 10k-task scan writing 2^bits·tables dirs would
    // otherwise commit millions of small files.
    writePartitionedParallel(index, Seq("table", "bucket"), path)

  /** Partitioned layout write that keeps its shuffle at full width: a
    * small index's post-repartition shuffle is a few MB, so AQE would
    * fold it to ONE task that then creates every partition directory's
    * file serially — parquet open/close latency × dirs (measured 2.3 s
    * for a 2400-row index). Repartitioning with an EXPLICIT partition
    * count makes the exchange `REPARTITION_BY_NUM`, which AQE's
    * partition coalescing never touches (user-specified counts are
    * preserved), so the write keeps `spark.sql.shuffle.partitions`
    * concurrent tasks — hashed on the layout columns so each directory
    * is still written by exactly one task. No session conf is read or
    * mutated: buildAll runs these writers concurrently, and a
    * save/set/restore of a session-global flag raced (one writer could
    * capture a sibling's temporary value and leak it to the session). */
  private def writePartitionedParallel(df: DataFrame, parts: Seq[String],
      path: String): Unit = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    Writes(df.repartition(n, parts.map(col): _*))
      .mode("overwrite").partitionBy(parts: _*).parquet(path)
  }

  /** Read a persisted index back; feed to `topKLsh` / `nearDupPairsFromIndex`.
    * (table, bucket) come back as partition columns, so probe predicates
    * prune at planning time. */
  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ANN top-k through the index: probe the query's bucket in every table,
    * union candidates (distinct ids), exact-rescore only those.
    * `probeRadius = 1` is MULTI-PROBE: each table also probes the buckets
    * one sign-flip away (bits × tables extra buckets) — recall rises
    * without growing the index, the standard trade against more tables.
    * Probe predicates stay partition-prunable against a persisted index. */
  def topKLsh(index: DataFrame, query: Seq[Float], k: Int, bits: Int = 4, tables: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id",
      probeRadius: Int = 0): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1, "probeRadius must be 0 or 1")
    val pred = (0 until tables).map { tt =>
      val base = bucketOf(query, bits, tt)
      val buckets =
        if (probeRadius == 0) Seq(base)
        else base +: (0 until bits).map(b => base ^ (1L << b))
      col("table") === tt && col("bucket").isin(buckets.map(_.asInstanceOf[Any]): _*)
    }.reduce(_ || _)
    val n = if (index.columns.contains("nrm")) col("nrm") else norm(col(vecCol))
    Selection.topKBy(index.filter(pred)
      .select(col(idCol), col(vecCol), n.as("__n")).dropDuplicates(idCol)
      .select(col(idCol), cosToQuery(col(vecCol), col("__n"), query).as("cos")),
      "cos", idCol, k)
  }

  /** Probe-ALL top-k through an LSH index: dedup ids across table replicas,
    * exact-rescore everything. Provably equal to brute-force [[topK]] (the
    * index holds every vector), so the DuckDB brute-force SQL oracles the
    * whole index round-trip — build, norm column, dedup, rescore. */
  def topKLshAll(index: DataFrame, query: Seq[Float], k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val n = if (index.columns.contains("nrm")) col("nrm") else norm(col(vecCol))
    Selection.topKBy(index
      .select(col(idCol), col(vecCol), n.as("__n")).dropDuplicates(idCol)
      .select(col(idCol), cosToQuery(col(vecCol), col("__n"), query).as("cos")),
      "cos", idCol, k)
  }

  /**
   * Embedding near-duplicate pairs via the index: candidates = pairs
   * sharing a (table, bucket); exact cosine verification on candidates
   * only (the scale path for embedding-based corpus dedup).
   */
  def nearDupPairs(embeddings: DataFrame, dim: Int, minCosine: Double, bits: Int = 4,
      tables: Int = 8, vecCol: String = "embedding", idCol: String = "vec_id",
      maxBucket: Option[Long] = None): DataFrame =
    nearDupPairsFromIndex(buildLshIndex(embeddings, dim, bits, tables, vecCol, idCol),
      minCosine, vecCol, idCol, maxBucket)

  /** `nearDupPairs` against an already-built (typically persisted) index —
    * the corpus-scale path: build + `writeLshIndex` once, re-verify pairs
    * many times without re-hashing the corpus. Uses the index's persisted
    * `nrm` column when present (indexes written before norms existed fall
    * back to one recompute per replica row). `maxBucket` (default off) is
    * the hot-bucket occupancy valve — a mass of zero/constant embeddings
    * lands in one (table, bucket) and would otherwise emit O(N²) candidate
    * rows (see [[Dedup.capBuckets]]).
    */
  def nearDupPairsFromIndex(index: DataFrame, minCosine: Double,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxBucket: Option[Long] = None): DataFrame = {
    val withN = if (index.columns.contains("nrm")) index.withColumn("__n", col("nrm"))
      else index.withColumn("__n", norm(col(vecCol)))
    val idx = Dedup.capBuckets(withN, Seq("table", "bucket"), maxBucket)
    val a = idx.as("a")
    val b = idx.as("b")
    a.join(b, col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$vecCol").as("__va"), col(s"b.$vecCol").as("__vb"),
        col("a.__n").as("__na"), col("b.__n").as("__nb"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        Quantize.quantize(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  // ---------------------------------------------------------------- IVF

  /** IVF index: per-vector cell assignments (a DataFrame — the corpus-
    * sized half) + the trained centroids (driver-side: nCells × dim floats,
    * the "model" — kilobytes, shipped like any literal). */
  final case class IvfIndex(assignments: DataFrame,
      centroids: Array[(Int, Array[Float])])

  /** The final IVF assignment: every vector of `prepped` (the ORIGINAL
    * vector plus its norm — serving rescoring wants both) under the
    * trained whole-vector codebook; the cell is decided in the unit space. */
  private[operators] def ivfOf(prepped: DataFrame, cells: Array[Array[Array[Float]]],
      vecCol: String, idCol: String): IvfIndex = {
    val centroids = cells.head.zipWithIndex.map { case (v, i) => (i, v) }
    IvfIndex(assignCells(prepped, centroids, vecCol, idCol), centroids)
  }

  /** (id, vec, __unit, nrm): the L2-normalized copy rides alongside the
    * original — `__unit` decides cell membership, `nrm` is persisted so
    * serving never recomputes it. Zero vectors pass through unchanged. */
  private[operators] def withUnit(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("nrm", norm(col(vecCol)))
      .withColumn("__unit", when(col("nrm") > 0,
        transform(col(vecCol), x => (x.cast("double") / col("nrm")).cast("float")))
        .otherwise(col(vecCol)))

  /** Nearest-centroid cell assignment of a trained IVF model, MAP-ONLY:
    * one [[graft.plans.VectorKernels.nearestCentroid]] kernel call per vector against
    * the literal centroid table. Distance (in the unit space, against
    * unit-space centroids) = ||c||² − 2·û·c (the ||û||² term is constant
    * per vector), first-min tie-break — the same kernel and distance form
    * the Lloyd rounds use ([[assignCodes]] with one whole-vector
    * subspace), so served cells agree with training-time assignments.
    * Input must carry `__unit` and `nrm` (see [[withUnit]]); output keeps
    * the original `vecCol` and `nrm`. */
  private def assignCells(vecs: DataFrame, centroids: Array[(Int, Array[Float])],
      vecCol: String, idCol: String): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.map(_._1).sameElements(sorted.indices),
      "assignCells: cell ids must be dense 0..n-1")
    val cn2 = sorted.map(_._2.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    vecs.select(col(idCol), col(vecCol), col("nrm"),
      graft.plans.VectorExpressions.nearestCentroid(col("__unit"),
        sorted.map(_._2.toSeq).toSeq, cn2.toSeq).as("cell"))
  }

  /** Persist the index: assignments under `$path/assignments` partitioned
    * by cell (probes prune to their `nProbe` cell directories, exactly like
    * the LSH layout) and the TRAINED centroids under `$path/centroids` —
    * so restore is an exact model round-trip (recomputing means from the
    * assignments would shift cell ranking by half a Lloyd step). */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assignments.sparkSession
    import spark.implicits._
    // one writing task per cell directory, parallel commit — see
    // [[writeLshIndex]] / [[writePartitionedParallel]]
    writePartitionedParallel(index.assignments, Seq("cell"), s"$path/assignments")
    Writes(index.centroids.toSeq.toDF("cell", "cvec").coalesce(1))
      .mode("overwrite").parquet(s"$path/centroids")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    IvfIndex(spark.read.parquet(s"$path/assignments"), centroids)
  }

  /** One model the shared Lloyd loop ([[trainLloyd]]) trains: `m`
    * subspaces × `k` centroids over the unit vectors (`__unit`) of `train`,
    * a [[withUnit]]-prepped frame. IVF is the whole-vector `m = 1` case
    * (`k` = nCells); PQ is `m` per-subspace codebooks. */
  private[operators] final case class LloydFamily(train: DataFrame, m: Int, k: Int)

  /**
   * The one Lloyd k-means trainer behind [[trainIvfPq]] and
   * [[trainAnnModels]] (and the specs' standalone IVF and PQ trainers in
   * `SimilarityOracles`): every requested family advances
   * its rounds inside ONE aggregation job per round — a union of the
   * per-family mean folds — so fused callers pay one driver round-trip per
   * round however many models they train.
   *
   *  - Seeds: the training vectors with smallest `(xxhash64(id), id)` (a
   *    reproducible pseudo-random sample, no RNG state, stable centroid
   *    numbering); centroid c of subspace m is seed c's m-th slice.
   *    Families over the SAME training frame (reference-equal) share one
   *    seed prefix of the largest `k` among them: the order is total, so
   *    each family's first `k` rows are exactly what its own `limit` would
   *    give. Distinct frames' prefixes come back in ONE collect when ids
   *    are integral (each branch keeps its own TakeOrdered; rows carry
   *    their sort keys and are re-sorted on the driver, since collect
   *    order across union branches is not contractual); otherwise, or for
   *    a single frame, each prefix is its own ordered collect.
   *  - Rounds: assignment is [[assignCodes]]' map-only nearest-centroid
   *    kernel, the update one mergeable [[graft.plans.VecMeanAgg]] fold
   *    per (subspace, centroid) — no UDFs, no giant expression trees, the
   *    training set scanned once per round. An all-null group folds to a
   *    null mean and keeps its previous centroid (no re-seeding mid-train,
   *    which would break determinism).
   *
   * The means are distributed double sums, so centroids are reproducible
   * per session but NOT bit-identical across cluster layouts (summation
   * order follows partitioning; a near-tie vector can flip cells between
   * layouts — recall-neutral; serving never depends on WHICH centroids
   * trained, and the `*_full` bridge oracles hold for any centroid set).
   * Returns each family's `m × k × (dim/m)` codebook, in request order.
   */
  private[operators] def trainLloyd(fams: Seq[LloydFamily], iters: Int, idCol: String)
      : Seq[Array[Array[Array[Float]]]] = {
    fams.foreach(f => require(f.m >= 1 && f.k >= 1,
      s"m and k must be >= 1: m=${f.m} k=${f.k}"))
    val trains = fams.map(_.train).foldLeft(Vector.empty[DataFrame]) {
      (acc, t) => if (acc.exists(_ eq t)) acc else acc :+ t
    }
    def trainIdx(f: LloydFamily): Int = trains.indexWhere(_ eq f.train)
    def seedPrefix(i: Int): DataFrame = trains(i).select(col(idCol), col("__unit"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(fams.filter(trainIdx(_) == i).map(_.k).max)
    val integral = trains.forall(_.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    })
    val seeds: Seq[Array[Array[Float]]] =
      if (trains.size == 1 || !integral)
        trains.indices.map(i => seedPrefix(i).collect().map(_.getSeq[Float](1).toArray))
      else {
        val rows = trains.indices.map(i => seedPrefix(i).select(lit(i).as("fam"),
            xxhash64(col(idCol)).as("h"), col(idCol).cast("long").as("id"),
            col("__unit")))
          .reduce(_ unionAll _).collect()
        trains.indices.map(i => rows.filter(_.getInt(0) == i)
          .sortBy(r => (r.getLong(1), r.getLong(2))).map(_.getSeq[Float](3).toArray))
      }
    var books: Seq[Array[Array[Array[Float]]]] = fams.map { f =>
      val seed = seeds(trainIdx(f))
      require(seed.length >= f.k, s"training set has only ${seed.length} " +
        s"vectors for ${f.k} centroids — raise trainPct")
      val dim = seed.head.length
      require(dim % f.m == 0, s"dim $dim not divisible by ${f.m} subspaces")
      val sub = dim / f.m
      Array.tabulate(f.m, f.k)((mi, ci) => seed(ci).slice(mi * sub, (mi + 1) * sub))
    }
    for (_ <- 0 until iters) {
      val rows = fams.zip(books).zipWithIndex.map { case ((f, b), i) =>
        assignCodes(f.train, b, b.head.head.length, idCol)
          .groupBy(col("__m"), col("__code"))
          .agg(graft.plans.VectorExpressions.vecMean(col("__sv")).as("cvec"))
          .select(lit(i).as("fam"), col("__m"), col("__code"), col("cvec"))
      }.reduce(_ unionAll _).filter(col("cvec").isNotNull).collect()
      books = books.zipWithIndex.map { case (b, i) =>
        val means = rows.filter(_.getInt(0) == i).map(r => (r.getInt(1), r.getInt(2)) ->
          r.getSeq[Double](3).map(_.toFloat).toArray).toMap
        Array.tabulate(b.length, b.head.length)((mi, ci) =>
          means.getOrElse((mi, ci), b(mi)(ci)))
      }
    }
    books
  }

  /** IVF cells and PQ codebooks over one corpus in one [[trainLloyd]]
    * pass (one seed collect, one aggregation per round). */
  private[graft] def trainIvfPq(corpus: DataFrame, nCells: Int, m: Int, k: Int,
      iters: Int, vecCol: String = "embedding", idCol: String = "vec_id")
      : (IvfIndex, PqModel) = {
    val prepped = withUnit(corpus.select(col(idCol), col(vecCol)), vecCol)
    val Seq(cells, books) = trainLloyd(
      Seq(LloydFamily(prepped, 1, nCells), LloydFamily(prepped, m, k)), iters, idCol)
    (ivfOf(prepped, cells, vecCol, idCol), PqModel(m, k, cells.head.head.length, books))
  }

  /** The declared build's models (`AnnIndex.buildAll`) in one
    * [[trainLloyd]] pass: IVF over the full corpus and over `e300`, and
    * PQ over the full corpus — equal to standalone single-model training
    * (spec-pinned). */
  private[graft] def trainAnnModels(eFull: DataFrame, e300: DataFrame,
      nCells: Int, m: Int, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : (IvfIndex, IvfIndex, PqModel) = {
    val preppedFull = withUnit(eFull.select(col(idCol), col(vecCol)), vecCol)
    val prepped300 = withUnit(e300.select(col(idCol), col(vecCol)), vecCol)
    val Seq(cellsFull, cells300, books) = trainLloyd(Seq(
      LloydFamily(preppedFull, 1, nCells), LloydFamily(prepped300, 1, nCells),
      LloydFamily(preppedFull, m, k)), iters, idCol)
    (ivfOf(preppedFull, cellsFull, vecCol, idCol),
      ivfOf(prepped300, cells300, vecCol, idCol),
      PqModel(m, k, cellsFull.head.head.length, books))
  }

  /**
   * Incremental index growth: assign NEW vectors to an EXISTING index's
   * cells without retraining. One broadcast-centroid pass over the
   * increment only; append the result to the persisted assignments (same
   * partitioned layout) and every probe sees the grown corpus. Centroids
   * drift from the true cell means as the corpus grows — retrain when
   * recall at fixed `nProbe` decays, not on every increment. Assignment
   * is deterministic given the model, so an increment assigned now
   * equals the same rows assigned at build time (unit-asserted).
   */
  def assignToCells(index: IvfIndex, embeddings: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    assignCells(withUnit(embeddings.select(col(idCol), col(vecCol)), vecCol),
      index.centroids, vecCol, idCol)

  /**
   * ANN top-k through an IVF index: rank cells by centroid distance
   * DRIVER-side (the model is local), scan only the `nProbe` nearest cells
   * (partition-pruned against a persisted index), exact-rescore those.
   * `nProbe = nCells` degrades gracefully to exact brute force.
   */
  def topKIvf(index: IvfIndex, query: Seq[Float], k: Int, nProbe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val probed = probeCells(index, query, nProbe)
    val n = if (index.assignments.columns.contains("nrm")) col("nrm")
      else norm(col(vecCol)) // pre-norm-column assignments tables
    Selection.topKBy(index.assignments
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
      .select(col(idCol), cosToQuery(col(vecCol), n, query).as("cos")),
      "cos", idCol, k)
  }

  /**
   * Persist the MRL prefix relation — the matryoshka paper's actual
   * serving layout: the first `kDims` dims stored as their OWN column
   * (plus the precomputed prefix norm), so a routing scan reads
   * kDims/d of the corpus bytes. `slice()` over the full-width column
   * cannot do this: parquet has no sub-array pruning and the codegen'd
   * read deserializes every element, so the column-form routes save
   * dot-product flops only — measured SLOWER than brute force on the
   * join ladder (SCALING.md round 15). One map-only pass, write once,
   * grow by appending the same projection of an increment.
   *
   * Honest bound on the byte win (measured COLD, r16): the on-disk cut
   * is real (1.07 GB → 0.32 GB at 64→16 dims on incompressible
   * vectors) and it is a BYTES-TOUCHED lever — what an IO-billed object
   * store or a disk-bound cluster prices. It is NOT a local wall-clock
   * lever: with the page cache dropped before every run, cold ≈ warm on
   * fast local storage (parallel refill outpaces the scan's compute)
   * and the pre route's extra pass costs about what its byte cut saves
   * (exact 1.04 s vs mrlpre 1.37 s cold at the 2048× rung — SCALING.md
   * round 16). The measured LOCAL win of this relation stays vs the
   * column form (2.8 s → 1.4 s cold), which re-reads full-width rows.
   */
  /** The one prefix projection both writers share — a schema change
    * edited here cannot desynchronize write vs grow (the append==rebuild
    * spec pins that). */
  private def mrlProjection(df: DataFrame, kDims: Int, vecCol: String,
      idCol: String): DataFrame = {
    require(kDims > 0)
    val pre = slice(col(vecCol), 1, kDims)
    df.select(col(idCol), pre.as("prefix"), norm(pre).as("pnrm"))
  }

  def writeMrlPrefixes(embeddings: DataFrame, kDims: Int, path: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    Writes(mrlProjection(embeddings, kDims, vecCol, idCol))
      .mode("overwrite").parquet(path)

  def readMrlPrefixes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Retrain-free index growth, the [[assignToCells]] convention: an
    * increment's prefixes are the SAME deterministic projection, so
    * appending them to the persisted relation equals rebuilding it over
    * the grown corpus (spec-pinned) — no rewrite of the existing files. */
  def growMrlPrefixes(increment: DataFrame, kDims: Int, path: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    // append-time width checks — the one place a mixed-width relation
    // could be CREATED. Two ways in, both guarded: (a) growing with a
    // different kDims than the relation was built with; (b) an
    // increment whose OWN vectors are narrower than kDims, which
    // slice() would clip to their short width. Neither errors at serve
    // time: the take(1) serve guard can sample either width, and
    // mismatched rows' route dots null out — silently dropping them
    // from every shortlist. Guard the write, not (expensively, per
    // serve call) the read.
    val spark = increment.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath))
      requirePrefixWidth(spark.read.parquet(path), kDims)
    // EVERY-ROW scan, not the serve guards' take(1) sample: an increment
    // concatenated from two embedding batches can be mixed-width with a
    // wide first row, and one clipped prefix poisons the relation
    // silently (growServingLayout's reasoning — the write path affords
    // one pass over a micro-batch-sized increment; serve paths do not).
    // isNull branch: under ANSI size(null) is null, which would PASS a
    // bare `< kDims` filter — a null embedding must fail as loudly as a
    // short one (mrlProjection would otherwise write a null prefix row
    // into the persisted relation)
    increment.select(col(idCol), size(col(vecCol)).as("__w"))
      .filter(col("__w").isNull || col("__w") < kDims)
      .take(1).headOption.foreach { r =>
        val w = if (r.isNullAt(1)) "null (null embedding)"
                else r.getInt(1).toString
        require(requirement = false,
          s"increment row $idCol=${r.get(0)} has vector width $w < kDims " +
            s"$kDims — slice() would clip it to a short prefix that every " +
            "route dot silently nulls out; re-embed the increment or " +
            "rebuild the relation at the narrower width")
      }
    Writes(mrlProjection(increment, kDims, vecCol, idCol))
      .mode("append").parquet(path)
  }

  /** Guard against a width drift between the persisted prefix relation
    * and the caller's `kDims`: a mismatch would not error — the dot
    * kernel nulls on length mismatch, silently degrading the shortlist
    * (scalar) or emptying the output (join). One `take(1)` row read per
    * call; an empty relation passes (it can only produce empty output
    * anyway). */
  /** The batch mirror of the scalar forms' `query.length >= kDims`
    * require: a query vector narrower than `kDims` slices short, the
    * dot kernel nulls on the length mismatch, and the per-query heap
    * drops every row — silent EMPTY output for that query instead of
    * an error. One `take(1)` row read per batch call (queries are the
    * small side by the family contract). */
  private def requireQueryWidth(queries: DataFrame, kDims: Int,
      vecCol: String): Unit =
    queries.select(size(col(vecCol))).take(1).headOption.foreach { r =>
      require(r.getInt(0) >= kDims,
        s"query vector width ${r.getInt(0)} < kDims $kDims — the MRL " +
          "route slices the first kDims dims; pass kDims <= query width")
    }

  private def requirePrefixWidth(prefixes: DataFrame, kDims: Int): Unit =
    prefixes.select(size(col("prefix"))).take(1).headOption.foreach { r =>
      require(r.getInt(0) == kDims,
        s"persisted prefix width ${r.getInt(0)} != kDims $kDims — " +
          "rebuild the prefix relation or pass the width it was built with")
    }

  /** Above this many shortlist rows the rerank legs stop collecting to
    * the driver: the route result stays in executor blocks
    * (localCheckpoint) and only the broadcast hint prunes the rerank.
    * |Q|·k·overscan grows with the query batch, so without the valve a
    * production dedup batch (1M queries, k=10, overscan=4) would pull
    * 40M (qId, id) rows through the driver just to broadcast them back
    * — the exact driver-memory term the family's queries≪corpus
    * contract is supposed to exclude. */
  private[graft] val ShortlistCollectCap = 100000

  /** Above this many DISTINCT ids the In filter is skipped: a 100k-term
    * In predicate bloats the plan (serialization + per-row-group stats
    * evaluation) past what the row-group pruning saves. */
  private[graft] val ShortlistInFilterCap = 10000

  /** Execute the route ONCE and pin its result for the rerank join.
    * Two problems this solves at once: (1) reusing the shortlist's
    * DataFrame lineage in the rerank would RE-EXECUTE the whole route
    * inside that job (measured 2-3× whole-query cost on the ladder);
    * (2) the broadcast join alone would STREAM the entire full-width
    * corpus to probe the hash table — parquet cannot prune rows by a
    * runtime broadcast — making the pre forms read MORE total bytes
    * than brute force.
    *
    * The pin is ALWAYS an eager localCheckpoint (executor blocks, no
    * driver term, no filesystem round-trip); counting the pinned blocks
    * is then free. At or below [[ShortlistCollectCap]] rows the blocks
    * are additionally collected into a LOCAL relation plus — at or
    * below [[ShortlistInFilterCap]] distinct ids — an In filter pushed
    * into the rerank scan (row-group stats + dictionary pruning), so
    * the rerank touches only the shortlist's row groups. Above the
    * collect cap (the *_full bridges, where the shortlist IS the
    * corpus, or a big-|Q| batch) the checkpointed frame itself feeds
    * the rerank and only the join prunes. The collect branch reads the
    * already-pinned blocks — the route never runs twice on either
    * branch.
    *
    * The returned frame carries its JOIN STRATEGY: below the cap the
    * local relation comes back wrapped in `broadcast(...)` (|rows| ≤
    * the cap by construction — the hash relation costs exactly the
    * collect already paid, and the corpus side stays shuffle-free);
    * above the cap it comes back with a SHUFFLE_HASH hint instead, so
    * the rerank join shuffles both sides on `idCol` and the shortlist
    * genuinely never transits the driver — a broadcast hint here would
    * be a trap, because `BroadcastExchangeExec` COLLECTS the broadcast
    * side's rows on the driver before re-broadcasting (the 1M-query ×
    * k·overscan batch would pull its 40M-row shortlist through driver
    * memory inside the exchange and die on Spark's 8 GB broadcast
    * ceiling). The hint also keeps the big corpus side from falling
    * back to a sort-merge join that SORTS the whole relation by id —
    * the build side is the (smaller) shortlist either way. Callers must
    * therefore NOT re-wrap the result in `broadcast(...)`; they join it
    * as returned (lint-pinned: no BroadcastExchange may feed the rerank
    * above the cap, PlanLintSpec).
    *
    * `checkpointDir` (threaded from every rerank leg, the
    * semanticDedupIncrement convention): a localCheckpoint's blocks DIE
    * with their executor and the truncated lineage cannot recompute
    * them — fine single-JVM, a late-job killer on long cluster runs.
    * Passing a dir switches the pin to a RELIABLE checkpoint (see
    * [[Materialize]]); only the above-cap branch keeps the pin alive
    * long enough to care.
    *
    * Layout caveat (measured, SCALING.md r16): the In filter prunes row
    * groups only when the corpus layout CLUSTERS ids (sorted / range-
    * partitioned / bucketed writes — which production writers control);
    * on a hash-scattered layout every row group's (min,max) id stats
    * span the whole domain, nothing prunes, and the rerank re-reads the
    * full corpus (+1 s at the 1 GB rung). The join stays correct either
    * way — pruning is a layout-conditional optimization, not a
    * correctness term. */
  private[graft] def materializeShortlist(shortlist: DataFrame,
      idCol: String, collectCap: Int = ShortlistCollectCap,
      checkpointDir: Option[String] = None)
      : (DataFrame, Option[Column]) = {
    val pinned = Materialize(shortlist, checkpointDir)
    // one probe job over the pinned blocks decides the branch AND, at or
    // below the cap, IS the collect (limit cap+1 returns every row then)
    val rows = pinned.limit(collectCap + 1).collect()
    if (rows.length > collectCap) return (pinned.hint("shuffle_hash"), None)
    val local = shortlist.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), shortlist.schema)
    val ids = rows.map(_.getAs[Any](
      shortlist.schema.fieldIndex(idCol))).distinct
    val filter = if (ids.nonEmpty && ids.length <= ShortlistInFilterCap)
      Some(col(idCol).isin(ids.toSeq: _*)) else None
    (broadcast(local), filter)
  }

  /**
   * MRL top-k over the PERSISTED prefix relation: route by prefix
   * cosine against `prefixes` (a scan of kDims/d the bytes — the real
   * matryoshka serving win), then rerank the k·overscan shortlist
   * full-dim against `corpus` (the valve-hinted shortlist join touches
   * only the shortlist rows). Same quantize/tiebreak/zero-norm contracts as
   * [[topKMrl]]; overscan covering the corpus is the same exact bridge
   * (`sim_topk_mrl_pre_full`, shared brute-force oracle). Zero-norm
   * prefixes route to an explicit null, which the DESCENDING route
   * order sorts last — present in the shortlist only once overscan
   * covers the corpus, where the full-dim rerank restores their true
   * score, exactly [[topKMrl]]'s behavior.
   */
  def topKMrlPre(prefixes: DataFrame, corpus: DataFrame, query: Seq[Float],
      k: Int, kDims: Int = 16, overscan: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      checkpointDir: Option[String] = None): DataFrame = {
    require(kDims > 0 && query.length >= kDims && overscan >= 1)
    requirePrefixWidth(prefixes, kDims)
    val shortlist = Selection.topKBy(prefixes.select(col(idCol),
        cosToQueryGuarded(col("prefix"), col("pnrm"), query.take(kDims)).as("__pc")),
      "__pc", idCol, k.toLong * overscan)
      .select(col(idCol))
    // rerank reads ONLY the shortlist's row groups, and the route
    // executes exactly once (materializeShortlist)
    val (localSl, idFilter) = materializeShortlist(shortlist, idCol,
      checkpointDir = checkpointDir)
    val base = corpus.select(col(idCol), col(vecCol))
    Selection.topKBy(localSl
      .join(idFilter.map(base.filter).getOrElse(base), idCol)
      .select(col(idCol),
        cosToQueryGuarded(col(vecCol), norm(col(vecCol)), query).as("cos")),
      "cos", idCol, k)
  }

  /**
   * MRL batch join over the PERSISTED prefix relation — the layout
   * where the matryoshka byte win is real (see [[writeMrlPrefixes]]):
   * the |Q|·|C| pair-scoring pass scans `prefixes` (kDims/d of the
   * corpus bytes) and the heap election ships skinny rows; only the
   * k·overscan shortlist per query joins back to the full-width
   * `corpus` for the exact rerank. Same election, quantize and
   * zero-norm contracts as [[topKJoinMrl]] (-Infinity routing keeps
   * zero-prefix vectors bridge-eligible); corpus-covering overscan is
   * the same exact brute-force bridge (`sim_topk_join_mrl_pre_full`).
   */
  def topKJoinMrlPre(prefixes: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, kDims: Int = 16, overscan: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id",
      checkpointDir: Option[String] = None): DataFrame = {
    require(kDims > 0 && overscan >= 1)
    requirePrefixWidth(prefixes, kDims)
    requireQueryWidth(queries, kDims, vecCol)
    val q = queries.select(col(qIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"),
      slice(col(vecCol), 1, kDims).as("__qp"))
    val qr = q.select(col(qIdCol), col("__qp"), norm(col("__qp")).as("__qpn"))
    val routed = prefixes.crossJoin(broadcast(qr))
      .select(col(qIdCol), col(idCol),
        when(col("pnrm") === 0d || col("__qpn") === 0d,
          lit(Double.NegativeInfinity))
          .otherwise(Quantize.quantize(
            dot(col("prefix"), col("__qp")) / (col("pnrm") * col("__qpn")), 6))
          .as("cos"))
    val shortlist = topKPerQuery(routed, heapShortlistK(k, overscan), idCol, qIdCol)
      .select(col(qIdCol), col(idCol))
    // route executes once + rerank scan prunes to the shortlist's row
    // groups (see materializeShortlist)
    val (localSl, idFilter) = materializeShortlist(shortlist, idCol,
      checkpointDir = checkpointDir)
    val base = corpus.select(col(idCol), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val reranked = localSl
      .join(idFilter.map(base.filter).getOrElse(base), idCol)
      .join(broadcast(q.select(col(qIdCol), col("__qv"), col("__qn"))), qIdCol)
      .select(col(qIdCol), col(idCol),
        when(col("__cn") === 0d || col("__qn") === 0d,
          lit(null).cast("double"))
          .otherwise(Quantize.quantize(
            dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
          .as("cos"))
    topKPerQuery(reranked, k, idCol, qIdCol)
  }

  /** Driver-side probe list: the `nProbe` cells nearest the NORMALIZED
    * query (centroids live in the unit space — IVF trains on
    * normalized vectors, so the probe order agrees with the cosine
    * serving metric), (distance, cell) tiebreak. The model is local;
    * ranking it costs nothing. */
  private def probeCells(index: IvfIndex, query: Seq[Float],
      nProbe: Int): Array[Int] = {
    val qn = normOf(query)
    val qUnit = if (qn > 0) query.map(v => (v / qn).toFloat) else query
    index.centroids.map { case (c, v) =>
      val d2 = v.indices.foldLeft(0.0) { (a, i) =>
        val d = v(i).toDouble - qUnit(i).toDouble; a + d * d
      }
      (c, d2)
    }.sortBy { case (c, d) => (d, c) }.take(nProbe).map(_._1)
  }

  /**
   * MRL serving THROUGH the persisted IVF index — [[topKMrl]]'s prefix
   * route composed with [[topKIvf]]'s cell pruning, so the matryoshka
   * cut serves from the same persisted relation as the rest of the ANN
   * family: cells rank driver-side full-dim (the model is local —
   * probing is free), the probed cells' candidates route on the
   * first-`kDims` prefix cosine (d/kDims× fewer floats in the dot
   * kernel — flops, not IO; see [[topKMrl]]'s slice caveat), and
   * the k·overscan shortlist reranks exactly full-dim via the index's
   * persisted `nrm`. Both shortlist passes are [[Selection.topKBy]] —
   * never a global sort.
   * `nProbe = nCells` AND overscan covering the corpus degrade EXACTLY
   * to brute force — the hash-verified `sim_topk_mrl_ivf_full` bridge.
   * Zero-norm prefixes route to an explicit null (sorting last under
   * the descending route order); zero-norm full vectors rerank to null —
   * the guards shared with [[topKMrl]].
   */
  def topKMrlIvf(index: IvfIndex, query: Seq[Float], k: Int,
      kDims: Int = 16, overscan: Int = 4, nProbe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(kDims > 0 && query.length >= kDims && overscan >= 1)
    val probed = probeCells(index, query, nProbe)
    val pre = slice(col(vecCol), 1, kDims)
    val n = if (index.assignments.columns.contains("nrm")) col("nrm")
      else norm(col(vecCol))
    val shortlist = Selection.topKBy(index.assignments
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
      .select(col(idCol), col(vecCol), n.as("__n"),
        cosToQueryGuarded(pre, norm(pre), query.take(kDims)).as("__pc")),
      "__pc", idCol, k.toLong * overscan)
    Selection.topKBy(shortlist.select(col(idCol),
        cosToQueryGuarded(col(vecCol), col("__n"), query).as("cos")),
      "cos", idCol, k)
  }

  /**
   * Exact k-NN JOIN: for EVERY row of `queries`, the top-k most-similar
   * corpus rows by cosine — the batch form of `topK` (dedup an incoming
   * batch against the corpus, nearest-neighbor labeling). Brute force:
   * score all (query, corpus) pairs — Spark broadcasts the (small) query
   * side, so the corpus is scanned once with no shuffle — then keep k per
   * query with a rank window whose only exchange is on the query id.
   * Oracle-checkable baseline for `topKJoinLsh`.
   */
  def topKJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(qIdCol), col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val scored = q.crossJoin(c)
      .select(col(qIdCol), col(idCol),
        Quantize.quantize(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6).as("cos"))
    topKPerQuery(scored, k, idCol, qIdCol)
  }

  /**
   * ANN k-NN join through a (typically persisted) LSH index: query vectors
   * are bucketed by the SAME deterministic hyperplanes, candidates = corpus
   * rows sharing any (table, bucket) with the query, exact re-scoring and
   * per-query top-k on candidates only. At corpus scale this replaces the
   * brute-force cross product with a bucket-equi-join — and against an
   * index written by `writeLshIndex` the probe side prunes partitions.
   *
   * Degenerate queries (null or empty `vecCol`): bucketing requires a
   * vector, so such query rows produce NO output rows — an explicit,
   * documented drop (`buildLshIndex`'s `size > 0` filter). The exact
   * sibling [[topKJoin]] cannot score them either (a zero-norm cosine
   * divides by zero, which aborts under ANSI); callers batch-joining a
   * frame that may contain degenerate queries should filter or repair
   * them first if they need one output group per input row.
   */
  def topKJoinLsh(corpusIndex: DataFrame, queries: DataFrame, dim: Int, k: Int,
      bits: Int = 4, tables: Int = 8, vecCol: String = "embedding",
      idCol: String = "vec_id", qIdCol: String = "q_id"): DataFrame = {
    // norms precomputed ONCE per side before the bucket join — a hot bucket
    // of b members would otherwise pay 2 extra dot products per candidate.
    // Both sides ride the index's `nrm` column when it exists (every index
    // built since norms were persisted); older indexes recompute once here.
    val qb = buildLshIndex(queries, dim, bits, tables, vecCol, qIdCol)
      .select(col(qIdCol), col(vecCol).as("__qv"), col("nrm").as("__qn"),
        col("table"), col("bucket"))
    val cn = if (corpusIndex.columns.contains("nrm")) col("nrm") else norm(col(vecCol))
    val cb = corpusIndex
      .select(col(idCol), col(vecCol).as("__cv"), cn.as("__cn"),
        col("table"), col("bucket"))
    // query side broadcast explicitly (|Q|·tables rows): its stats hide
    // behind the explode lineage, and on a big corpus index the planner
    // otherwise sorts the whole index relation for an SMJ on the bucket
    // key — the topKJoinIvf ladder lesson (SCALING.md round 15)
    val scored = broadcast(qb).join(cb, Seq("table", "bucket"))
      .dropDuplicates(qIdCol, idCol)
      .select(col(qIdCol), col(idCol),
        Quantize.quantize(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6).as("cos"))
    topKPerQuery(scored, k, idCol, qIdCol)
  }

  /**
   * ANN k-NN JOIN through an IVF index — the batch form of [[topKIvf]],
   * completing the join family (exact [[topKJoin]], LSH [[topKJoinLsh]],
   * IVF here). Cell ranking is DISTRIBUTED per query row: queries
   * cross-join the broadcast centroid table, keep their `nProbe` nearest
   * cells (ranked in the unit space — the index's training metric, same
   * (distance, cell) tiebreak as [[topKIvf]]), then equi-join the
   * cell-partitioned assignments on cell: candidates stream through a
   * hash join keyed by cell instead of the brute-force cross product,
   * and against a persisted index the probed cells prune partitions.
   * Each (query, corpus) pair appears at most once (cells partition the
   * corpus; the probe list is distinct cells), so no dedup pass.
   * `nProbe = nCells` degrades EXACTLY to [[topKJoin]] — the
   * hash-verified bridge (`sim_topk_join_ivf_full`).
   */
  def topKJoinIvf(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id"): DataFrame = {
    val probes = probeCellsJoin(index, queries, nProbe, vecCol, qIdCol)
    val cn = if (index.assignments.columns.contains("nrm")) col("nrm")
      else norm(col(vecCol))
    // BROADCAST the probe relation explicitly: it is |Q|·nProbe rows (the
    // family's queries ≪ corpus regime, bound documented on
    // probeCellsJoin), but its stats are hidden behind the heap
    // aggregation lineage, and on a big corpus the planner falls back to
    // a sort-merge join that SORTS the whole assignments relation by a
    // 16-value key — measured 3.5× the whole-query cost at the 16×
    // ladder rung before the hint (SCALING.md round 15)
    val scored = broadcast(probes).join(
        index.assignments.select(col(idCol), col(vecCol).as("__corp"),
          cn.as("__cn"), col("cell")), "cell")
      .select(col(qIdCol), col(idCol),
        Quantize.quantize(dot(col("__qv"), col("__corp")) / (col("__qn") * col("__cn")), 6).as("cos"))
    topKPerQuery(scored, k, idCol, qIdCol)
  }

  /** Per-query probe relation (qId, __qv, __qn, cell): nProbe nearest
    * cells per query row, elected by the struct_topk heap on (__d, cell)
    * — the same ascending tiebreak the topKIvf probe uses. The broadcast
    * crossJoin generates all nCells candidates for a query INSIDE one
    * task, so partial aggregation collapses them map-side: the exchange
    * carries |Q|·nProbe skinny (qId, cell) rows instead of the window
    * form's |Q|·nCells rows each dragging the full query vector through
    * the shuffle + per-partition sort. The query payload (__qv, __qn)
    * rejoins on qId afterwards — q is the (small) query side, so this
    * plans as a broadcast join.
    *
    * Batch-size bound: the rejoin broadcasts the FULL query payload
    * (|Q| vectors + norms) to every executor — fine for the k-NN-join
    * regime this family serves (query batches ≪ corpus; an increment,
    * a probe set), but a "query" side approaching corpus scale would
    * hit the broadcast memory ceiling. At that scale the right tool is
    * the all-pairs machinery (nearDupPairs / semanticDedup), not a k-NN
    * join; callers who insist can pre-chunk the batch — each chunk
    * rebroadcasts only its own slice. NOTE the explicit broadcast hints
    * make the out-of-regime failure mode EXPLICIT (a broadcast size
    * error) rather than the silent pre-r15 fallback: an SMJ that sorts
    * the whole index relation by a low-cardinality key — measured 3.5×
    * the whole-query cost at the 16× ladder rung. Fail-fast-with-a-
    * named-bound is this engine's contract; pre-chunking is the escape. */
  private def probeCellsJoin(index: IvfIndex, queries: DataFrame,
      nProbe: Int, vecCol: String, qIdCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = index.centroids.map { case (c, v) =>
      (c, v, v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    }.toSeq.toDF("cell", "__cv", "__cn2")
    val q = withUnit(queries.select(col(qIdCol), col(vecCol)), vecCol)
      .select(col(qIdCol), col(vecCol).as("__qv"), col("nrm").as("__qn"), col("__unit"))
    val elected = q.crossJoin(broadcast(cents))
      .select(col(qIdCol),
        struct((col("__cn2") - lit(2.0) * dot(col("__unit"), col("__cv"))).as("d"),
          col("cell").as("c")).as("__dc"))
      .groupBy(col(qIdCol))
      .agg(graft.plans.TopKExpressions.topKStructs(col("__dc"), nProbe).as("__tk"))
      .select(col(qIdCol), explode(col("__tk.c")).as("cell"))
    elected.join(broadcast(q.drop("__unit")), qIdCol)
      .select(col(qIdCol), col("__qv"), col("__qn"), col("cell"))
  }

  /**
   * MRL batch join THROUGH the persisted IVF index — the composed form
   * closing the serving matrix (scalar: [[topKMrl]]/[[topKMrlIvf]];
   * batch: [[topKJoinMrl]]/here): per-query cells elect exactly as
   * [[topKJoinIvf]] (broadcast centroids + heap), the pruned candidates
   * score on the first-`kDims` PREFIX only (a flops cut — see
   * [[topKMrl]]'s slice caveat; the byte cut is [[topKJoinMrlPre]]'s
   * persisted prefix relation), each query's k·overscan shortlist
   * elects via the
   * shared heap, and only the shortlist is reranked exactly full-dim
   * from the index's persisted vectors and `nrm`. `nProbe = nCells` AND
   * corpus-covering overscan degrade EXACTLY to the brute-force batch
   * join — the hash-verified `sim_topk_join_mrl_ivf_full` bridge.
   * Zero-norm prefixes route to -Infinity (routed out at production
   * overscan — the MRL contract — but bridge-eligible at full
   * overscan, see [[topKJoinMrl]]); zero-norm full vectors rerank to
   * null and drop, as [[topKJoin]] scoring does.
   */
  def topKJoinMrlIvf(index: IvfIndex, queries: DataFrame, k: Int,
      kDims: Int = 16, overscan: Int = 4, nProbe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id",
      checkpointDir: Option[String] = None): DataFrame = {
    require(kDims > 0 && overscan >= 1)
    requireQueryWidth(queries, kDims, vecCol)
    val probes = probeCellsJoin(index, queries, nProbe, vecCol, qIdCol)
      .withColumn("__qp", slice(col("__qv"), 1, kDims))
      .withColumn("__qpn", norm(col("__qp")))
    // prefix + its norm computed in a projection BELOW the join — once
    // per CORPUS row in the scan stage, not once per joined pair: a
    // post-join slice/norm re-evaluates per output row (up to nProbe·|Q|
    // per corpus row), allocating a fresh 16-float array each time —
    // the dominant cost of the first ladder cut (SCALING.md round 15)
    val cPre = slice(col(vecCol), 1, kDims)
    // -Inf (not null) for zero-norm prefixes — same bridge-exactness
    // reasoning as [[topKJoinMrl]]'s route leg. Probe side broadcast
    // explicitly — same hidden-stats SMJ hazard as [[topKJoinIvf]]
    val routed = broadcast(probes).join(
        index.assignments.select(col(idCol), cPre.as("__cp"),
          norm(cPre).as("__cpn"), col("cell")), "cell")
      .select(col(qIdCol), col(idCol),
        when(col("__cpn") === 0d || col("__qpn") === 0d,
          lit(Double.NegativeInfinity))
          .otherwise(Quantize.quantize(
            dot(col("__cp"), col("__qp")) / (col("__cpn") * col("__qpn")), 6))
          .as("cos"))
    val shortlist = topKPerQuery(routed, heapShortlistK(k, overscan), idCol, qIdCol)
      .select(col(qIdCol), col(idCol))
    val cn = if (index.assignments.columns.contains("nrm")) col("nrm")
      else norm(col(vecCol))
    val q = withUnit(queries.select(col(qIdCol), col(vecCol)), vecCol)
      .select(col(qIdCol), col(vecCol).as("__qv"), col("nrm").as("__qn"))
    val (localSl, idFilter) = materializeShortlist(shortlist, idCol,
      checkpointDir = checkpointDir)
    val base = index.assignments.select(col(idCol),
      col(vecCol).as("__cv"), cn.as("__cn"))
    val reranked = localSl
      .join(idFilter.map(base.filter).getOrElse(base), idCol)
      .join(broadcast(q), qIdCol)
      .select(col(qIdCol), col(idCol),
        when(col("__cn") === 0d || col("__qn") === 0d,
          lit(null).cast("double"))
          .otherwise(Quantize.quantize(
            dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
          .as("cos"))
    topKPerQuery(reranked, k, idCol, qIdCol)
  }

  /**
   * MRL k-NN JOIN — the batch form of [[topKMrl]], completing the join
   * family (exact [[topKJoin]], LSH, IVF, PQ, and the matryoshka cut
   * here): the O(|Q|·|C|) pair-scoring pass — the term that dominates a
   * k-NN join — runs on the first-`kDims` PREFIX cosine only (d/kDims×
   * less dot-product work and a heap keyed on skinny
   * (qId, id, prefix-cos) rows), each query's k·overscan shortlist is
   * elected by the same struct_topk heap as every other join form, and
   * only |Q|·k·overscan full vectors are touched for the exact rerank
   * (shortlist joins via the valve's hint; queries rejoin broadcast — the family's
   * batch-size bound, see [[topKJoinIvf]]'s note). Overscan covering
   * the corpus makes the shortlist everything and the rerank IS
   * [[topKJoin]] — the hash-verified `sim_topk_join_mrl_full` bridge.
   * Zero-norm PREFIXES route to -Infinity — below every real cosine,
   * so a vector invisible at kDims dims is routed out at production
   * overscan (the MRL contract) yet STAYS ELIGIBLE at corpus-covering
   * overscan, where the exact rerank restores its true score (null
   * would be dropped by the election and break the bridge); zero-norm
   * full vectors rerank to null and drop, exactly as [[topKJoin]]'s
   * scoring does.
   */
  def topKJoinMrl(corpus: DataFrame, queries: DataFrame, k: Int,
      kDims: Int = 16, overscan: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id",
      checkpointDir: Option[String] = None): DataFrame = {
    require(kDims > 0 && overscan >= 1)
    requireQueryWidth(queries, kDims, vecCol)
    val q = queries.select(col(qIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"),
      slice(col(vecCol), 1, kDims).as("__qp"))
    val qr = q.select(col(qIdCol), col("__qp"), norm(col("__qp")).as("__qpn"))
    val cp = corpus.select(col(idCol), slice(col(vecCol), 1, kDims).as("__cp"))
      .withColumn("__cpn", norm(col("__cp")))
    // zero-norm prefixes route to -Infinity, NOT null: the shortlist
    // election drops null scores (topKPerQuery's contract), which would
    // make a zero-prefix/nonzero-full vector unreachable even at
    // corpus-covering overscan — breaking the exact-degradation bridge.
    // -Inf ranks below every real cosine (routed out at production
    // overscan, the MRL contract) yet stays eligible when the shortlist
    // is everything, where the exact rerank restores its true score.
    val routed = cp.crossJoin(broadcast(qr))
      .select(col(qIdCol), col(idCol),
        when(col("__cpn") === 0d || col("__qpn") === 0d,
          lit(Double.NegativeInfinity))
          .otherwise(Quantize.quantize(
            dot(col("__cp"), col("__qp")) / (col("__cpn") * col("__qpn")), 6))
          .as("cos"))
    val shortlist = topKPerQuery(routed, heapShortlistK(k, overscan), idCol, qIdCol)
      .select(col(qIdCol), col(idCol))
    val (localSl, idFilter) = materializeShortlist(shortlist, idCol,
      checkpointDir = checkpointDir)
    val base = corpus.select(col(idCol), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val reranked = localSl
      .join(idFilter.map(base.filter).getOrElse(base), idCol)
      .join(broadcast(q.select(col(qIdCol), col("__qv"), col("__qn"))), qIdCol)
      .select(col(qIdCol), col(idCol),
        when(col("__cn") === 0d || col("__qn") === 0d,
          lit(null).cast("double"))
          .otherwise(Quantize.quantize(
            dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
          .as("cos"))
    topKPerQuery(reranked, k, idCol, qIdCol)
  }

  /** A batch join's per-query shortlist size `k · overscan`, which the
    * `struct_topk` heap takes as an Int: an overflowing product must fail
    * here, not wrap to a silently empty (or negative) shortlist. */
  private def heapShortlistK(k: Int, overscan: Int): Int = {
    require(k.toLong * overscan <= Int.MaxValue,
      s"k * overscan = ${k.toLong * overscan} exceeds the per-query heap's Int range")
    k * overscan
  }

  /** Deterministic per-query top-k: `struct_topk` heap aggregation keyed
    * on the query id — k smallest `(-cos, id)` pairs, i.e. the same
    * `(cos DESC, id ASC)` election the SQL rank-window oracle spells.
    *
    * Replaces the former `row_number().over(partitionBy(qId))` idiom:
    * the window plan pays a FULL per-partition sort of the scored
    * relation just to feed WindowGroupLimit, while the heap aggregate is
    * O(n log k) with map-side combine and ships ≤ k rows per query per
    * input partition into the exchange — the same shuffle bound with the
    * dominant local sort removed (the r12 `top_parts_heap` A/B: 0.66 s vs
    * 1.05 s on the identical statement). The negated score orders the
    * heap; the ORIGINAL cos rides as a payload field and is emitted
    * as-is — re-negating the stored key would turn a 0.0 score into
    * -0.0 after UnsafeWriter's -0.0→0.0 normalization (SPARK-26021), a
    * byte the window form never produces.
    *
    * Null scores are dropped BEFORE the heap: `struct_topk` orders null
    * key fields first-ascending, so a null cos (reachable via a null
    * embedding element through the null-propagating dot kernel, or a
    * zero-norm vector under non-ANSI division) would be elected AHEAD
    * of every real neighbor — the opposite of the replaced
    * `row_number().over(orderBy(cos.desc))` window and of the SQL rank
    * oracles, both of which order nulls last. A null score is "no
    * measurable similarity"; it is never a neighbor. */
  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String,
      qIdCol: String): DataFrame =
    scored.filter(col("cos").isNotNull)
      .groupBy(col(qIdCol))
      .agg(graft.plans.TopKExpressions.topKStructs(
        struct(negate(col("cos")).as("n"), col(idCol).as("i"), col("cos")), k).as("__tk"))
      .select(col(qIdCol), explode(col("__tk")).as("__e"))
      .select(col(qIdCol), col("__e.i").as(idCol), col("__e.cos").as("cos"))

  /**
   * SemDeDup-style semantic dedup: connected components over the cosine
   * near-dup graph; within each cluster the smallest id survives, every
   * other member is dropped. `pairs` decides the cost/recall point —
   * [[nearDupPairsExact]] (all-pairs, oracle-able, small corpora) or
   * [[nearDupPairs]]/[[nearDupPairsFromIndex]] (LSH-bucketed with
   * `maxBucket`, the 100 TB path). The CC + anti-join machinery is shared
   * with the text-side `Dedup.dedupByClusters` — one survivor algorithm,
   * both modalities.
   */
  def semanticDedup(embeddings: DataFrame, pairs: DataFrame,
      idCol: String = "vec_id", checkpointDir: Option[String] = None): DataFrame =
    Dedup.dedupByClusters(embeddings, pairs, idCol, checkpointDir)

  /** Exact all-pairs cosine above threshold — the oracle-checkable
    * baseline the LSH variant approximates (O(n²), small-SF only). */
  def nearDupPairsExact(embeddings: DataFrame, minCosine: Double,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val withNorm = embeddings.withColumn("__n", norm(col(vecCol)))
    val a = withNorm.as("a")
    val b = withNorm.as("b")
    a.join(b, col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        Quantize.quantize(dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.__n") * col("b.__n")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /**
   * SEMANTIC decontamination — the embedding-side complement of the
   * lexical `Corpus.decontaminate` family: drop every corpus vector
   * whose cosine against ANY eval-set vector reaches `minCosine`
   * (paraphrased or re-embedded eval leakage that exact/winnow n-gram
   * matching cannot see). Survivors keep their full row.
   *
   * 100 TB shape: the eval set is the SMALL side by definition
   * (benchmarks are thousands of rows, the corpus is the 100 TB) — it
   * broadcasts explicitly, the corpus streams map-only through a
   * BroadcastNestedLoopJoin LeftAnti (no shuffle, no cartesian; the
   * per-pair cost is one codegen'd dot). Quantized-6dp cosine vs the
   * same epsilon-robust threshold as the near-dup family (`thrOf`), so
   * the DuckDB oracle's NOT EXISTS reproduces the cut bit-for-bit.
   * Zero-norm vectors (either side) score null → never contaminated —
   * "no measurable similarity", the family's null contract.
   */
  def decontaminateSemantic(embeddings: DataFrame, evalSet: DataFrame,
      minCosine: Double, vecCol: String = "embedding"): DataFrame = {
    val thr = thrOf(minCosine)
    val ev = evalSet.select(col(vecCol).as("__ev"))
      .withColumn("__evn", norm(col("__ev")))
    val cos = Quantize.quantize(
      dot(col(vecCol), col("__ev")) / (col("__n") * col("__evn")), 6)
    embeddings.withColumn("__n", norm(col(vecCol)))
      .join(broadcast(ev),
        col("__n") > 0 && col("__evn") > 0 && cos >= lit(thr.toDouble / 1e6),
        "left_anti")
      .drop("__n")
  }

  // ------------------------------------------------------------------ PQ

  /** Product-quantization codebooks: `centroids(m)(code)` = the code-th
    * centroid of subspace m, trained in the UNIT space (cosine serving,
    * like IVF). Size m·k·(dim/m) floats — kilobytes, a driver value. */
  final case class PqModel(m: Int, k: Int, dim: Int,
      centroids: Array[Array[Array[Float]]])

  /** Argmin code per (id, subspace), MAP-ONLY: each subspace slice gets
    * its own [[graft.plans.VectorKernels.nearestCentroid]] kernel against that
    * subspace's literal codebook (the per-subspace [[assignCells]]), the
    * m (slice, code) structs explode into the training rows [[trainLloyd]]
    * folds. Bit-identical to the previous broadcast-codebook join +
    * `min(struct)` (same distance form, same first-min tie-break) with
    * the m·k fan-out and the groupBy(id, m) exchange gone. Takes the
    * `withUnit`-prepped frame. */
  private def assignCodes(prepped: DataFrame,
      books: Array[Array[Array[Float]]], sub: Int, idCol: String): DataFrame = {
    val m = books.length
    // slices bound in their own projection: each is referenced by its
    // kernel AND carried into the struct, and CollapseProject declines
    // to inline non-cheap producers
    val sliced = prepped.select(col(idCol) +: (0 until m).map(mi =>
      slice(col("__unit"), mi * sub + 1, sub).as(s"__sv_$mi")): _*)
    val entries = (0 until m).map { mi =>
      val cn2 = books(mi).map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      struct(lit(mi).as("__m"), col(s"__sv_$mi").as("__sv"),
        graft.plans.VectorExpressions.nearestCentroid(col(s"__sv_$mi"),
          books(mi).map(_.toSeq).toSeq, cn2.toSeq).as("__code"))
    }
    sliced.select(col(idCol), explode(array(entries: _*)).as("__e"))
      .select(col(idCol), col("__e.__m").as("__m"),
        col("__e.__sv").as("__sv"), col("__e.__code").as("__code"))
  }

  /** Encode the corpus: (id, codes array<int> ordered by subspace) — the
    * compressed relation to persist; `m` bytes of information per vector.
    * MAP-ONLY: the codebooks are kilobytes, so they ride in the plan as a
    * literal array and each row computes its own argmins in place — no
    * explode, no join, no shuffle; a 100 TB encode fuses into the scan
    * (plan-asserted Exchange- and Generate-free). Distances use the same
    * `‖c‖² − 2·v̂·c` form and first-min tie-break as the training-side
    * [[assignCodes]], so encode-time codes agree with training-time
    * assignments by construction (and the on-codebook / full-bridge
    * specs pin the end-to-end result). */
  def pqEncode(embeddings: DataFrame, model: PqModel,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val sub = model.dim / model.m
    val prepped = withUnit(embeddings.select(col(idCol), col(vecCol)), vecCol)
    // slices bound in their own projection: each is referenced k times
    // below and CollapseProject declines to inline non-cheap producers
    val sliced = prepped.select(col(idCol) +: (0 until model.m).map(mi =>
      slice(col("__unit"), mi * sub + 1, sub).as(s"__sv_$mi")): _*)
    val codeCols = (0 until model.m).map { mi =>
      val dists = array(model.centroids(mi).map { cv =>
        val cn2 = cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        lit(cn2) - lit(2.0) * dot(col(s"__sv_$mi"), array(cv.map(lit(_)): _*))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    sliced.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /**
   * ADC (asymmetric-distance) top-k over the ENCODED corpus: the query
   * stays exact; each (subspace, code) pair's squared distance to the
   * query's subvector is computed DRIVER-side from the model (m·k
   * doubles) and shipped as a LITERAL 2-D lookup table in the plan — a
   * candidate's approximate distance is a per-row sum of `m` array
   * lookups, so the scan is MAP-ONLY (no explode, no join, no
   * aggregation exchange) feeding straight into TakeOrderedAndProject.
   * `approx_cos` = 1 − d²/2 (unit space); scores are approximate BY
   * DESIGN (quantization is lossy), so the query is rows-only — the spec
   * pins recall vs brute force, and exactness when the corpus lies ON
   * the codebook (k ≥ distinct subvectors: quantization error 0, top-k ≡
   * brute force).
   */
  def topKPq(encoded: DataFrame, model: PqModel, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame =
    Selection.topKBy(adcScores(encoded, model, query, idCol),
      "approx_cos", idCol, k)

  /** (id, approx_cos) ADC scores of every encoded row against `query` —
    * [[topKPq]]'s scan, which the rescored serves cut at `k · overscan`
    * (a corpus-fraction shortlist size: [[Selection.topKBy]] keeps it
    * off the single-point merge above the cap). */
  private def adcScores(encoded: DataFrame, model: PqModel,
      query: Seq[Float], idCol: String): DataFrame = {
    val qn = normOf(query)
    val qUnit = (if (qn > 0) query.map(v => (v / qn).toFloat) else query).toArray
    val sub = model.dim / model.m
    val tableLit = array((0 until model.m).map { mi =>
      array((0 until model.k).map { ci =>
        val cv = model.centroids(mi)(ci)
        lit((0 until sub).foldLeft(0.0) { (a, i) =>
          val d = cv(i).toDouble - qUnit(mi * sub + i).toDouble; a + d * d
        })
      }: _*)
    }: _*)
    // d² = Σ_m table[m][code_m]: native codegen'd lookup-sum
    // (graft.plans.PqAdcDistance) — ADC is the inner loop of every PQ
    // probe, and the HOF formulation it replaces evaluated interpreted
    // per row. Same double accumulation in subspace order → bit-identical.
    val d2 = graft.plans.VectorExpressions.pqAdc(col("codes"), tableLit)
    encoded.select(col(idCol),
      Quantize.quantize(lit(1) - d2 / 2, 6).as("approx_cos"))
  }

  /**
   * The PRODUCTION PQ serving shape: ADC shortlists `k · overscan`
   * candidates from the compressed codes, then ONLY those few read their
   * full vectors for an exact cosine rerank — quantization error decides
   * membership of a generous shortlist, never the final ranking. This is
   * how PQ engines actually serve (compressed scan + tiny exact rerank):
   * the full-vector relation is touched for `k · overscan` rows — a
   * broadcast-able sliver — while the corpus-wide scan reads `m`-byte
   * codes instead of `4d`-byte vectors.
   */
  def topKPqRescored(encoded: DataFrame, embeddings: DataFrame, model: PqModel,
      query: Seq[Float], k: Int, overscan: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val shortlist = Selection.topKBy(adcScores(encoded, model, query, idCol),
      "approx_cos", idCol, k.toLong * overscan).select(col(idCol))
    // the route runs once, and the join strategy follows the shortlist's
    // size (broadcast at or below the collect cap, shuffle-hash above it)
    val (pinned, idFilter) = materializeShortlist(shortlist, idCol)
    topK(pinned.join(idFilter.map(embeddings.filter).getOrElse(embeddings), idCol),
      query, k, vecCol, idCol)
  }

  /** Persist codes + codebooks; exact model round-trip like
    * [[writeIvfIndex]] (re-deriving codebooks from codes is impossible —
    * they ARE the model). Codes are the corpus-sized relation (`m` small
    * ints per id); the model is kilobytes. The model rows are the whole
    * persisted model: `(m, k, dim)` fall out of the dense m×k row grid
    * and the subvector width, so no meta sidecar — one fewer write job
    * here and one fewer `head` job in every [[readPqIndex]] (r21). */
  def writePqIndex(encoded: DataFrame, model: PqModel, path: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    Writes(encoded).mode("overwrite").parquet(s"$path/codes")
    val rows = for (mi <- 0 until model.m; ci <- 0 until model.k)
      yield (mi, ci, model.centroids(mi)(ci).toSeq)
    Writes(rows.toDF("m", "code", "cvec").coalesce(1))
      .mode("overwrite").parquet(s"$path/model")
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, PqModel) = {
    // (m, k, dim) derived from the model rows — [[writePqIndex]] always
    // writes the full dense m×k grid, and dim = m · |subvector|
    val modelRows = spark.read.parquet(s"$path/model").collect()
    require(modelRows.nonEmpty, s"empty pq model at $path/model")
    val m = modelRows.iterator.map(_.getInt(0)).max + 1
    val k = modelRows.iterator.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Array[Float]](m, k)
    modelRows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    val dim = m * cents(0)(0).length
    (spark.read.parquet(s"$path/codes"), PqModel(m, k, dim, cents))
  }

  /** The persisted IVF-PQ data relation: (id, cell, codes), written
    * cell-partitioned so probes prune directories like [[writeIvfIndex]]. */
  def buildCellCodes(ivf: IvfIndex, encoded: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    ivf.assignments.select(col(idCol), col("cell"))
      .join(encoded, Seq(idCol))

  /** Persist the IVF-PQ serving relation: one directory per cell, `m`
    * small ints per vector — the layout [[topKJoinIvfPq]] serves from at
    * corpus scale (probes read `nProbe` directories of codes; full
    * vectors are touched only by the rerank sliver). Build
    * it once with [[buildCellCodes]] — the join never runs at serve
    * time. The MODELS persist via their own writers ([[writeIvfIndex]]
    * for the trained centroids, [[writePqIndex]] for the codebooks):
    * both are exact round-trips, and serving needs only kilobytes of
    * model plus this relation. */
  def writeCellCodes(cellCodes: DataFrame, path: String): Unit =
    // one writing task per cell directory, parallel commit — see
    // [[writeLshIndex]] / [[writePartitionedParallel]]
    writePartitionedParallel(cellCodes, Seq("cell"), path)

  def readCellCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /**
   * Batch ADC k-NN join — the PQ member of the join family
   * ([[topKJoin]]/[[topKJoinLsh]]/[[topKJoinIvf]]): each QUERY row first
   * computes its own (subspace, code) distance table in ONE projection
   * from the literal codebooks (`k·dim` work per query — the classic ADC
   * precompute, amortized over the whole corpus), then the broadcast
   * query×table side joins the encoded corpus and each pair costs `m`
   * array lookups instead of `dim` multiply-adds — and the corpus side
   * reads m-int codes, not 4d-byte vectors.
   */
  /** Per-query ADC table over the `__unit` column:
    * `table[m][c] = ‖c‖² − 2·q̂_m·c + ‖q̂_m‖²` — the per-(query, subspace)
    * norm is constant (irrelevant to ranking) but kept so approx_cos is
    * the honest 1 − d²/2. `k·dim` work per query row, amortized over the
    * whole corpus — shared by [[topKJoinPq]] and [[topKJoinIvfPq]]. */
  private def adcTableFor(model: PqModel): Column = {
    val sub = model.dim / model.m
    array((0 until model.m).map { mi =>
      val sv = slice(col("__unit"), mi * sub + 1, sub)
      array(model.centroids(mi).map { cv =>
        val cn2 = cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        lit(cn2) - lit(2.0) * dot(sv, array(cv.map(lit(_)): _*)) +
          dot(sv, sv)
      }: _*)
    }: _*)
  }

  def topKJoinPq(encoded: DataFrame, queries: DataFrame, model: PqModel,
      k: Int, vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id"): DataFrame = {
    val prepped = withUnit(queries.select(col(qIdCol), col(vecCol)), vecCol)
    val q = prepped.select(col(qIdCol), adcTableFor(model).as("__tbl"))
    // per-pair cost: m codegen'd array lookups (PqAdcDistance), not an
    // interpreted HOF chain — the batch join evaluates this |corpus|·|Q|
    // times, so it must stay inside whole-stage codegen
    val d2 = graft.plans.VectorExpressions.pqAdc(col("codes"), col("__tbl"))
    val scored = encoded.crossJoin(broadcast(q))
      .select(col(qIdCol), col(idCol), Quantize.quantize(lit(1) - d2 / 2, 6).as("cos"))
    topKPerQuery(scored, k, idCol, qIdCol)
      .withColumnRenamed("cos", "approx_cos")
  }

  /** Production batch shape: ADC shortlist per query, exact rerank of the
    * `k · overscan` sliver against full vectors — [[topKPqRescored]] for
    * many queries at once. A corpus-spanning overscan provably degrades
    * to [[topKJoin]] (the hash-verified `sim_topk_join_pq_full` bridge). */
  def topKJoinPqRescored(encoded: DataFrame, embeddings: DataFrame,
      queries: DataFrame, model: PqModel, k: Int, overscan: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id",
      qIdCol: String = "q_id"): DataFrame = {
    val shortlist = topKJoinPq(encoded, queries, model, heapShortlistK(k, overscan),
      idCol = idCol, qIdCol = qIdCol).select(col(qIdCol), col(idCol))
    // exact rescoring of exactly the shortlisted (query, candidate) pairs
    val c = embeddings.select(col(idCol), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(qIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val scored = shortlist.join(c, idCol).join(broadcast(q), qIdCol)
      .select(col(qIdCol), col(idCol),
        Quantize.quantize(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6).as("cos"))
    topKPerQuery(scored, k, idCol, qIdCol)
  }

  /**
   * IVF-PQ batch k-NN join — the composed member of the join family:
   * each query row ranks its `nProbe` nearest cells against the
   * broadcast centroid table (as [[topKJoinIvf]]), carries its own ADC distance table (as
   * [[topKJoinPq]]), and the cell equi-join streams only the probed
   * cells' CODES — the corpus side reads `m` small ints per vector from
   * the partition-pruned `cellCodes` relation, each pair costs `m`
   * codegen'd lookups ([[PqAdcDistance]]), and full vectors are touched
   * only for the `k · overscan` rerank sliver. This is billion-scale
   * batch dedup-against-corpus: IVF prunes WHICH vectors, PQ shrinks WHAT
   * each look costs, the exact rerank fixes the final ranking.
   *
   * `nProbe = nCells` + a corpus-spanning `overscan` probes every cell
   * and reranks every candidate exactly — provably [[topKJoin]], the
   * hash-verified `sim_topk_join_ivfpq_full` bridge.
   */
  def topKJoinIvfPq(cellCodes: DataFrame, embeddings: DataFrame,
      ivf: IvfIndex, pq: PqModel, queries: DataFrame, k: Int,
      nProbe: Int = graft.AnnIndex.ServeNProbe,
      overscan: Int = graft.AnnIndex.ServeOverscan,
      vecCol: String = "embedding",
      idCol: String = "vec_id", qIdCol: String = "q_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = ivf.centroids.map { case (c, v) =>
      (c, v, v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    }.toSeq.toDF("cell", "__cv", "__cn2")
    // one pass per query row computes BOTH the ADC table and the unit
    // vector the cell ranking needs — same (distance, cell) tiebreak as
    // topKJoinIvf/topKIvf
    val q = withUnit(queries.select(col(qIdCol), col(vecCol)), vecCol)
      .select(col(qIdCol), adcTableFor(pq).as("__tbl"), col("__unit"))
    // struct_topk probe election, same shape as topKJoinIvf: the heap
    // collapses each query's nCells candidates map-side (the broadcast
    // crossJoin keeps them in one task) and only (qId, cell) pairs reach
    // the exchange; the per-query ADC table — the FAT payload, m·2^b
    // doubles — rejoins once per elected probe instead of riding every
    // candidate row through a window sort.
    val elected = q.crossJoin(broadcast(cents))
      .select(col(qIdCol),
        struct((col("__cn2") - lit(2.0) * dot(col("__unit"), col("__cv"))).as("d"),
          col("cell").as("c")).as("__dc"))
      .groupBy(col(qIdCol))
      .agg(graft.plans.TopKExpressions.topKStructs(col("__dc"), nProbe).as("__tk"))
      .select(col(qIdCol), explode(col("__tk.c")).as("cell"))
    // Same batch-size bound as topKJoinIvf's rejoin, amplified: the
    // payload here is the per-query ADC table (m·2^b doubles) — kilobytes
    // per query, so |Q| must stay in the query-batch regime (≪ corpus);
    // corpus-scale "query" sides belong to the all-pairs machinery.
    val probes = elected.join(broadcast(q.drop("__unit")), qIdCol)
      .select(col(qIdCol), col("__tbl"), col("cell"))
    // probes = |Q|·nProbe rows of kilobyte tables — broadcast, so the
    // (cell-partitioned) code relation streams map-only through the join
    val d2 = graft.plans.VectorExpressions.pqAdc(col("codes"), col("__tbl"))
    val scored = cellCodes.join(broadcast(probes), "cell")
      .select(col(qIdCol), col(idCol), Quantize.quantize(lit(1) - d2 / 2, 6).as("cos"))
    val shortlist = topKPerQuery(scored, heapShortlistK(k, overscan), idCol, qIdCol)
      .select(col(qIdCol), col(idCol))
    // exact rescoring of exactly the shortlisted (query, candidate) pairs
    // — the valve hints the shortlist side explicitly (|Q|·k·overscan
    // skinny rows whose stats hide behind the heap lineage; without a
    // hint a big corpus side falls back to a sort-merge join that sorts
    // the whole embeddings relation by id, the topKJoinIvf ladder lesson)
    val c = embeddings.select(col(idCol), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val qv = queries.select(col(qIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val (localSl, idFilter) = materializeShortlist(shortlist, idCol,
      checkpointDir = checkpointDir)
    val rescored = localSl
      .join(idFilter.map(c.filter).getOrElse(c), idCol)
      .join(broadcast(qv), qIdCol)
      .select(col(qIdCol), col(idCol),
        Quantize.quantize(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6).as("cos"))
    topKPerQuery(rescored, k, idCol, qIdCol)
  }

  // ---- k-means building blocks (oracle-verifiable) -----------------------
  //
  // The IVF trainer above IS Lloyd's algorithm, but it runs end-to-end
  // with driver-side centroid state between rounds — fine for building an
  // index, opaque to a SQL oracle. These two functions expose ONE
  // assignment and ONE update step as plain declarative relations so the
  // clustering primitive itself is hash-verifiable cross-engine (the
  // SemDeDup-style "cluster then prune within cluster" recipes compose
  // from exactly these two steps).

  /** Deterministic seeds: the k lowest-id vectors. A bounded driver pull
    * (k rows — same posture as the IVF centroid collect above); no RNG,
    * so any engine picks the identical seed set. */
  def kmeansSeeds(embeddings: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Float]] =
    embeddings.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)

  /** The fused struct<cell, cos> argmax-cosine column — one
    * [[graft.plans.VectorKernels.nearestCentroidCos]] kernel call (centroid table via
    * addReferenceObj) replacing the k-literal-array centroid-score +
    * `array_max` + `array_position` chain, which stalls whole-stage
    * codegen past k ≈ 256 (the r12 sweep's named ladder stop).
    * Bit-identical arithmetic and ordering (kernel scaladoc); optionally
    * IVF-PRUNED: a driver-built coarse quantizer over the centroid table
    * routes each vector to `nProbe` of `nCoarse` coarse cells and only
    * their member centroids are scanned — O(√k·nProbe)-ish per row, the
    * sub-linear-in-k path for cell counts that grow with the corpus. */
  private def assignStruct(centroids: Array[Array[Float]], vecCol: String,
      pruned: Option[(Int, Int)]): Column = pruned match {
    case None =>
      graft.plans.VectorExpressions.nearestCentroidCos(col(vecCol),
        centroids.map(_.toSeq).toSeq, centroids.map(c => normOf(c.toSeq)).toSeq)
    case Some((nCoarse, nProbe)) =>
      val (coarse, members) = coarseOverCentroids(centroids, nCoarse)
      graft.plans.VectorExpressions.nearestCentroidPruned(col(vecCol),
        coarse.map(_.toSeq).toSeq, coarse.map(c => normOf(c.toSeq)).toSeq,
        members.map(_.toSeq).toSeq,
        centroids.map(_.toSeq).toSeq, centroids.map(c => normOf(c.toSeq)).toSeq,
        nProbe)
  }

  /** Deterministic driver-side coarse quantizer OVER the centroid table:
    * stride seeding, a few Lloyd rounds under cosine (first-max ties,
    * zero-norm rows rank last), members = final assignment. k centroid
    * vectors are model-sized (k·d floats), so this is driver math by the
    * same convention as the k-means loop's ≤B+1-row collects — no job.
    * The member lists only need to PARTITION 0..k-1 for the pruned
    * kernel's nProbe = nCoarse bridge to be exact; their quality decides
    * recall at small nProbe, not correctness. */
  private[graft] def coarseOverCentroids(cents: Array[Array[Float]], nCoarse: Int,
      iters: Int = 4): (Array[Array[Float]], Array[Array[Int]]) = {
    val k = cents.length
    val c = math.max(1, math.min(nCoarse, k))
    val d = cents.head.length
    val cNorm = cents.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    var coarse = Array.tabulate(c)(j => cents((j.toLong * k / c).toInt).map(_.toDouble))
    val assign = new Array[Int](k)
    def assignAll(): Unit = {
      val coNorm = coarse.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
      var m = 0
      while (m < k) {
        var bj = 0; var bcos = Double.NegativeInfinity
        var j = 0
        while (j < c) {
          var acc = 0.0; var t = 0
          while (t < d) { acc += cents(m)(t).toDouble * coarse(j)(t); t += 1 }
          val den = cNorm(m) * coNorm(j)
          val cos = if (den == 0.0) Double.NegativeInfinity else acc / den
          if (!cos.isNaN && cos > bcos) { bcos = cos; bj = j }
          j += 1
        }
        assign(m) = bj
        m += 1
      }
    }
    for (_ <- 0 until iters) {
      assignAll()
      val sums = Array.fill(c)(new Array[Double](d))
      val counts = new Array[Int](c)
      for (m <- 0 until k) {
        counts(assign(m)) += 1
        var t = 0
        while (t < d) { sums(assign(m))(t) += cents(m)(t).toDouble; t += 1 }
      }
      coarse = Array.tabulate(c)(j =>
        if (counts(j) == 0) coarse(j) else sums(j).map(_ / counts(j)))
    }
    assignAll()
    val coarseF = coarse.map(_.map(_.toFloat))
    val members = Array.tabulate(c)(j => (0 until k).filter(assign(_) == j).toArray)
    (coarseF, members)
  }

  def kmeansAssign(embeddings: DataFrame, centroids: Array[Array[Float]],
      vecCol: String = "embedding", idCol: String = "vec_id",
      pruned: Option[(Int, Int)] = None): DataFrame = {
    require(centroids.nonEmpty, "kmeansAssign: no centroids")
    embeddings
      .select(col(idCol), assignStruct(centroids, vecCol, pruned).as("__nc"))
      .select(col(idCol),
        col("__nc.cell").as("cell"),
        Quantize.quantize(col("__nc.cos"), 6).as("cos"))
  }

  /**
   * One Lloyd UPDATE step: the per-dimension mean of each cell's members
   * — (cell, dim, mean), mean quantized to 6dp. The vector rides the
   * (map-only) assignment — no re-join back to the input — then
   * posexplode + one (cell, dim)-keyed aggregation whose exchange
   * carries ≤ cells·dim rows per partition after map-side combine
   * (partial avg): the classic distributed-k-means shape, no driver
   * state between steps.
   */
  def kmeansStep(embeddings: DataFrame, centroids: Array[Array[Float]],
      vecCol: String = "embedding",
      pruned: Option[(Int, Int)] = None): DataFrame = {
    require(centroids.nonEmpty, "kmeansStep: no centroids")
    embeddings
      .select(col(vecCol), assignStruct(centroids, vecCol, pruned).as("__nc"))
      .select(col("__nc.cell").as("cell"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col("cell"), col("dim"))
      .agg(Quantize.quantize(avg(col("__v").cast("double")), 6).as("mean"))
  }

  /**
   * The paper-faithful SemDeDup recipe (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embeddings, then drop every vector
   * with a CLUSTER-MATE of smaller id at cosine ≥ `minCosine` — pairs
   * are confined to a cluster BY CONSTRUCTION, unlike the graph-global
   * [[semanticDedup]] sibling (CC over an externally-supplied pair
   * relation). Returns the survivors as (idCol, cell).
   *
   * Scale shape: assignment is map-only (centroids ride the plan as
   * literals), and the whole dedup is ONE cell-keyed aggregation — each
   * cluster's members collect into a single row whose survivors a
   * row-local kernel ([[graft.plans.VectorKernels.semDedupSurvivors]]) computes with an
   * O(k²/2) early-exit scan, then explode. One shuffle total, no
   * self-join, no broadcast of a corpus-sized side, no distinct, no
   * anti-join. (The first formulation was the cell-keyed pair self-join +
   * distinct + anti-join: same result, FOUR exchanges — measured ~1.5 s
   * vs ~0.6 s at sf0.1 for identical output.) Per-row memory is one
   * cluster's members (k·dim floats): bounded because k grows with N so
   * expected occupancy stays constant — the paper's own premise — and
   * `maxCell` is the valve for when it doesn't: a degenerate embedding
   * mass (all-zero rows, a collapsed encoder) lands in one cell, so cells
   * over the cap skip pairing entirely (members kept, flagged by omission
   * — same disposition as [[Dedup.capBuckets]]'s hot buckets). The
   * keep-rule (a member drops iff ANY smaller-id cluster-mate sits at
   * quantized cosine ≥ τ) is local to a pair: no connected-components
   * pass, matching the paper's one-representative intent without a
   * transitive closure over the whole corpus.
   *
   * The threshold compares the 6dp-QUANTIZED cosine (same contract as
   * `nearDupPairs` / the oracle SQL), spelled `cos·10⁶ + 0.5 ≥ thr` in
   * the kernel with thr the least integer whose 10⁻⁶ quotient reaches τ:
   * floor(y) ≥ thr ⇔ y ≥ thr for integer thr, and m ↦ m/10⁶ is
   * IEEE-monotone — so the verdicts match the oracle's quantized
   * comparison exactly, in ONE dot product per pair.
   */
  def semanticDedupClustered(embeddings: DataFrame, centroids: Array[Array[Float]],
      minCosine: Double, maxCell: Option[Long] = None,
      vecCol: String = "embedding", idCol: String = "vec_id",
      prunedAssign: Option[(Int, Int)] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(centroids.nonEmpty, "semanticDedupClustered: no centroids")
    // capped: pin the assignment — four consumers otherwise re-execute
    // the corpus×k assignment as lineage (see the KeepVec form's note).
    // maxCell is specifically a corpus-scale valve, so on a long cluster
    // run the pin must survive executor loss: thread checkpointDir
    // (reliable checkpoint) exactly like TrainingSetJob's stage pins —
    // a localCheckpoint's blocks die with their executor.
    val asg0 = assignWithNorm(embeddings, centroids, vecCol, idCol, prunedAssign)
    val asg = if (maxCell.isDefined) Materialize(asg0, checkpointDir) else asg0
    val thr = thrOf(minCosine)
    val fromPairing = Dedup.capBuckets(asg, Seq("cell"), maxCell)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col(idCol), col(vecCol), col("__n"))).as("__m"))
      .select(explode(graft.plans.VectorExpressions.semDedupSurvivors(
        col("__m"), thr.toDouble)).as(idCol), col("cell"))
      .select(col(idCol), col("cell"))
    maxCell match {
      case None => fromPairing
      case Some(c) =>
        // over-cap cells: every member survives (pairing skipped)
        val overCap = asg.groupBy(col("cell")).agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") > c).select(col("cell"))
        fromPairing.unionByName(
          asg.join(broadcast(overCap), Seq("cell"), "left_semi")
            .select(col(idCol), col("cell")))
    }
  }

  /** Map-only centroid assignment retaining the vector and its norm —
    * the SHARED projection of the SemDeDup family (fused operator,
    * registry writer, increment probe): (idCol as long, vecCol, cell as
    * int, __n). One implementation so the argmax tie-break
    * (array_position returns the FIRST maximum) and the norm algebra —
    * the oracle-equivalence contract all three hash-verified paths rely
    * on — cannot silently diverge. Norms precompute per member so the
    * survivor kernel pays one dot per pair. */
  private def assignWithNorm(df: DataFrame, centroids: Array[Array[Float]],
      vecCol: String, idCol: String,
      pruned: Option[(Int, Int)] = None): DataFrame =
    df.select(col(idCol), col(vecCol),
        assignStruct(centroids, vecCol, pruned).as("__nc"))
      .select(col(idCol).cast("long").as(idCol), col(vecCol),
        col("__nc.cell").as("cell"),
        norm(col(vecCol)).as("__n"))

  /** [[kmeansAssign]]'s projection KEEPING the vector — the curation
    * flagship's stage-1 shape ([[graft.operators.Selection.curateSemantic]]):
    * the coherence floor filters on the quantized score while the vector
    * rides through to the dedup/decontamination stages on the same
    * map-only pass, instead of a survivors-ids semi-join back to the
    * corpus (which would re-scan it). Same kernel, same 6dp quantize,
    * same id-cast as [[assignWithNorm]] — one assignment semantics. */
  private[graft] def assignKeepVec(df: DataFrame, centroids: Array[Array[Float]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol), col(vecCol),
        assignStruct(centroids, vecCol, None).as("__nc"))
      .select(col(idCol).cast("long").as(idCol), col(vecCol),
        col("__nc.cell").as("cell"),
        Quantize.quantize(col("__nc.cos"), 6).as("cos"))

  /** [[semanticDedupClustered]] with the VECTORS riding through: same
    * assignment, same survivors kernel, but each cell's members filter
    * against the survivor-id array row-locally (array_contains — O(k)
    * per member, the same order as the kernel's own pair scan) so the
    * output is (idCol, vecCol, cell) and a downstream stage needing the
    * vector (the flagship's decontamination) pays NO join back to the
    * corpus. The standalone form keeps its cheaper direct explode of the
    * survivor ids — use it when ids suffice. `maxCell` carries the same
    * valve semantics as [[semanticDedupClustered]]: cells over the
    * occupancy cap skip pairing entirely, every member survives. */
  private[graft] def semanticDedupClusteredKeepVec(embeddings: DataFrame,
      centroids: Array[Array[Float]], minCosine: Double,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxCell: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(centroids.nonEmpty, "semanticDedupClusteredKeepVec: no centroids")
    val thr = thrOf(minCosine)
    // with the cap engaged the assignment feeds FOUR consumers (occupancy
    // count + anti-join probe on the pairing side, occupancy count +
    // semi-join probe on the pass-through side) — left as lineage, the
    // full corpus×k assignment re-executes per consumer (measured 12.4 s
    // vs 6.8 s uncapped at 16×/k=128 before pinning). Uncapped stays pure
    // lineage: the flagship's one-scan plan lint depends on it.
    // checkpointDir upgrades the pin to a reliable checkpoint for long
    // cluster runs (executor loss destroys localCheckpoint blocks).
    val asg0 = assignWithNorm(embeddings, centroids, vecCol, idCol)
    val asg = if (maxCell.isDefined) Materialize(asg0, checkpointDir) else asg0
    val fromPairing = Dedup.capBuckets(asg, Seq("cell"), maxCell)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col(idCol), col(vecCol), col("__n"))).as("__m"))
      // the survivors array MUST be hoisted out of the filter lambda:
      // referenced inside it, the O(k²) kernel re-runs per MEMBER (O(k³)
      // per cell — measured 4.5 s vs 0.4 s on the flagship at sf0.1;
      // subexpression elimination does not reach into lambda bodies)
      .withColumn("__s", graft.plans.VectorExpressions.semDedupSurvivors(
        col("__m"), thr.toDouble))
      .select(col("cell"), explode(filter(col("__m"),
        m => array_contains(col("__s"), m(idCol)))).as("__e"))
      .select(col(s"__e.$idCol").as(idCol), col(s"__e.$vecCol").as(vecCol),
        col("cell"))
    maxCell match {
      case None => fromPairing
      case Some(c) =>
        // over-cap cells: every member survives (pairing skipped) —
        // the capBuckets disposition, with the vector riding through
        val overCap = asg.groupBy(col("cell")).agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") > c).select(col("cell"))
        fromPairing.unionByName(
          asg.join(broadcast(overCap), Seq("cell"), "left_semi")
            .select(col(idCol), col(vecCol), col("cell")))
    }
  }

  /** The least integer whose 10⁻⁶ quotient reaches τ — the quantized
    * threshold the [[graft.plans.VectorKernels.semDedupSurvivors]] kernel compares
    * `cos·10⁶ + 0.5` against (see [[semanticDedupClustered]]'s scaladoc
    * for the IEEE-monotonicity argument). Shared by the fused and
    * incremental forms so the derivation cannot diverge. */
  private def thrOf(minCosine: Double): Long = {
    val m0 = math.floor(minCosine * 1e6).toLong - 1
    Iterator.iterate(m0)(_ + 1).find(m => m.toDouble / 1e6 >= minCosine).get
  }

  /** The assignment relation [[semanticDedupClustered]] pairs on,
    * persisted cell-partitioned — the registry an INCREMENT probes
    * without rescanning the corpus. Holds EVERY member (not just
    * survivors): the dedup rule quantifies over all smaller-id mates,
    * so dropping non-survivors from the registry would change later
    * verdicts (a dropped near-dup can be the only ≥τ witness). */
  def writeSemanticRegistry(embeddings: DataFrame, centroids: Array[Array[Float]],
      path: String, vecCol: String = "embedding", idCol: String = "vec_id",
      append: Boolean = false,
      prunedAssign: Option[(Int, Int)] = None): Unit = {
    require(centroids.nonEmpty, "writeSemanticRegistry: no centroids")
    // append = the production micro-batch loop: after probing, a batch's
    // members (ALL of them — see the every-member contract above) join
    // the registry so later batches dedup against them too
    Writes(assignWithNorm(embeddings, centroids, vecCol, idCol, prunedAssign)
      .withColumnRenamed("__n", "nrm")
      .repartition(col("cell")))
      .mode(if (append) "append" else "overwrite")
      .partitionBy("cell").parquet(path)
  }

  /**
   * INCREMENTAL [[semanticDedupClustered]]: the production shape for a
   * corpus that grows batch by batch — survivors among the NEW batch
   * only, where a new vector drops iff ANY registry member of its cell
   * OR any smaller-id new cell-mate sits at quantized cosine ≥ τ.
   * Registry members always outrank the batch (they already shipped), so
   * with registry ids < batch ids this is EXACTLY the fused operator
   * over (registry ∪ batch) restricted to the batch — the hash-verified
   * `dedup_semantic_inc` equivalence.
   *
   * Same single-aggregation shape as the fused form: one tiny job scores
   * the batch — materialized, so the cell prune below and the main
   * aggregation read the SAME snapshot and scoring runs once even for a
   * non-deterministic batch source — and collects its DISTINCT cells
   * (≤ #centroids rows — the
   * centroid array already lives on the driver, so this is
   * broadcast-small by construction), the registry read is then
   * cell-partition-PRUNED to exactly those cells (untouched cells can
   * contribute no batch survivor — registry-only rows are filtered out
   * anyway), and the union groups on cell once with the row-local kernel
   * doing the pairing. Rank is encoded in the kernel's order key:
   * registry members carry `id − 2⁶²` (strictly below any batch id,
   * preserving their relative order), so the one kernel serves both
   * forms; negative survivor keys (registry members, never droppable)
   * are filtered out of the output.
   *
   * ID-domain contract (ENFORCED per row, fail-fast): batch ids must be
   * ≥ 0 (a negative id would alias into registry rank and silently
   * vanish from the output) and registry ids must be in [0, 2⁶²) (an id
   * ≥ 2⁶² would alias into batch rank).
   */
  def semanticDedupIncrement(batch: DataFrame, centroids: Array[Array[Float]],
      registryPath: String, minCosine: Double, maxCell: Option[Long] = None,
      vecCol: String = "embedding", idCol: String = "vec_id",
      checkpointDir: Option[String] = None,
      prunedAssign: Option[(Int, Int)] = None): DataFrame = {
    require(centroids.nonEmpty, "semanticDedupIncrement: no centroids")
    val spark = batch.sparkSession
    // Materialize the scored batch BEFORE collecting its touched cells:
    // the cell set prunes the registry scan of the main job, so the two
    // jobs must see the SAME batch rows (a sampled/re-read-mutable source
    // recomputed differently would silently drop a registry witness), and
    // the centroid scoring pass should run once, not twice. A micro-batch
    // increment is small by construction, so the checkpoint is cheap.
    val asg = Materialize(assignWithNorm(batch, centroids, vecCol, idCol, prunedAssign)
      .withColumn(idCol, when(col(idCol) < 0L, raise_error(concat(
          lit("semanticDedupIncrement: batch ids must be >= 0, got "), col(idCol))))
        .otherwise(col(idCol))), checkpointDir)
    val touchedCells = asg.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val reg = spark.read.parquet(registryPath)
      .filter(col("cell").isin(touchedCells: _*)) // partition-pruned scan
      .withColumn(idCol, when(
          col(idCol) < 0L || col(idCol) >= lit(1L << 62), raise_error(concat(
            lit("semanticDedupIncrement: registry ids must be in [0, 2^62), got "),
            col(idCol))))
        .otherwise(col(idCol)))
      .select((col(idCol) - lit(1L << 62)).as(idCol), col(vecCol),
        col("cell").cast("int").as("cell"), col("nrm").as("__n"))
    val thr = thrOf(minCosine)
    val all = reg.unionByName(asg)
    val fromPairing = Dedup.capBuckets(all, Seq("cell"), maxCell)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col(idCol), col(vecCol), col("__n"))).as("__m"))
      .select(explode(graft.plans.VectorExpressions.semDedupSurvivors(
        col("__m"), thr.toDouble)).as(idCol), col("cell"))
      .filter(col(idCol) >= 0L)
      .select(col(idCol), col("cell"))
    maxCell match {
      case None => fromPairing
      case Some(c) =>
        val overCap = all.groupBy(col("cell")).agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") > c).select(col("cell"))
        fromPairing.unionByName(
          asg.join(broadcast(overCap), Seq("cell"), "left_semi")
            .select(col(idCol), col("cell")))
    }
  }

  /**
   * Symmetric int8 scalar quantization of an embedding column — the
   * storage/serving compression ladder's first rung (4× smaller than
   * float32 before PQ's lossy 32×): per-vector scale = max|v|/127, code_d
   * = round(v_d / scale) clamped to [-127, 127]. Emitted LONG-FORM
   * (idCol, scale, dim, code) so the result is hash-verifiable
   * cross-engine without array-compare semantics; a writer would
   * re-assemble with `collect_list` over `dim` order (or keep the wide
   * array form — the map stage is identical).
   *
   * Map-only: amax from `array_max`/`array_min` (native, no HOF — the
   * lambda-free spelling of max(|v|)), one posexplode, no shuffle, no
   * model. Determinism contract: the scale is 6dp-QUANTIZED before the
   * division so both engines divide by the identical double; round is
   * spelled floor(x + 0.5) (the [[graft.functions.Quantize]] primitive
   * set — no engine-varying half-even), and an all-zero vector (scale 0)
   * emits code 0 explicitly rather than NaN-casting.
   */
  /**
   * Top-k served from the INT8-DEQUANTIZED vectors — the proof that
   * [[quantizeInt8]]'s rung is servable, and the accuracy meter for it
   * (compare against `sim_topk`'s full-precision list): scores are
   * cosine(dequant(v), q) with the exact same scale/round/clamp algebra
   * as the quantizer, computed ROW-LOCALLY with deterministic sequential
   * fold order, so the oracle's `list_dot_product` reproduces every
   * double bit-for-bit (an exploded sum would be partition-order-
   * dependent and hash-unstable). Map-only + TakeOrdered, same plan
   * shape as brute-force `topK`. Scoring is the native
   * [[graft.plans.VectorKernels.int8DequantCos]] kernel (the serving lift the r11
   * version promised — one codegen'd pass, ~11× the interpreted HOF
   * form's throughput at the 128× sweep); the specs keep the HOF
   * formulation as the oracle pinning the kernel bit-identical.
   */
  def topKInt8(embeddings: DataFrame, query: Seq[Float], k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    Selection.topKBy(embeddings
      .select(col(idCol), Quantize.q6(graft.plans.VectorExpressions.int8DequantCos(
        col(vecCol), query.map(_.toDouble))).as("cos")), "cos", idCol, k)

  def quantizeInt8(embeddings: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val amax = greatest(array_max(col(vecCol)).cast("double"),
      -array_min(col(vecCol)).cast("double"))
    val code = when(col("scale") === 0d, lit(0L))
      .otherwise(greatest(least(floor(col("__v").cast("double") / col("scale") + lit(0.5)),
        lit(127L)), lit(-127L)))
    embeddings
      .select(col(idCol), Quantize.q6(amax / lit(127d)).as("scale"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col(idCol), col("scale"), col("dim"), code.as("code"))
  }
}
