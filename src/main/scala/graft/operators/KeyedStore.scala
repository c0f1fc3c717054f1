package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Writes

/**
 * Keyed document store + join-based MERGE — the engine's replacement for the
 * reference's `V3Handler` (`src/modules/ingestion_handler.py`), SURVEY §2.4.
 *
 * The reference deduplicates by issuing ONE store round-trip per incoming
 * document (`ingestion_handler.py:218-219`, asyncio fan-out) and classifies
 * each as create / replace / skip (`ingestion_handler.py:182-202`). Here the
 * whole probe fan-out collapses into a single equi-join on the compound key
 * — N RPCs become one shuffle (or zero, when one side broadcasts). This is
 * the headline algorithmic win over the reference (SURVEY §4).
 *
 * Scale posture (100 TB store, small daily increment):
 *  - `mergeIntoTable` reads back only the increment's partitions (a
 *    null-safe `partitionSlicePred` on the partition column), so partition
 *    pruning keeps the big side small BEFORE the join;
 *  - `merge` is ONE full-outer join + one projection: each side of the store
 *    slice is scanned exactly once, and there are no union branches to
 *    re-scan it (round-1 shape scanned each side three times);
 *  - the rewrite only touches pruned partitions in a real deployment.
 *
 * Strictness (round-2): `strictKeys = true` (the default) enforces the
 * reference's `RecordKeyException` contract (`ingestion_handler.py:13-14,
 * 193-195`): an incoming key matching MORE THAN ONE existing row aborts the
 * run instead of silently fanning out the join. The check is a window count
 * over the (pruned) existing side — no second scan — and raises from inside
 * codegen only for keys that are actually probed, exactly like the
 * reference's per-probe `len(matches) > 1` test.
 */
object KeyedStore {

  val ActionCreate = "create"
  val ActionReplace = "replace"
  val ActionUnchanged = "unchanged"

  /** Deterministic key rendering for created-row uuids: unit-separator
    * joined, null fields marked — distinct null patterns stay distinct
    * (plain concat_ws would collapse ("a",null) and (null,"a")). */
  private[graft] def keyConcat(keyCols: Seq[String]): Column =
    keyConcatOf(keyCols.map(col))

  private def keyConcatOf(keys: Seq[Column]): Column =
    concat_ws("\u0001", keys.map(k => coalesce(k, lit("\u0002"))): _*)

  /** Payload = every shared non-key column (uuid is store-side identity). */
  private def payloadCols(incoming: DataFrame, existing: DataFrame, keyCols: Seq[String]): Seq[String] = {
    val ex = existing.columns.toSet
    incoming.columns.filterNot(keyCols.contains).filterNot(_ == "uuid").filter(ex.contains).toSeq
  }

  /** The `RecordKeyException` guard (`ingestion_handler.py:193-195`): raises
    * when a probed key has `n` existing matches > 1. Wraps `value` so the
    * check lives inside the same projection (no extra pass, fires lazily
    * with the plan). */
  private def strictKeyGuard(dup: Column, value: Column): Column =
    when(dup, raise_error(lit(
      "RecordKeyException: multiple existing rows match the specified key data")))
      .otherwise(value)

  /**
   * Deterministic within-increment key-dedup (SURVEY §7.4: the reference's
   * per-doc serial probes hide increment-internal dupes; a parallel merge
   * must resolve them explicitly). Keeps one row per key, chosen by a total
   * order over the payload — deterministic under any partitioning.
   */
  def dedupIncrement(incoming: DataFrame, keyCols: Seq[String]): DataFrame = {
    val payload = incoming.columns.filterNot(keyCols.contains)
    // key-only increment (e.g. a presence/registry frame): every column is
    // a key, so per-key rows are identical — distinct() IS the dedup, and
    // the window below would be unordered (row_number requires an ORDER BY)
    if (payload.isEmpty) incoming.distinct()
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(payload.map(c => col(c).desc_nulls_last): _*)
      incoming.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
  }

  /**
   * Uniqueness violations in the base table (A2): keys with >1 row — the
   * relational form of `RecordKeyException` (`ingestion_handler.py:193-195`).
   */
  def uniquenessViolations(table: DataFrame, keyCols: Seq[String]): DataFrame =
    table.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /**
   * Dedup-probe classification (A1/A3/A4): one left join of incoming against
   * existing on the compound key; each incoming row labeled
   * create / replace / unchanged. Change detection is a null-safe struct
   * comparison over the shared payload columns — field-order-insensitive
   * deep equality, like the reference's dict compare
   * (`ingestion_handler.py:197`). With `strictKeys`, a probed key matching
   * >1 existing rows raises (A2, the `RecordKeyException` contract) from
   * inside the action expression.
   */
  def classify(incoming: DataFrame, existing: DataFrame, keyCols: Seq[String],
      replace: Boolean = true, strictKeys: Boolean = true): DataFrame = {
    val payload = payloadCols(incoming, existing, keyCols)
    // keys join NULL-SAFELY (<=>): a null key field must still match itself,
    // or rows with a stripped/absent key re-create forever and idempotency
    // breaks. The existing side's keys are renamed so the join condition is
    // unambiguous, then dropped.
    val exBase = existing.select(
      keyCols.map(c => col(c).as(s"__exk_$c")) ++ payload.map(c => col(c).as(s"__ex_$c")) ++ Seq(
        lit(true).as("__ex_exists"),
        (if (existing.columns.contains("uuid")) col("uuid")
         else lit(null).cast("string")).as("__ex_uuid")): _*)
    // per-key multiplicity on the existing side: same hash partitioning the
    // join needs anyway, so the window adds no extra exchange after it
    val exPayload =
      if (strictKeys) exBase.withColumn("__ex_n", count(lit(1)).over(
        Window.partitionBy(keyCols.map(k => col(s"__exk_$k")): _*)))
      else exBase.withColumn("__ex_n", lit(1L))
    val joinCond = keyCols.map(k => col(k) <=> col(s"__exk_$k")).reduce(_ && _)
    val joined = incoming.join(exPayload, joinCond, "left")
      .drop(keyCols.map(k => s"__exk_$k"): _*)
    val matched = col("__ex_exists").isNotNull
    val same = payload.map(c => col(c) <=> col(s"__ex_$c")).reduceOption(_ && _).getOrElse(lit(true))
    val action0 = when(!matched, lit(ActionCreate))
      .when(lit(replace) && !same, lit(ActionReplace))
      .otherwise(lit(ActionUnchanged))
    val action =
      if (strictKeys) strictKeyGuard(matched && col("__ex_n") > 1, action0) else action0
    joined
      .withColumn("action", action)
      .withColumn("uuid", col("__ex_uuid"))
      .drop(payload.map(c => s"__ex_$c") ++ Seq("__ex_uuid", "__ex_exists", "__ex_n"): _*)
  }

  /** Creates (A4): incoming rows with no existing key — a null-safe
    * left-anti join. */
  def creates(incoming: DataFrame, existing: DataFrame, keyCols: Seq[String]): DataFrame = {
    val exKeys = existing.select(keyCols.map(c => col(c).as(s"__exk_$c")): _*)
    val joinCond = keyCols.map(k => col(k) <=> col(s"__exk_$k")).reduce(_ && _)
    incoming.join(exKeys, joinCond, "left_anti")
  }

  /**
   * Replaces (A4): matched rows whose payload differs — inner join +
   * inequality. Carries the existing uuid (the reference replaces by docId,
   * `ingestion_handler.py:140-141,233-234`).
   */
  def replaces(incoming: DataFrame, existing: DataFrame, keyCols: Seq[String]): DataFrame =
    classify(incoming, existing, keyCols, replace = true)
      .filter(col("action") === ActionReplace)

  /**
   * Merge statistics (A6): `{created, replaced, unchanged}` counts — the
   * reference's run stats (`ingestion_handler.py:251-254`), one aggregate.
   */
  def stats(classified: DataFrame): DataFrame =
    classified.groupBy(col("action")).agg(count(lit(1)).as("n"))

  /**
   * Post-merge state + per-row action, from ONE full-outer join and ONE
   * projection. Because keys are unique on both sides (increment deduped;
   * store enforced by `strictKeys`), every joined row yields exactly one
   * output row:
   *  - existing-only  → kept as-is          (`__action` null — bystander);
   *  - incoming-only  → created, uuid = deterministic hash of the key;
   *  - matched        → incoming payload under the existing uuid if
   *                     `replace` and the payload changed, else the existing
   *                     row unchanged.
   *
   * This shape replaced round-1's kept/replaced/created UNION (which scanned
   * each side three times AND had to dodge a Spark 4.1.2 relation-dedup bug
   * by re-deriving each branch from base frames — with a single projection
   * there are no shared-lineage union branches left to corrupt, see
   * SCALING.md).
   */
  private def mergedWithAction(inc: DataFrame, existing: DataFrame, keyCols: Seq[String],
      replace: Boolean, strictKeys: Boolean): DataFrame = {
    val outCols = existing.columns.toSeq
    val payload = payloadCols(inc, existing, keyCols)
    val exBase = existing.select(
      existing.columns.map(c => col(c).as(s"__ex_$c")) :+ lit(true).as("__ex_exists"): _*)
    val exSide =
      if (strictKeys) exBase.withColumn("__ex_n", count(lit(1)).over(
        Window.partitionBy(keyCols.map(k => col(s"__ex_$k")): _*)))
      else exBase.withColumn("__ex_n", lit(1L))
    val inSide = inc.select(
      inc.columns.map(c => col(c).as(s"__in_$c")) :+ lit(true).as("__in_exists"): _*)
    val joinCond = keyCols.map(k => col(s"__in_$k") <=> col(s"__ex_$k")).reduce(_ && _)
    val j = inSide.join(exSide, joinCond, "full_outer")

    val inPresent = col("__in_exists").isNotNull
    val exPresent = col("__ex_exists").isNotNull
    val matched = inPresent && exPresent
    val dup = matched && col("__ex_n") > 1
    val same = payload.map(c => col(s"__in_$c") <=> col(s"__ex_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val takeIncoming = !exPresent || (inPresent && lit(replace) && !same)
    val action = when(!inPresent, lit(null).cast("string"))
      .when(!exPresent, lit(ActionCreate))
      .when(lit(replace) && !same, lit(ActionReplace))
      .otherwise(lit(ActionUnchanged))

    val projected = outCols.map { c =>
      val exC = col(s"__ex_$c")
      val base =
        if (c == "uuid")
          when(!exPresent, md5(keyConcatOf(keyCols.map(k => col(s"__in_$k"))))).otherwise(exC)
        else if (keyCols.contains(c))
          when(inPresent, col(s"__in_$c")).otherwise(exC)
        else if (inc.columns.contains(c))
          when(takeIncoming, col(s"__in_$c")).otherwise(exC)
        else exC
      // the RecordKeyException guard rides the key columns so it survives
      // any downstream projection that still touches the key
      val guarded =
        if (strictKeys && keyCols.contains(c)) strictKeyGuard(dup, base) else base
      guarded.as(c)
    }
    j.select(projected :+ (if (strictKeys) strictKeyGuard(dup, action)
                           else action).as("__action"): _*)
  }

  /**
   * Full MERGE (A5): returns the post-merge table state — see
   * `mergedWithAction` for the single-scan full-outer shape.
   */
  def merge(incoming: DataFrame, existing: DataFrame, keyCols: Seq[String],
      replace: Boolean = true, assumeDeduped: Boolean = false,
      strictKeys: Boolean = true): DataFrame = {
    val inc = if (assumeDeduped) incoming else dedupIncrement(incoming, keyCols)
    mergedWithAction(inc, existing, keyCols, replace, strictKeys).drop("__action")
  }

  /** Run statistics of one merge (A6; `ingestion_handler.py:251-254`). */
  final case class MergeStats(created: Long, replaced: Long, unchanged: Long) {
    /** Rows of the (deduped) increment = every incoming row is classified
      * exactly once. Lets callers report ingest volume without re-scanning
      * the increment pipeline. */
    def incrementRows: Long = created + replaced + unchanged
  }

  /**
   * Null-safe partition-slice predicate: `isin` follows SQL three-valued
   * logic, so `col(p).isin(parts: _*)` silently drops the NULL partition
   * (`p=__HIVE_DEFAULT_PARTITION__`) even when the increment carries null
   * dates — while dynamic partition overwrite still rewrites that partition
   * with only incoming rows. Keys elsewhere tolerate nulls (`keyConcat`'s
   * coalesce), so the slice must too.
   */
  private def partitionSlicePred(p: String, parts: Array[Any]): Column = {
    val (nulls, nonNulls) = parts.partition(_ == null)
    val base = if (nonNulls.nonEmpty) col(p).isin(nonNulls: _*) else lit(false)
    if (nulls.nonEmpty) base || col(p).isNull else base
  }

  /**
   * Incremental MERGE into a partitioned parquet table — the engine's
   * native store (SURVEY §1.3). Scale shape:
   *
   *  1. only partitions PRESENT in the increment are read back (driver
   *     collects the increment's distinct partition values — a daily run
   *     touches a handful) → partition-pruned scan of the big table;
   *  2. ONE full-outer merge plan against that slice is materialized once
   *     (`localCheckpoint`), and both the stats and the rewrite read the
   *     materialized result — the slice is scanned exactly once per run;
   *  3. dynamic partition overwrite rewrites exactly those partitions —
   *     untouched partitions of a 100 TB store are never read or written.
   *
   * Write layout: every partition directory gets exactly one file, written
   * by one of the session's `spark.sql.shuffle.partitions` tasks. A first
   * load hashes the increment on the partition column before the dedup
   * (whose window reuses that exchange, since the partition column is a
   * key), and a merge spanning more than one partition value hashes the
   * merged frame the same way before it is materialized. Without that, AQE
   * coalesces a small load's shuffle into ONE task that writes every
   * partition file alone. A one-partition merge needs no such exchange.
   *
   * Re-running the same increment is a no-op (stats all-unchanged), which
   * is the reference's documented-but-unimplemented resume contract
   * (`README.md:41-43`) for free. With `strictKeys` (default), a store
   * slice holding duplicate keys aborts the run (`RecordKeyException`,
   * `ingestion_handler.py:193-195`) before anything is written.
   */
  def mergeIntoTable(incoming: DataFrame, storeDir: String, keyCols: Seq[String],
      partitionCol: Option[String] = Some("date"), replace: Boolean = true,
      strictKeys: Boolean = true, checkpointDir: Option[String] = None): MergeStats = {
    val spark = incoming.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeDir), spark.sparkContext.hadoopConfiguration)

    // dynamic overwrite is requested as a PER-WRITE option, which takes
    // precedence over spark.sql.sources.partitionOverwriteMode — no
    // session-global save/set/restore (the same conf-leak race class the
    // Similarity write path had: concurrent merges could capture each
    // other's temporary value and leave the session in dynamic mode).
    def write(df: DataFrame, dynamic: Boolean): Unit = {
      val w = Writes(df).mode("overwrite")
      val wm = if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w
      partitionCol match {
        case Some(p) => wm.partitionBy(p).parquet(storeDir)
        case None => wm.parquet(storeDir)
      }
    }
    // each partition value lands in exactly one of n tasks: one file per
    // partition directory, written from every core (a user-numbered
    // repartition, which AQE does not coalesce)
    def byPartition(df: DataFrame): DataFrame = partitionCol.fold(df)(p =>
      df.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col(p)))

    // The partition-pruned slice reads ONLY the increment's partition
    // values, which is sound iff the partition column is part of the key:
    // otherwise a key match stored under a different partition value is
    // invisible to the probe, classifies as `create`, and the store ends
    // up with the duplicate key strictKeys exists to prevent — spanning
    // partitions no future slice reads, so it is never caught.
    partitionCol.foreach(p => require(keyCols.contains(p),
      s"mergeIntoTable: partitionCol '$p' must be one of keyCols " +
        s"${keyCols.mkString("[", ",", "]")} — the partition-pruned merge " +
        "slice is only correct when key equality pins the partition"))
    if (!fs.exists(new org.apache.hadoop.fs.Path(storeDir))) {
      // created-row count observed DURING the streaming write (one pass,
      // no materialization): a first bulk load may be the whole dataset,
      // and checkpointing it just to count would pin dataset-sized blocks
      // in executor storage + double the write amplification
      val obs = org.apache.spark.sql.Observation()
      write(dedupIncrement(byPartition(incoming), keyCols)
        .withColumn("uuid", md5(keyConcat(keyCols)))
        .observe(obs, count(lit(1)).as("n")), dynamic = false)
      MergeStats(obs.get("n").asInstanceOf[Long], 0L, 0L)
    } else {
      val inc = dedupIncrement(incoming, keyCols)
      val existing = spark.read.parquet(storeDir)
      val (slice, multiPartition) = partitionCol match {
        case Some(p) =>
          val parts = inc.select(col(p)).distinct().collect().map(_.get(0))
          // → partition pruning
          (existing.filter(partitionSlicePred(p, parts)), parts.length > 1)
        case None => (existing, false)
      }
      // ONE scan of the slice: the merge plan materializes here (which
      // also fires the strict-key guard), then stats and the overwrite
      // both read the checkpointed blocks. The checkpoint also truncates
      // lineage so the overwrite doesn't read from the path it writes.
      // Long cluster runs pass `checkpointDir` for a reliable checkpoint
      // (localCheckpoint blocks die with a lost executor — Materialize).
      val merged = mergedWithAction(inc, slice, keyCols, replace, strictKeys)
      val j = Materialize(if (multiPartition) byPartition(merged) else merged, checkpointDir)
      val st = j.filter(col("__action").isNotNull)
        .groupBy(col("__action")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      write(j.drop("__action"), dynamic = true)
      MergeStats(st.getOrElse(ActionCreate, 0L), st.getOrElse(ActionReplace, 0L),
        st.getOrElse(ActionUnchanged, 0L))
    }
  }

  // ---- query surface (`V3Handler` read path, SURVEY §2.1 S8/S9, §2.6 W1) ----

  /** Point lookup by document id (S8; `ingestion_handler.py:144-151`). */
  def pointLookup(table: DataFrame, id: String, idCol: String = "uuid"): DataFrame =
    table.filter(col(idCol) === lit(id))

  /**
   * Equality-conjunction filter query (S9; `ingestion_handler.py:154-167,
   * 185-192`). Keys are either flat column names or dotted paths into a
   * struct column — the reference's Mongo filter addresses the document
   * envelope as `value.<field>` (`ingestion_handler.py:186-188`), which maps
   * to Spark struct-field resolution directly. A dotted name that IS a flat
   * column (station headers like `ELEV.m.`) wins over path resolution.
   */
  def queryFilter(table: DataFrame, eq: Map[String, String]): DataFrame = {
    val flat = table.columns.toSet
    eq.foldLeft(table) { case (df, (k, v)) =>
      val c = if (flat.contains(k) && k.contains(".")) col(s"`$k`") else col(k)
      df.filter(c === lit(v))
    }
  }

  /**
   * Deterministic pagination (W1): the reference's `offset` is a PAGE index,
   * not a row offset (`ingestion_handler.py:154-167` — page=offset+1,
   * pagesize=limit, default 1000). Mongo's implicit ordering becomes an
   * explicit total order on the key columns (SURVEY §7.4).
   *
   * Scale shape — NO offset ever plans a global window:
   *  - a page ending within `deepPageThreshold` rows is sort + offset +
   *    limit, which Spark executes as `TakeOrderedAndProject` — per-
   *    partition top-(offset+limit) heaps and a driver-side merge; the
   *    table is never globally sorted and nothing lands on a single task;
   *  - a DEEPER page walks the cursor forward by KEYSET hops of at most
   *    `deepPageThreshold` rows (each hop a bounded TakeOrderedAndProject
   *    whose seek predicate pushes into the scan), then serves the page
   *    with `paginateAfter`. Per-task memory stays bounded by the
   *    threshold at ANY depth; cost grows linearly with depth, which is
   *    the honest floor for random deep offsets — sequential consumers
   *    should carry the cursor (`paginateAfter`) and never pay it.
   *
   * `orderCols` must be a TOTAL order (include a unique key, e.g. `uuid`):
   * keyset resume is exclusive of the cursor row, so ties across a page
   * boundary would otherwise be skipped.
   *
   * EAGERNESS / SNAPSHOT SEMANTICS: the deep branch runs its keyset hops —
   * O(skip / deepPageThreshold) sequential bounded Spark jobs — AT CALL
   * TIME, unlike the usual lazy DataFrame contract, and the returned frame
   * embeds the cursor found then: rows inserted before the cursor after
   * this call shift later pages rather than this one. Sequential consumers
   * should carry their own cursor through [[paginateAfter]], which is
   * fully lazy and never walks.
   */
  def paginate(table: DataFrame, orderCols: Seq[String], limit: Int = 1000,
      offset: Int = 0, deepPageThreshold: Long = 1L << 20): DataFrame = {
    val skip = offset.toLong * limit
    // second bound: offset() takes an Int, so a caller-raised threshold must
    // not let skip overflow toInt — deeper pages route to the keyset walk
    if (skip + limit <= math.min(deepPageThreshold, Int.MaxValue.toLong)) {
      val sorted = table.orderBy(orderCols.map(col): _*)
      (if (skip > 0) sorted.offset(skip.toInt) else sorted).limit(limit)
    } else {
      // hop >= 1 keeps a degenerate caller-supplied threshold (<= 0) from
      // planning offset(-1); the walk just takes 1-row hops in that case
      val hop = math.max(1L, math.min(deepPageThreshold, Int.MaxValue.toLong - limit))
      var cursor: Option[Seq[Any]] = None
      var remaining = skip
      var exhausted = false
      while (remaining > 0 && !exhausted) {
        val step = math.min(hop, remaining)
        val base = cursor.fold(table)(c => table.filter(afterPred(orderCols, c)))
        // the step-th row after the cursor — a bounded ToP, never a window
        val boundary = base.select(orderCols.map(col): _*)
          .orderBy(orderCols.map(col): _*)
          .offset((step - 1).toInt).limit(1).collect()
        if (boundary.isEmpty) exhausted = true
        else { cursor = Some(boundary.head.toSeq); remaining -= step }
      }
      if (exhausted) table.filter(lit(false)).limit(limit)
      else cursor.fold(table.orderBy(orderCols.map(col): _*).limit(limit))(
        c => paginateAfter(table, orderCols, limit, c))
    }
  }

  /**
   * Keyset (seek) pagination — the scale path for sequential page
   * consumption: pass the PREVIOUS page's last row's order-key values and
   * get the next `limit` rows. The lexicographic `>` predicate pushes into
   * the scan (min/max pruning skips whole files before the bounded
   * top-`limit` heap), so page N+1 costs the same as page 1 at any depth.
   */
  def paginateAfter(table: DataFrame, orderCols: Seq[String], limit: Int,
      after: Seq[Any]): DataFrame = {
    require(after.length == orderCols.length,
      s"after cursor must carry one value per order column (${orderCols.mkString(",")})")
    table.filter(afterPred(orderCols, after))
      .orderBy(orderCols.map(col): _*).limit(limit)
  }

  /** Lexicographic "row > cursor" under asc_nulls_first ordering: anything
    * non-null beats a null cursor field; equality ties are null-safe. */
  private def afterPred(orderCols: Seq[String], last: Seq[Any]): Column = {
    val gt = orderCols.zip(last).map { case (c, v) =>
      if (v == null) col(c).isNotNull else col(c) > lit(v)
    }
    val eq = orderCols.zip(last).map { case (c, v) => col(c) <=> lit(v) }
    orderCols.indices.map(i => (eq.take(i) :+ gt(i)).reduce(_ && _)).reduce(_ || _)
  }
}
