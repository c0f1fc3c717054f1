package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.functions.{Quantize, TextFunctions}
import graft.operators.{Corpus, Dedup, KeyedStore, Multimodal, Reshape, Selection, Similarity, Sketches}
import graft.sources.WideMatrix

/**
 * Driver contract — see /root/repo/SURVEY.md §2.11/§7.
 *
 * Each `queries` key is one operator of the engine; `oracleSql` carries the
 * ANSI-SQL equivalent the driver runs in DuckDB over the SAME parquet
 * inputs (testdata tables by name; station fixtures via absolute-path
 * `read_parquet`). Column names are aliased identically on both sides —
 * the driver's compare sorts columns by name before hashing.
 */
object SparkEntry {

  /** Table reads memoized per (session, path): `spark.read.parquet` pays
    * a driver-side file listing + footer schema read on EVERY call — pure
    * floor when 126 queries × 2 bench runs re-open the same handful of
    * tables. The memo reuses the analyzed scan relation (a DataFrame is
    * an immutable plan; execution still runs in full each time, so no
    * result caching sneaks into measurements). Weak session keys: test
    * suites stop/recreate sessions, and a stopped session's plans must
    * not pin memory or leak across sessions. */
  private val tableMemo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val per = tableMemo.synchronized {
      // weak keys alone can't collect an entry here: the cached DataFrames
      // VALUE-reference their session, keeping the key strongly reachable
      // (the documented WeakHashMap caveat) — so purge stopped sessions
      // explicitly on access; the weak key then only covers sessions
      // dropped without stop()
      tableMemo.keySet.removeIf(k => k.sparkContext.isStopped)
      var m = tableMemo.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        tableMemo.put(s, m)
      }
      m
    }
    per.computeIfAbsent(s"$dir/$name",
      _ => s.read.parquet(s"$dir/$name.parquet"))
  }

  /** Driver-side parameter memos. The sim_* probes parameterize on the
    * query vector (`vec_id = 0`) and the corpus size — constants of a
    * data directory, but each fetch is its own driver action (a stage
    * barrier Bench pays ~0.1 s for, eight queries over). Fetch once per
    * directory and reuse — the same way a serving app holds its query
    * vector. Process-lifetime memo: Bench/Verify are fresh JVMs per run,
    * so regenerated test data can never be served a stale value. */
  private val qvecMemo = new java.util.concurrent.ConcurrentHashMap[String, Seq[Float]]()
  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    qvecMemo.computeIfAbsent(dir, _ =>
      t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0))
  private val embCountMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embCount(s: SparkSession, dir: String): Long =
    embCountMemo.computeIfAbsent(dir, _ => t(s, dir, "embeddings").count())
  /** k-means seed set (8 lowest-id vectors) — a constant of a data
    * directory, same memo contract as [[queryVec]]. */
  private val kmSeedsMemo = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  private def kmeansSeedsOf(s: SparkSession, dir: String): Array[Array[Float]] =
    kmSeedsMemo.computeIfAbsent(dir, _ =>
      Similarity.kmeansSeeds(t(s, dir, "embeddings"), 8))

  /** The events table has shipped with two timestamp layouts: TIMESTAMP(NANOS)
    * (which Spark only reads as long via `spark.sql.legacy.parquet.nanosAsLong
    * =true` — Bench/Verify/test builders set it; a query function must not
    * mutate session conf, that leaks into every later query) and plain
    * TIMESTAMP_MICROS. Branch on the LOADED dtype so both read: a long column
    * is nanos needing an integer `div 1000` to micros (a double division
    * would lose precision at 1e18); a real timestamp column is cast directly.
    * NTZ keeps the result at naive wall-clock micros — matching both the
    * source data's semantics and DuckDB's TIMESTAMP. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    val ts = df.schema("ts").dataType match {
      case LongType =>
        // timestamp_micros builds an INSTANT and the NTZ cast renders it
        // in the session zone — same hazard as the TimestampType branch
        // below, same loud guard (a local-tz session would silently shift
        // every ts by the zone offset vs the oracle's naive micros)
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP(NANOS)-as-long; the micros->NTZ conversion " +
            "requires spark.sql.session.timeZone=UTC (Bench/Verify set it)")
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _: TimestampNTZType => col("ts") // already naive micros
      case _: TimestampType =>
        // UTC-adjusted TIMESTAMP_MICROS: the NTZ cast goes through the
        // SESSION timezone, so it only preserves wall-clock-at-UTC (what
        // the DuckDB oracle reads) when the session is pinned to UTC —
        // assert that instead of silently shifting values under a local tz.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is UTC-adjusted TIMESTAMP; the NTZ conversion requires " +
            "spark.sql.session.timeZone=UTC (Bench/Verify set it)")
        col("ts").cast("timestamp_ntz")
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet dtype $other — expected TIMESTAMP(NANOS)" +
          " (long via nanosAsLong), TIMESTAMP_NTZ, or UTC-adjusted TIMESTAMP micros")
    }
    df.withColumn("ts", ts)
  }

  /** Shared station-value increment: F-1 wide fixture through the full value
    * pipeline (classify → unpivot → nodata filter → cast → enrich). */
  private def stationValues(s: SparkSession): DataFrame =
    Reshape.pipeline(
      WideMatrix.valuesWide(s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec),
      Fixtures.F1Spec)

  private val keys = Fixtures.F1Spec.keyFields // datatype, period, date, fill, station_id, aggregation

  /** F-1 job config carrying a nested `additional_properties` value (any
    * JSON is legal there — `tapis_direct_driver.py:60,159-160`). */
  private val nestedPropsConfig =
    """{"data":[{"files":[],"datatype":"temperature","period":"day","fill":"raw",
      |"data_col_start":13,"start_date":"2022-03-01","end_date":"2022-03-02",
      |"additional_properties":{"aggregation":"min",
      |  "sensor":{"model":"x1","channels":[1,2]}},
      |"additional_key_properties":["aggregation"]}]}""".stripMargin

  /** Flagship: the reference's canonical job end-to-end — wide CSV scan →
    * classify/unpivot/filter/cast/enrich → upsert-classify against the
    * seeded store. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val wide = WideMatrix.readCsv(spark, Fixtures.F1Csv)
    val inc = Reshape.pipeline(WideMatrix.valuesWide(wide, Fixtures.F1Spec), Fixtures.F1Spec)
    KeyedStore.classify(inc, Fixtures.store(spark), keys)
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- station reference parity (SURVEY §2.1-§2.5) ---
    "scan_csv" -> ((s, _) => WideMatrix.readCsv(s, Fixtures.F1Csv)),
    "station_metadata" -> ((s, _) =>
      WideMatrix.metadata(s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec)),
    "filter_nodata" -> ((s, _) =>
      Reshape.filterNodata(
        Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec.copy(endDate = None))),
        "NA")),
    "cast_numeric" -> ((s, _) =>
      Reshape.castNumeric(Reshape.filterNodata(
        Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec.copy(endDate = None))),
        "NA"), strict = false)),
    "enrich_static" -> ((s, _) =>
      Reshape.enrich(
        Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec)),
        Fixtures.F1Spec.staticProperties)),
    "enrich_json_props" -> ((s, _) => {
      // full config→value-doc path with a NESTED additional_properties value:
      // the reference merges the dict wholesale into every doc
      // (`tapis_direct_driver.py:159-160`) — containers survive as canonical
      // JSON strings, not Jackson's lossy asText ""
      val spec = graft.config.JobConfig.parse(nestedPropsConfig).data.head
      Reshape.enrich(
        Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), spec)),
        spec.staticProperties)
    }),
    "date_range_filter" -> ((s, _) =>
      Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec.copy(endDate = None)))
        .filter(col("date") >= "2022-03-02" && col("date") <= "2022-03-03")),
    "date_parse" -> ((s, _) =>
      Reshape.filterNodata(
        Reshape.unpivot(WideMatrix.valuesWide(
          s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec.copy(endDate = None))),
        "NA")
        .select(col("station_id"), col("date"),
          to_date(col("date"), "yyyy-MM-dd").as("parsed"),
          date_format(to_date(col("date"), "yyyy-MM-dd"), "yyyy-MM").as("month_value"))),
    "sparse_strip" -> ((s, _) =>
      WideMatrix.metadata(s.read.parquet(Fixtures.WideParquet), Fixtures.F1Spec)
        .select(col("skn"),
          WideMatrix.MetadataColTranslations.map(_._2).drop(1)
            .map(c => when(col(c).isNotNull, 1).otherwise(0).cast("long"))
            .reduce(_ + _).as("n_present"))),
    "station_values" -> ((s, _) => stationValues(s)),
    "station_values_month" -> ((s, _) =>
      // byPosition = true: oracle-covers the POSITIONAL classification path
      // (P3, `tapis_direct_driver.py:119-131`) — same output as by-name on
      // the F-2 default layout (id col 0, data cols from 1)
      Reshape.pipeline(
        WideMatrix.valuesWide(s.read.parquet(Fixtures.Wide2Parquet), Fixtures.F2Spec,
          byPosition = true),
        Fixtures.F2Spec)),
    // --- upsert / MERGE engine (SURVEY §2.4, §2.7) ---
    "upsert_classify" -> ((s, _) =>
      KeyedStore.classify(stationValues(s), s.read.parquet(Fixtures.StoreParquet), keys)),
    "upsert_creates" -> ((s, _) =>
      KeyedStore.creates(stationValues(s), s.read.parquet(Fixtures.StoreParquet), keys)),
    "upsert_replaces" -> ((s, _) =>
      KeyedStore.replaces(stationValues(s), s.read.parquet(Fixtures.StoreParquet), keys)),
    "upsert_stats" -> ((s, _) =>
      KeyedStore.stats(
        KeyedStore.classify(stationValues(s), s.read.parquet(Fixtures.StoreParquet), keys))),
    "upsert_merge" -> ((s, _) =>
      KeyedStore.merge(stationValues(s), s.read.parquet(Fixtures.StoreParquet), keys)),
    "unique_key_check" -> ((s, _) =>
      KeyedStore.uniquenessViolations(s.read.parquet(Fixtures.StoreDupParquet), keys)),
    // --- query surface (S8/S9/W1) ---
    "point_lookup" -> ((s, _) =>
      KeyedStore.pointLookup(s.read.parquet(Fixtures.StoreParquet), "u-0002")),
    "query_filter" -> ((s, _) =>
      KeyedStore.queryFilter(s.read.parquet(Fixtures.StoreParquet),
        Map("datatype" -> "temperature", "station_id" -> "39.2"))),
    "query_filter_nested" -> ((s, _) => {
      // the reference's Mongo filter addresses the document envelope by
      // dotted path (`value.<field>`) — build the envelope, filter through
      // the dotted surface, flatten back for a stable output schema
      val store = s.read.parquet(Fixtures.StoreParquet)
      val env = store.select(col("uuid"),
        struct(store.columns.filterNot(_ == "uuid").map(col): _*).as("value"))
      KeyedStore.queryFilter(env,
          Map("value.station_id" -> "39.2", "value.datatype" -> "temperature"))
        .select(col("uuid"), col("value.*"))
    }),
    "paginate" -> ((s, dir) =>
      KeyedStore.paginate(t(s, dir, "orders"), Seq("o_orderkey"), limit = 100, offset = 3)),
    "paginate_after" -> ((s, dir) =>
      // the sequential-consumer page form: a keyset cursor pushes a seek
      // predicate into the scan, so page N+1 costs page 1 at any depth
      KeyedStore.paginateAfter(t(s, dir, "orders"), Seq("o_orderkey"),
        limit = 100, after = Seq(300L))),
    // --- relational core on the TPC-H-ish tables (oracle substrate for the
    //     join/agg machinery backing the upsert; also the bench workload) ---
    "salted_sum" -> ((s, dir) =>
      // skew-safe two-phase aggregation: result-identical to plain
      // groupBy-sum (oracle-proven), partials spread over 16 salt shards
      graft.operators.Layout.saltedSum(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_quantity", col("l_orderkey"), salts = 16)
        .select(col("l_returnflag"),
          Quantize.quantize(col("sum_l_quantity"), 2).as("sum_qty"), col("n"))),
    "salted_join" -> ((s, dir) => {
      // skew-safe replicated-dim join: result-identical to the plain join
      // (oracle-proven via the post-join aggregate) — one hot suppkey
      // spreads over 16 salt shards instead of one reducer
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_quantity"))
      val dim = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.operators.Layout.saltedJoin(fact, dim, "suppkey", col("l_orderkey"), salts = 16)
        .groupBy(col("s_name"))
        .agg(Quantize.quantize(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    }),
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Quantize.quantize(sum(col("l_quantity")), 2).as("sum_qty"),
          Quantize.quantize(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Quantize.quantize(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          Quantize.quantize(avg(col("l_quantity")), 4).as("avg_qty"),
          Quantize.quantize(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q3_top_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1997-01-01"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Quantize.quantize(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q5_nation_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      val l = t(s, dir, "lineitem")
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Quantize.quantize(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),
    "anti_no_orders" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),
    "semi_customers" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))),
    "except_parts" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"))
        .except(t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey")))),
    "rollup_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Quantize.quantize(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))),
    "station_pivot" -> ((s, _) =>
      stationValues(s)
        .groupBy(col("station_id"))
        .pivot(col("date"), Seq("2022-03-01", "2022-03-02"))
        .agg(max(col("value")))),
    "window_top_parts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
    }),
    "top_parts_heap" -> ((s, dir) => {
      // the SAME top-3-per-supplier answer as window_top_parts, computed
      // by the mergeable k-heap aggregate instead of the window: no local
      // sort of the input (the r12 audit priced that sort as
      // window_top_parts' dominant cost), same ≤ k-rows-per-key shuffle
      // bound, map-side combinable. Descending price is encoded by
      // negation (exact for doubles); (orderkey, linenumber) is the
      // unique tiebreak, same as the window form.
      val sel = struct((-col("l_extendedprice")).as("np"), col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(graft.plans.TopKExpressions.topKStructs(sel, 3).as("__top"))
        .select(col("l_suppkey"), posexplode(col("__top")).as(Seq("__pos", "__t")))
        .select(col("l_suppkey"), col("__t.pk").as("l_partkey"),
          col("__t.ok").as("l_orderkey"), col("__t.ln").as("l_linenumber"),
          (-col("__t.np")).as("l_extendedprice"),
          (col("__pos") + 1).cast(LongType).as("rn"))
    }),
    "events_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Quantize.quantize(sum(col("value")), 4).as("total"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))),
    "events_resample" -> ((s, dir) =>
      // hourly LOCF grid per user between first and last observation —
      // the asof-join union/window trick on a GENERATED left side
      graft.operators.TimeSeries.resampleLocf(events(s, dir), Seq("user_id"),
        "ts", "value", stepSeconds = 3600, idCol = "event_id")),
    "events_resample_interp" -> ((s, dir) =>
      // linear-interpolation resampling: same one-window shape as LOCF,
      // the mirrored frame finds the next observation in the same pass
      graft.operators.TimeSeries.resampleInterp(events(s, dir), Seq("user_id"),
        "ts", "value", stepSeconds = 3600, idCol = "event_id")),
    "events_ohlc" -> ((s, dir) => {
      // OHLC downsampling per (user, hour): open/close are the earliest/
      // latest values SELECTED via lexicographic min/max over
      // (ts, event_id, value) structs — ONE map-side-combinable
      // aggregation (no per-bucket sort window), event_id breaking ts
      // ties deterministically; picked values are exact doubles (no
      // arithmetic), so no quantization is needed for hash parity
      // hour truncation via FIELD extraction (make_timestamp_ntz of the
      // wall-clock y/m/d/h) — date_trunc would implicitly cast NTZ →
      // session-tz TimestampType (INT96 in the dump, tz-dependent
      // semantics); this stays in the NTZ domain end to end
      // min/max over (ts, event_id, value) structs select open/close in
      // ONE aggregation. Plan note: ordered-selection aggregates (struct
      // min/max, min_by/max_by, string min/max — any non-fixed-width
      // buffer) plan as SortAggregate in Spark; the sort is PARTIAL-side
      // and partition-local (map-side combine still emits one row per
      // (user, hour) into the exchange), so it is a measured constant
      // factor (~3× hash-agg cost at 128×, SCALING.md), not a scale
      // break — and the alternatives (encode-into-long, join-back) all
      // compromise tie semantics or add a corpus-sized join.
      val key = struct(col("ts"), col("event_id"), col("value"))
      val bucket = make_timestamp_ntz(year(col("ts")), month(col("ts")),
        dayofmonth(col("ts")), hour(col("ts")), lit(0), lit(0))
      events(s, dir)
        .groupBy(col("user_id"), bucket.as("bucket"))
        .agg(min(key).getField("value").as("open"),
          max(key).getField("value").as("close"),
          min(col("value")).as("low"), max(col("value")).as("high"),
          count(lit(1)).as("n"))
    }),
    // --- training-data ops: text (SURVEY north star) ---
    "dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    "dedup_paragraphs" -> ((s, _) =>
      // C4/Dolma-style paragraph dedup: each distinct paragraph survives
      // once (first occurrence), docs rebuilt from surviving paragraphs;
      // runs on the multi-paragraph fixture (the synthetic documents
      // table is single-paragraph)
      Dedup.dedupParagraphs(s.read.parquet(Fixtures.ParaParquet))),
    "dedup_paragraphs_inc" -> ((s, _) => {
      // incremental: docs >= 5 deduped against the registry of docs < 5 —
      // oracled as the FULL dedup statement restricted to increment ids
      // (the equivalence the operator guarantees)
      val all = s.read.parquet(Fixtures.ParaParquet)
      Dedup.dedupParagraphsIncremental(
        all.filter(col("doc_id") >= 5),
        Dedup.paragraphRegistry(all.filter(col("doc_id") < 5)))
    }),
    "text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
            .cast(LongType).as("n_tokens"))),
    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))),
    "text_tokens_bpe" -> ((s, dir) =>
      // BPE-ish pre-tokenization (GPT-2-style): letter runs, digit runs,
      // or single non-space symbols each become one pre-token
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast(LongType).as("n_pretokens"))),
    "tokens_bpe_ranks" -> ((s, dir) =>
      // tokenizer-FAITHFUL counts: merged-BPE segments under the
      // merge-ranks table (native codegen'd expression; no SQL twin →
      // rows-only, property-tested vs an independent driver-side
      // reference implementation in TrainingDataOpsSpec)
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.bpeCount(col("text")).as("n_tokens_bpe"))),
    "text_token_ids" -> ((s, dir) =>
      // the EMISSION twin of tokens_bpe_ranks: actual merged-BPE
      // token-id sequences under the canonical merges-derived vocab —
      // the step that turns a cleaned corpus into model input. Map-only
      // codegen'd kernel; no SQL twin (the merge fixed point is not
      // SQL-expressible) → rows-only, with the structural invariant
      // size(token_ids) == bpeCount spec-pinned fleet-wide and the
      // per-word ids pinned against an independent reference merge in
      // TrainingDataOpsSpec. Dumped EXPLODED to (doc_id, pos, token_id)
      // scalar rows — the array<int> column itself is trainer API
      // (TextFunctions.bpeEncode / TrainingSetJob), but array cells
      // crash the oracle harness's canonicalizer, so the ledger entry
      // carries the order-preserving scalar twin (embed_whiten
      // precedent). The OUTER explode keeps a (doc_id, null, null)
      // witness row for a doc encoding to zero tokens — coverage the
      // array dump had, preserved.
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode_outer(TextFunctions.bpeEncode(col("text")))
            .as(Seq("pos", "token_id")))),
    "value_quantiles" -> ((s, dir) => {
      // Exact per-group percentiles via DISTRIBUTED SORT + interpolation
      // (r20 optimization). The previous form was one `percentile(...)`
      // buffer per group: every partial aggregate builds an in-memory
      // value→count map of its partition's rows, the exchange carries the
      // serialized maps, and one final task per group merges them — the
      // slowest statement of the inventory at 33× DuckDB (1.23 s baseline
      // vs 0.037 s), and the map buffer is unbounded per-task state at
      // corpus scale. This form computes the IDENTICAL value (Spark's
      // Percentile/DuckDB's quantile_cont interpolation at rank p·(n−1):
      // (hi−pos)·v_lo + (pos−lo)·v_hi, the same IEEE operation order)
      // from a row_number over the (flag, price) sort — codegen'd
      // external sort that spills gracefully instead of an OOM-prone
      // object buffer, one 16-byte row per input into the exchange
      // instead of a per-partition count map, and the interpolation rows
      // are selected by rank, so the final aggregate sees ≤ 4 rows per
      // group. Oracle (`quantile_cont`) hash-verifies equivalence.
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      // percentile() ignores NULL values but still EMITS every group
      // (all-NULL group → NULL quantiles) and groups NULL flags — both
      // preserved here: the rank side drops null prices only, group
      // sizes count non-null prices over ALL groups, joins are
      // null-safe, and the final left join re-emits priceless groups
      // with NULL quantiles (r20 review parity fix)
      val ranked = base.filter(col("l_extendedprice").isNotNull)
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))))
      // group sizes from a separate map-side-combined count (3 rows out),
      // NOT from max(__rn) over the window output: that diamond would
      // compute the window twice (ReusedExchange dedups exchanges only)
      val targets = base.groupBy(col("l_returnflag"))
        .agg(count(col("l_extendedprice")).as("__n"))
        .select(col("l_returnflag").as("__flag"),
          (lit(0.5) * (col("__n") - 1).cast("double")).as("__pos50"),
          (lit(0.95) * (col("__n") - 1).cast("double")).as("__pos95"))
        .select(col("__flag"), col("__pos50"), col("__pos95"),
          (floor(col("__pos50")).cast("long") + 1).as("__lo50"),
          (ceil(col("__pos50")).cast("long") + 1).as("__hi50"),
          (floor(col("__pos95")).cast("long") + 1).as("__lo95"),
          (ceil(col("__pos95")).cast("long") + 1).as("__hi95"))
      // Percentile's getPercentile: lower/higher are the 0-based floor/
      // ceil ranks; __lo/__hi above are their 1-based row_number twins
      // (an n = 0 group reads lo = hi = 0, matching no rank — it reaches
      // the output through the left join below, quantiles NULL)
      def interp(pos: Column, lo: Column, hi: Column, vLo: Column, vHi: Column) =
        when(lo === hi, vLo).otherwise(
          ((hi - 1).cast("double") - pos) * vLo +
            (pos - (lo - 1).cast("double")) * vHi)
      val cut = ranked.join(broadcast(targets),
          col("l_returnflag") <=> col("__flag"))
        .filter(col("__rn") === col("__lo50") || col("__rn") === col("__hi50") ||
          col("__rn") === col("__lo95") || col("__rn") === col("__hi95"))
        .groupBy(col("__flag"), col("__pos50"), col("__pos95"),
          col("__lo50"), col("__hi50"), col("__lo95"), col("__hi95"))
        .agg(
          max(when(col("__rn") === col("__lo50"), col("l_extendedprice"))).as("__v50lo"),
          max(when(col("__rn") === col("__hi50"), col("l_extendedprice"))).as("__v50hi"),
          max(when(col("__rn") === col("__lo95"), col("l_extendedprice"))).as("__v95lo"),
          max(when(col("__rn") === col("__hi95"), col("l_extendedprice"))).as("__v95hi"))
        .select(
          col("__flag").as("__cflag"),
          Quantize.quantize(interp(col("__pos50"), col("__lo50"), col("__hi50"),
            col("__v50lo"), col("__v50hi")), 4).as("p50"),
          Quantize.quantize(interp(col("__pos95"), col("__lo95"), col("__hi95"),
            col("__v95lo"), col("__v95hi")), 4).as("p95"))
      targets.select(col("__flag"))
        .join(cut, col("__flag") <=> col("__cflag"), "left")
        .select(col("__flag").as("l_returnflag"), col("p50"), col("p95"))
    }),
    "distinct_counts" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))),
    "distinct_counts_approx" -> ((s, dir) =>
      // the 100 TB form: HLL sketches merge in fixed space where the exact
      // multi-countDistinct expands the input N× and shuffles each copy.
      // rows-only by design (sketch estimates are engine-specific);
      // CorpusSpec bounds the error against the exact counts.
      t(s, dir, "lineitem").agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("n_parts"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("n_supps"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("n_orders"))),
    "sketch_merge" -> ((s, dir) => {
      // the INCREMENTAL form of the approx twins: two disjoint increments
      // each persist a per-lang HLL sketch row; corpus-wide distincts come
      // from merging the sketch rows, never rescanning the increments.
      // rows-only by design (binary sketch state is engine-specific);
      // CorpusSpec proves merge == one-pass sketch and bounds error.
      val docs = t(s, dir, "documents")
      val incA = docs.filter(Corpus.hashBucket(col("doc_id")) < 50)
      val incB = docs.filter(Corpus.hashBucket(col("doc_id")) >= 50)
      Sketches.hllMerge(
        Sketches.hllIncrement(incA, Seq("lang"), "doc_id")
          .unionByName(Sketches.hllIncrement(incB, Seq("lang"), "doc_id")),
        Seq("lang"), "doc_id")
    }),
    "sketch_quantile_merge" -> ((s, dir) => {
      // the INCREMENTAL percentile form (closing the Sketches scope-out):
      // two disjoint increments each persist a per-flag binary KLL row;
      // corpus-wide p50/p95 come from merging the sketch rows, never
      // rescanning the increments. rows-only by design (KLL compaction
      // is randomized); CorpusSpec bounds merged-vs-exact rank error.
      val li = t(s, dir, "lineitem")
      val incA = li.filter(Corpus.hashBucket(col("l_orderkey")) < 50)
      val incB = li.filter(Corpus.hashBucket(col("l_orderkey")) >= 50)
      Sketches.kllMerge(
        Sketches.kllIncrement(incA, Seq("l_returnflag"), "l_extendedprice")
          .unionByName(Sketches.kllIncrement(incB, Seq("l_returnflag"), "l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice")
    }),
    "value_quantiles_approx" -> ((s, dir) =>
      // the 100 TB form: exact percentile() buffers every group value in
      // memory; approx_percentile streams a bounded KLL-style sketch.
      // rows-only by design; CorpusSpec bounds the rank error vs exact.
      // ONE sketch per group (array form) — the r10 two-sketch shape paid
      // double the sketch build and recorded 2.7s; this form halves it
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)").as("ps"))
        .select(
          col("l_returnflag"),
          Quantize.quantize(col("ps").getItem(0), 4).as("p50"),
          Quantize.quantize(col("ps").getItem(1), 4).as("p95"))),
    "mix_weights" -> ((s, dir) =>
      // mixture stage: per-source weights + a char budget → deterministic
      // per-source sampling rates (min(1, w·B/total)); unlisted sources
      // drop. Rates are IEEE-double identical across engines → hash-match
      Corpus.mixByBudget(t(s, dir, "documents"), MixWeights, MixBudget)
        .select(col("doc_id"), col("source"), col("lang"))),
    "mix_repeat" -> ((s, dir) =>
      // upsampling mixture: rates > 1 ship whole epochs + a fractional
      // hash-gated extra copy — map-only explode(sequence), no join
      Corpus.mixWithRepeats(t(s, dir, "documents"), RepeatWeights,
        RepeatBudget)
        .select(col("doc_id"), col("source"), col("copy_idx"))),
    "corpus_diff" -> ((s, dir) => {
      // release diff between two synthetic snapshot views of the corpus:
      // prev = salted buckets [0,90); cur = [5,100) with [5,20) texts
      // mutated — exercises all four statuses deterministically
      val docs = t(s, dir, "documents")
      val hb = Corpus.hashBucket(col("doc_id"), 100, Corpus.SampleSalt)
      val prev = docs.filter(hb < 90)
      val cur = docs.filter(hb >= 5).withColumn("text",
        when(hb < 20, concat(col("text"), lit(" mutated"))).otherwise(col("text")))
      Corpus.corpusDiff(prev, cur)
    }),
    "corpus_report" -> ((s, dir) =>
      // the dataset-card aggregate: per-(source, lang) volume and quality
      // profile in ONE map-side-combined pass (the report a corpus release
      // ships with; at 100 TB this is the cheap query — keyed agg over a
      // scan, output = #groups). Totals are exact integers, never rounded
      // doubles: rounded double averages proved DuckDB-version-sensitive
      // (r6 driver red vs judge bit-exact green), so the contract emits
      // sum+count pairs and consumers divide.
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))),
    "text_normalize" -> ((s, _) =>
      // pre-cleaning normalization: punctuation fold + regex chain in the
      // scan projection, hash-verified over the messy-text fixture
      s.read.parquet(Fixtures.MessyParquet)
        .select(col("doc_id"),
          TextFunctions.normalizeText(col("text")).as("text"))),
    "text_strip_markup" -> ((s, _) =>
      // web-corpus markup stripping (tags, script/style bodies, comments,
      // entities — decoded exactly once) — the stage upstream even of
      // normalization; hash-verified over the markup fixture
      s.read.parquet(Fixtures.MarkupParquet)
        .select(col("doc_id"),
          TextFunctions.stripMarkup(col("text")).as("text"))),
    "text_rep_lines" -> ((s, _) =>
      // duplicate-line instance + character fractions per doc (Gopher
      // family) — over the multi-paragraph fixture, "\n\n"-separated
      Corpus.lineRepetition(s.read.parquet(Fixtures.ParaParquet), sep = "\n\n")),
    "text_rep_ngram" -> ((s, dir) =>
      // duplicate 3-gram INSTANCE fraction — catches looped sentences that
      // token-level distinct_ratio scores as diverse
      Corpus.ngramRepetition(t(s, dir, "documents"), n = 3)),
    "text_repetition" -> ((s, dir) => {
      // within-document repetition (Gopher-style quality signal):
      // distinct-token ratio; 1.0 = no repetition
      val toks = TextFunctions.wsTokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        Quantize.quantize(size(array_distinct(toks)).cast("double") /
          greatest(size(toks), lit(1)), 6).as("distinct_ratio"))
    }),
    "vocab_top100" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.wsTokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)),
    "token_df" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.wsTokens(col("text"))).as("token"))
        .distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 10)),
    "text_quality" -> ((s, dir) => {
      val cols = TextFunctions.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }),
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextFunctions.langId(col("text")).as("pred_lang"))),
    // --- dedup family (SURVEY north star; documents table) ---
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, minJaccard = 0.5)),
    "dedup_jaccard_capped" -> ((s, dir) =>
      // hot-shingle posting cap: boilerplate shingles (df > 20) leave the
      // candidate space before the self-join — the 100 TB safety valve
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, minJaccard = 0.35,
        maxDf = Some(20L))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, minJaccard = 0.5))),
    "dedup_soft_weights" -> ((s, dir) => {
      // soft dedup: weight = 1/|near-dup cluster| per document (6dp) —
      // reweighting instead of removal, the training-mixture form of the
      // cluster family; unpaired docs are their own cluster at weight 1
      val docs = t(s, dir, "documents")
      Dedup.softDedupWeights(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5))
    }),
    "dedup_soft_sample" -> ((s, dir) => {
      // the composition the soft weights exist FOR: an A-Res weighted
      // draw where each near-dup cluster competes with ONE document of
      // total mass — a boilerplate flood cannot crowd the sample the way
      // it would under uniform or length weights
      val docs = t(s, dir, "documents")
      Selection.sampleWeighted(
        Dedup.softDedupWeights(docs,
          Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5)),
        col("weight"), k = 100)
    }),
    "dedup_survivors" -> ((s, dir) => {
      // the pipeline's real deliverable: the corpus with non-survivor
      // near-dup cluster members removed
      val docs = t(s, dir, "documents")
      Dedup.dedupByClusters(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5))
    }),
    "dedup_best_survivors" -> ((s, dir) => {
      // quality-aware survivor policy: the LONGEST member of each
      // near-dup cluster survives (ties -> min id), not the smallest id
      val docs = t(s, dir, "documents")
      Dedup.dedupByClustersBest(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5), "n_chars")
    }),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), n = 3, numHashes = 16, bands = 4)),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3)),
    // --- similarity search (embeddings table) ---
    "sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVec(s, dir)
      Similarity.topK(e, q, k = 10)
    }),
    "sim_topk_mrl" -> ((s, dir) =>
      // matryoshka serving cut: route on the first-16-dim prefix cosine,
      // rerank the k·overscan shortlist full-dim (embed_truncate's
      // consumer). Approximate by design → rows-only; recall vs brute
      // force is spec-pinned and the full-overscan bridge below is the
      // hash-verified exactness proof.
      Similarity.topKMrl(t(s, dir, "embeddings"), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = 4)),
    "sim_topk_mrl_full" -> ((s, dir) =>
      // overscan covering the corpus → the shortlist is everything and
      // the rerank IS brute force — shares sim_topk's oracle (the *_full
      // bridge convention; oracle substrate, not a scale point)
      Similarity.topKMrl(t(s, dir, "embeddings"), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = 1 << 20)),
    // Every sim_* probe below serves from the PREBUILT per-directory
    // artifacts (AnnIndex: built once through the library's persist
    // writers, partition-pruned layouts) — the production split. Training
    // cost stays measured as its own build step (`sim_index_build`); the
    // *_full bridges hash-verify that persisted-serving ≡ inline-trained
    // ≡ brute force.
    "sim_topk_pq" -> ((s, dir) => {
      // PQ: the memory side of the ANN triad — d·4 bytes → m codes.
      // Scores are approximate by design (lossy quantization) → rows-only;
      // the spec pins recall vs brute force and exactness on-codebook
      val q = queryVec(s, dir)
      val (codes, model) = AnnIndex.pqFull(s, dir)
      Similarity.topKPq(codes, model, q, k = 10)
    }),
    "sim_topk_lsh" -> ((s, dir) => {
      val q = queryVec(s, dir)
      Similarity.topKLsh(AnnIndex.lshFull(s, dir), q, k = 10)
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      // IVF scale path: nProbe-cell scan against the persisted
      // cell-partitioned assignments (partition pruning does the work)
      val q = queryVec(s, dir)
      Similarity.topKIvf(AnnIndex.ivfFull(s, dir), q, k = 10, nProbe = 4)
    }),
    "sim_topk_ivf_full" -> ((s, dir) => {
      // nProbe = nCells degrades to exact brute force — the hash-verified
      // oracle bridge for the whole IVF path (model round-trip, assign,
      // probe, rescore)
      val q = queryVec(s, dir)
      Similarity.topKIvf(AnnIndex.ivfFull(s, dir), q, k = 10, nProbe = 16)
    }),
    "sim_topk_mrl_pre" -> ((s, dir) =>
      // the MRL paper's ACTUAL serving layout: route against the
      // persisted 16-dim prefix RELATION (kDims/d of the corpus bytes —
      // slice() over the full column reads everything, measured slower
      // than brute force on the join ladder), rerank the shortlist from
      // the full-width table (rows-only; the _full bridge hash-verifies)
      Similarity.topKMrlPre(AnnIndex.mrlFull(s, dir),
        t(s, dir, "embeddings"), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = 4)),
    "sim_topk_mrl_pre_full" -> ((s, dir) => {
      // overscan covering the corpus → the shortlist is everything and
      // the rerank IS brute force — shares sim_topk's oracle
      val n = embCount(s, dir).toInt
      Similarity.topKMrlPre(AnnIndex.mrlFull(s, dir),
        t(s, dir, "embeddings"), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = n / 10 + 1)
    }),
    "sim_topk_mrl_ivf" -> ((s, dir) =>
      // the MRL cut served from the SAME persisted IVF relation as the
      // rest of the ANN family: probe 4 cells (partition pruning), route
      // the pruned candidates on the 16-dim prefix, rerank the shortlist
      // full-dim. Approximate by design → rows-only; the full bridge
      // below is the exactness proof.
      Similarity.topKMrlIvf(AnnIndex.ivfFull(s, dir), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = 4, nProbe = 4)),
    "sim_topk_mrl_ivf_full" -> ((s, dir) =>
      // probe ALL cells + overscan covering the corpus → the shortlist is
      // everything and the rerank IS brute force: one oracle hash-verifies
      // the composed machinery (index round-trip, prefix route, rerank)
      Similarity.topKMrlIvf(AnnIndex.ivfFull(s, dir), queryVec(s, dir),
        k = 10, kDims = AnnIndex.MrlDims, overscan = 1 << 20, nProbe = 16)),
    "sim_topk_pq_full" -> ((s, dir) => {
      // overscan spans the whole corpus → the ADC shortlist is everything
      // and the exact rerank IS brute force: one oracle hash-verifies the
      // full PQ machinery (train, encode, distance tables, ADC, rerank)
      val e = t(s, dir, "embeddings")
      val q = queryVec(s, dir)
      val (codes, model) = AnnIndex.pqFull(s, dir)
      val n = embCount(s, dir).toInt
      Similarity.topKPqRescored(codes, e, model, q, k = 10, overscan = n / 10 + 1)
    }),
    "sim_topk_lsh_full" -> ((s, dir) => {
      // probe-ALL through the LSH index: provably equal to brute force, so
      // the index round-trip (build, norm column, dedup, rescore) is
      // hash-verified by the same oracle as sim_topk
      val q = queryVec(s, dir)
      Similarity.topKLshAll(AnnIndex.lshFull(s, dir), q, k = 10)
    }),
    "sim_topk_join" -> ((s, dir) => {
      // batch k-NN: every query row gets its top-k corpus neighbors
      val e = t(s, dir, "embeddings")
      Similarity.topKJoin(
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5)
    }),
    "sim_topk_join_pq" -> ((s, dir) => {
      // batch ADC: per-query distance tables amortize the codebook work,
      // each pair costs m lookups over m-int codes. Lossy → rows-only
      val e = t(s, dir, "embeddings")
      val model = AnnIndex.pqFull(s, dir)._2
      Similarity.topKJoinPq(
        AnnIndex.codes300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        model, k = 5)
    }),
    "sim_topk_join_pq_full" -> ((s, dir) => {
      // corpus-spanning shortlist + exact rerank of exactly the
      // shortlisted pairs ≡ brute-force batch join — shared oracle
      val e = t(s, dir, "embeddings")
      val model = AnnIndex.pqFull(s, dir)._2
      Similarity.topKJoinPqRescored(
        AnnIndex.codes300(s, dir),
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        model, k = 5, overscan = 60)
    }),
    "sim_topk_join_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinLsh(
        AnnIndex.lsh300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        dim = 64, k = 5)
    }),
    "sim_topk_join_ivf" -> ((s, dir) => {
      // batch ANN join through IVF cells (rows-only; the _full bridge
      // below hash-verifies the machinery)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinIvf(
        AnnIndex.ivf300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, nProbe = 4)
    }),
    "sim_topk_join_ivf_full" -> ((s, dir) => {
      // nProbe = nCells probes every cell → exactly the brute-force batch
      // join; the sim_topk_join oracle hash-verifies the IVF join path
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinIvf(
        AnnIndex.ivf300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, nProbe = 16)
    }),
    "sim_topk_join_ivfpq" -> ((s, dir) => {
      // the composed batch member: IVF prunes cells (partition-pruned
      // persisted cell codes), PQ codes pay for the scan, exact rerank of
      // the k·overscan sliver (rows-only; the _full bridge below
      // hash-verifies the machinery)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinIvfPq(
        AnnIndex.cellCodes300(s, dir),
        e.filter(col("vec_id") < 300),
        AnnIndex.ivf300(s, dir), AnnIndex.pqFull(s, dir)._2,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, nProbe = 4, overscan = 10)
    }),
    "sim_topk_join_ivfpq_full" -> ((s, dir) => {
      // nProbe = nCells + corpus-spanning overscan: every cell probed,
      // every candidate exactly reranked ≡ brute-force batch join — the
      // shared sim_topk_join oracle hash-verifies the composed path
      // (cell ranking, persisted cell codes, per-query ADC tables, rerank)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinIvfPq(
        AnnIndex.cellCodes300(s, dir),
        e.filter(col("vec_id") < 300),
        AnnIndex.ivf300(s, dir), AnnIndex.pqFull(s, dir)._2,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, nProbe = 16, overscan = 60)
    }),
    "sim_topk_join_mrl_pre" -> ((s, dir) => {
      // the batch form over the persisted prefix relation: the |Q|·|C|
      // route scans 16/64 of the corpus bytes, only the shortlist joins
      // back to the full table (rows-only; _full bridge hash-verifies)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrlPre(AnnIndex.mrl300(s, dir),
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 4)
    }),
    "sim_topk_join_mrl_pre_full" -> ((s, dir) => {
      // corpus-spanning overscan ≡ brute-force batch join — the shared
      // oracle hash-verifies the persisted-prefix route + rerank
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrlPre(AnnIndex.mrl300(s, dir),
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 60)
    }),
    "sim_topk_join_mrl_ivf" -> ((s, dir) => {
      // the composed batch member: IVF prunes cells per query, the
      // pruned candidate stream scores on the 16-dim prefix, only the
      // k·overscan shortlist reranks full-dim from the persisted index
      // (rows-only; the _full bridge hash-verifies)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrlIvf(
        AnnIndex.ivf300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 4, nProbe = 4)
    }),
    "sim_topk_join_mrl_ivf_full" -> ((s, dir) => {
      // every cell probed + corpus-spanning overscan ≡ brute-force batch
      // join — the shared oracle hash-verifies the composed path (cell
      // election, prefix route, persisted-index rerank)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrlIvf(
        AnnIndex.ivf300(s, dir),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 60, nProbe = 16)
    }),
    "sim_topk_join_mrl" -> ((s, dir) => {
      // the matryoshka batch join: the |Q|·|C| pair-scoring pass runs on
      // the 16-dim prefix, only the k·overscan shortlist per query is
      // reranked full-dim (rows-only; the _full bridge hash-verifies)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrl(
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 4)
    }),
    "sim_topk_join_mrl_full" -> ((s, dir) => {
      // corpus-spanning overscan: the shortlist is everything and the
      // rerank IS the brute-force batch join — the shared sim_topk_join
      // oracle hash-verifies the MRL join path (route, heap, rerank)
      val e = t(s, dir, "embeddings")
      Similarity.topKJoinMrl(
        e.filter(col("vec_id") < 300),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        k = 5, kDims = AnnIndex.MrlDims, overscan = 60)
    }),
    "sim_neardup" -> ((s, dir) =>
      Similarity.nearDupPairsExact(
        t(s, dir, "embeddings").filter(col("vec_id") < 500), minCosine = 0.45)),
    "sim_neardup_lsh" -> ((s, dir) =>
      Similarity.nearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 500), dim = 64, minCosine = 0.45)),
    "sim_dedup_survivors" -> ((s, dir) => {
      // SemDeDup-style semantic dedup: min vec_id per cosine-cluster
      // survives; embedding column dropped for the compare (ids + labels
      // ARE the result)
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      Similarity.semanticDedup(e.select(col("vec_id"), col("label")),
        Similarity.nearDupPairsExact(e, minCosine = 0.45))
    }),
    // --- multimodal plumbing (fixture media table; real BMP/PNG/JPEG/WAV/
    // MJPEG-AVI decode, stub for codec-bound formats) ---
    "media_stats" -> ((s, _) => Multimodal.stats(s.read.parquet(Fixtures.MediaParquet))),
    "media_features" -> ((s, _) =>
      Multimodal.extractFeatures(s.read.parquet(Fixtures.MediaParquet))(s)
        .drop("feature")), // array col dropped: rows-only check, stable schema
    "media_neardup" -> ((s, _) => {
      // CONTENT-based media dedup: cosine pairs over the genuinely
      // decoded features (BMP grid luminance / WAV RMS envelope) — the
      // payoff of real decode: two images pair because their pixels
      // agree, not because their bytes do. Rows-only (no codec in the
      // oracle engine); the spec pins a planted duplicate-content pair.
      val feats = Multimodal.extractFeatures(s.read.parquet(Fixtures.MediaParquet))(s)
        .select(col("media_id").as("vec_id"), col("feature").as("embedding"))
      Similarity.nearDupPairsExact(feats, minCosine = 0.9995)
    }),
    // --- corpus management: splits, samples, tf-idf, packing, PII ---
    "split_assign" -> ((s, dir) =>
      // deterministic 80/10/10 split — engine- and partitioning-stable
      Corpus.splitAssign(t(s, dir, "documents"))
        .select(col("doc_id"), col("bucket"), col("split"))),
    "shard_assign" -> ((s, dir) =>
      // writer layout: independent-stream shard + md5 sort_key = the
      // deterministic global shuffle, map-only (no orderBy, no window)
      Corpus.shardAssign(t(s, dir, "documents").select(col("doc_id")), nShards = 16)),
    "sample_hash" -> ((s, dir) =>
      // deterministic 10% sample: a pushdown-friendly filter, same rows on
      // any cluster layout (unlike DataFrame.sample)
      Corpus.sampleByHash(t(s, dir, "documents"), pct = 10)
        .select(col("doc_id"), col("lang"), col("source"))),
    "sample_stratified" -> ((s, dir) =>
      // rebalancing sample: downsample dominant English, keep the tail
      Corpus.sampleStratified(t(s, dir, "documents"), "lang",
        Map("en" -> 20, "zh" -> 60), defaultPct = 90)
        .select(col("doc_id"), col("lang"))),
    "cap_per_source" -> ((s, dir) =>
      // domain balancing: EXACT ≤10-doc cap per source (head of the
      // salted-hash order) — a rank-limit plan (WindowGroupLimit both
      // sides of the exchange), never a full per-stratum sort
      Corpus.capPerStratum(t(s, dir, "documents"), "source", maxDocs = 10)
        .select(col("doc_id"), col("source"))),
    "split_leakage" -> ((s, dir) =>
      // cross-split contamination audit: near-dup pairs straddling
      // train/val/test — split labels are projections of the pair ids,
      // so the audit costs one pair generation plus a map
      Corpus.splitLeakage(t(s, dir, "documents"), n = 3, minJaccard = 0.5)),
    "text_tfidf" -> ((s, dir) =>
      Corpus.tfidfTop(t(s, dir, "documents"), k = 3)),
    "text_tfidf_openvocab" -> ((s, dir) => {
      // the OPEN-VOCABULARY path: when the term dimension outgrows the
      // broadcast ceiling, df joins shuffle-keyed by term and top-k is a
      // per-doc window — same numbers as the broadcast-map kernel form
      // (shared oracle hash-verifies exactly that)
      val docs = t(s, dir, "documents")
      Corpus.tfidfTopFromTf(Corpus.termFrequencies(docs),
        docs.agg(count(lit(1)).as("n_docs")), k = 3, broadcastDf = false)
    }),
    "text_entropy" -> ((s, dir) =>
      // distribution-shape quality signal: ~0 = one token repeated
      Corpus.tokenEntropy(t(s, dir, "documents"))),
    "dedup_containment" -> ((s, dir) =>
      // asymmetric near-dup: a template inside a long doc scores 1.0 here
      // where Jaccard sees ~0
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), n = 3,
        minContainment = 0.6)),
    "dedup_verbatim" -> ((s, dir) =>
      // maximal shared verbatim token runs (substring-dedup signal):
      // order-SENSITIVE, unlike the set-overlap family — windows join on
      // 8-byte keys, spans fuse per alignment diagonal
      Dedup.verbatimSpans(t(s, dir, "documents"), window = 8)),
    "dedup_substr" -> ((s, dir) =>
      // ExactSubstr (Lee et al. 2022) as a TRANSFORM: every duplicated
      // 20-token window cut from all but its globally-first occurrence,
      // text rebuilt — xxhash64 windows (rows-only; spec-pinned equal to
      // the md5 bridge below, which hash-verifies the same algebra)
      Dedup.dedupSubstrings(
        t(s, dir, "documents").select(col("doc_id"), col("text")), n = 20)),
    "dedup_substr_bridge" -> ((s, dir) =>
      // the same transform keyed by full-md5 window hashes — engine-
      // reproducible keeper election, hash-verified end to end
      Dedup.dedupSubstrings(
        t(s, dir, "documents").select(col("doc_id"), col("text")), n = 20,
        md5Bridge = true)),
    "dedup_substr_inc" -> ((s, dir) => {
      // persisted-registry increment ≡ fused cut over the union
      // restricted to the batch (shared-oracle pattern, like
      // dedup_paragraphs_inc / dedup_semantic_inc): registry = the
      // original windows of docs < 250, batch = the rest. Registry
      // served from the fingerprint cache (`substr_registry_build` is
      // the declared build — the serve-split contract): a production
      // pipeline writes its registry once and appends per batch, it
      // does not rebuild per probe.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.dedupSubstringsIncremental(d.filter(col("doc_id") >= 250),
        s.read.parquet(AnnIndex.substrRegistryPath(s, dir)), n = 20,
        md5Bridge = true, maxCorpusId = Some(249L))
    }),
    "fingerprint_winnow" -> ((s, dir) =>
      // MOSS winnowing: rightmost-min of every g-window of k-gram hashes;
      // md5-prefix hashes make the SELECTED POSITIONS engine-stable, so
      // even the selection is hash-verified
      Dedup.winnowFingerprints(t(s, dir, "documents"), k = 5, g = 4)),
    "dedup_winnow_pairs" -> ((s, dir) =>
      // the MOSS match step: pairs sharing >= 2 distinct winnowed
      // fingerprints — candidates at ~2/(g+1) of the full window join
      Dedup.winnowPairs(t(s, dir, "documents"), k = 5, g = 4, minShared = 2)),
    "text_logprob" -> ((s, dir) =>
      // statistical-LM quality proxy: mean unigram logprob under the
      // corpus's own token distribution
      Corpus.unigramLogProb(t(s, dir, "documents"))),
    "text_logprob_openvocab" -> ((s, dir) =>
      // the open-vocabulary LM path: model too big to broadcast → the
      // score is a shuffle join against the vocab relation; shares
      // text_logprob's oracle, so the hash verifies both plans agree
      Corpus.unigramLogProb(t(s, dir, "documents"), broadcastModel = false)),
    "text_logprob2" -> ((s, dir) =>
      // the ORDER-sensitive LM proxy: mean ln P(w2|w1) under the corpus's
      // own bigram transitions — word salad of common words scores low
      // here and high under unigrams
      Corpus.bigramLogProb(t(s, dir, "documents"))),
    "quality_quantile_gate" -> ((s, dir) =>
      // the perplexity-filter stage: score by corpus-LM logprob, drop the
      // worst decile (exact percentile threshold — the oracle-checkable
      // form; approx=true is the extreme-count scale twin)
      Corpus.dropBottomQuantile(
        Corpus.unigramLogProb(t(s, dir, "documents")), "logprob", 0.1)),
    "quality_lm_ref" -> ((s, dir) => {
      // CCNet-shaped reference-LM perplexity: every doc scored under a
      // Jelinek-Mercer bigram LM trained on a 20% hash-sample "clean
      // reference" — unseen transitions back off to the reference
      // unigram, unseen tokens to the Laplace floor
      val docs = t(s, dir, "documents")
      Corpus.lmRefScore(
        docs.filter(Corpus.hashBucket(col("doc_id")) < 20), docs,
        lambda = LmRefLambda)
    }),
    "quality_lm_ref_inc" -> ((s, dir) => {
      // the PRODUCTION serve path: score against the persisted
      // reference-LM model (trained ONCE per data directory by the
      // AnnIndex cache — the logreg/dsir convention; train + persist
      // cost is the declared `lm_ref_model_build` step). Counts are
      // exact longs, so load -> score ≡ fused fold-in-one-plan is
      // hash-verified end to end by the shared oracle.
      val (cbg, uni) = AnnIndex.lmRefModel(s, dir)
      Corpus.lmRefScoreFromModel(t(s, dir, "documents"), cbg, uni,
        lambda = LmRefLambda)
    }),
    "quality_lm_ref_pruned" -> ((s, dir) => {
      // the 100 TB posture: SRILM-style count pruning caps the bigram
      // model relation (the vocab²-shaped broadcast term) at a count
      // floor — dropped transitions back off to the unigram term, c1
      // totals stay unpruned so surviving probabilities don't
      // renormalize. Hash-verified (the pruning is one HAVING in the
      // oracle); floor 1 ≡ unpruned is spec-pinned
      val docs = t(s, dir, "documents")
      Corpus.lmRefScore(
        docs.filter(Corpus.hashBucket(col("doc_id")) < 20), docs,
        lambda = LmRefLambda, minBigramCount = Some(2L))
    }),
    "quality_gate_stratified" -> ((s, dir) => {
      // per-SOURCE decile floor: each source drops its own worst 10% — a
      // noisy source cannot consume the global cut for everyone. The
      // stratum column is CARRIED through the scoring projection
      // (unigramLogProb's carry param) — joining it back would re-scan
      // and corpus-exchange the documents relation for one column
      val scored = Corpus.unigramLogProb(t(s, dir, "documents"),
        carry = Seq("source"))
      Corpus.dropBottomQuantileByStratum(scored, "logprob", 0.1, "source")
        .select(col("doc_id"), col("source"), col("logprob"))
    }),
    "quality_lm_ref_stratified" -> ((s, dir) => {
      // the faithful CCNet gate: one reference LM PER LANGUAGE (each
      // trained on that language's 20% hash-sample reference), every doc
      // scored under its own language's model, and the drop-quantile cut
      // applied per language — quality_lm_ref's global form both judges
      // minority languages under majority-language transition statistics
      // and lets one noisy language consume the whole global cut
      val docs = t(s, dir, "documents")
      val scored = Corpus.lmRefScoreStratified(
        docs.filter(Corpus.hashBucket(col("doc_id")) < 20)
          .select(col("lang"), col("text")),
        docs.select(col("doc_id"), col("lang"), col("text")), "lang",
        lambda = LmRefLambda)
      Corpus.dropBottomQuantileByStratum(scored, "lm_ref", 0.1, "lang")
        .select(col("doc_id"), col("lang"), col("lm_ref"))
    }),
    "pack_sequences" -> ((s, dir) =>
      // token-budget bin assignment (parallel next-fit over 8 hash groups)
      Corpus.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        budget = 512, groups = 8)),
    "chunk_docs" -> ((s, dir) =>
      // budget-sized document pieces (sequence+explode+slice, map-only);
      // chunks concatenate back to the ws-normalized original
      Corpus.chunkDocs(t(s, dir, "documents"), budget = 64)),
    "chunk_docs_sentences" -> ((s, dir) =>
      // sentence-preserving chunking: boundaries never fall inside a
      // sentence (punctuation-run grammar, next-fit atom packing). The
      // synthetic corpus carries no terminators — those docs exercise
      // the whole-doc-as-one-atom (oversized-sentence) branch at every
      // scale — and the punctuated sentence_docs fixture rides along in
      // the union so the oracle also exercises real multi-sentence
      // packing, `!?` runs, ellipses and the budget-exceeding sentence;
      // both engines read the identical two tables
      Corpus.chunkDocsSentences(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(s.read.parquet(Fixtures.SentenceParquet)),
        budget = 64)),
    "chunk_docs_cost" -> ((s, dir) =>
      // the cost-aware chunker under a UNIT cost degrades exactly to
      // chunkDocs — the hash-verified bridge for the windowed running-sum
      // machinery (the same oracle as chunk_docs)
      Corpus.chunkDocsByCost(t(s, dir, "documents"), budget = 64,
        costOf = _ => lit(1L))),
    "bpe_train" -> ((s, dir) => {
      // BPE merge training on the corpus itself (Sennrich learning loop
      // over the one-pass word histogram): emits the learned merge table
      // as (rank, left, right). Deterministic (exact counts, lex
      // tie-break) but not SQL-expressible → rows-only; spec proves
      // equality with an independent reference implementation.
      val merges = TextFunctions.trainBpeMerges(
        t(s, dir, "documents"), numMerges = 40)
      import s.implicits._
      merges.zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "left", "right")
    }),
    "chunk_docs_bpe" -> ((s, dir) =>
      // production form: boundaries fall at merged-BPE token budgets, so
      // packed sequences match what a real tokenizer counts (rows-only:
      // no BPE in the oracle engine; unit-cost ≡ chunkDocs is the bridge,
      // and spec pins per-chunk costs summing to the document total)
      Corpus.chunkDocsByCost(t(s, dir, "documents"), budget = 64,
        costOf = tok => TextFunctions.bpeCount(tok))),
    "pack_chunks" -> ((s, dir) =>
      // chunk first, then pack the pieces: every packed unit fits the
      // budget, so no unit straddles more than one bin boundary
      Corpus.packSequences(
        Corpus.chunkDocs(t(s, dir, "documents"), budget = 64),
        budget = 64, groups = 8, tokenCol = "n_tokens", idCol = "chunk_id")),
    "pack_sequences_inc" -> ((s, dir) => {
      // incremental packing against a persisted per-group state (the
      // registry convention): docs below the split are the registered
      // corpus, the rest pack as an increment offset by its state —
      // and because increments continue exactly where the registry
      // stopped, the SHARED fused oracle (pack_sequences' window SQL
      // filtered to the increment) hash-verifies the state round-trip
      // end to end
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val state = Corpus.packState(Corpus.packSequences(
        d.filter(col("doc_id") < 200L), budget = 512, groups = 8))
      Corpus.packSequencesInc(d.filter(col("doc_id") >= 200L), state,
        budget = 512, groups = 8)
    }),
    "pack_emit_ids" -> ((s, dir) =>
      // the trainer-facing EMISSION: merged-BPE token ids packed into
      // token-budget bins, each (grp, bin)'s concatenated id sequence in
      // doc-id order — the actual model input, ONE exchange end-to-end.
      // Rows-only (ids are not SQL-expressible); the spec pins bin
      // membership ≡ packSequences over bpeCount, the size(seq_ids) ==
      // bin_tokens invariant, and the concatenation against a driver
      // reference on fixtures. Dumped EXPLODED to (grp, bin, pos,
      // token_id) scalar rows — the array<int> bin payload is trainer
      // API (Corpus.packEmitIds / TrainingSetJob), but array cells
      // crash the oracle harness's canonicalizer, so the ledger entry
      // carries the order-preserving scalar twin (embed_whiten
      // precedent). OUTER explode: an empty bin (all-zero-token
      // members) keeps its (grp, bin, null, null) witness row.
      Corpus.packEmitIds(t(s, dir, "documents"), budget = 512, groups = 8)
        .select(col("grp"), col("bin"),
          posexplode_outer(col("seq_ids")).as(Seq("pos", "token_id")))),
    "pack_boundaries" -> ((s, dir) =>
      // the trainer-facing manifest of the packed layout: one row per
      // (grp, bin) with each member's start offset INSIDE the bin — the
      // attention-reset metadata sequence packing exists to provide (a
      // straddler's negative offset says it began in the previous bin).
      // One aggregation over the packer's window output; the manifest is
      // a sort_array'd string so the emission is engine-order-free.
      Corpus.packBoundaries(
        Corpus.packSequences(
          Corpus.chunkDocs(t(s, dir, "documents"), budget = 64),
          budget = 64, groups = 8, tokenCol = "n_tokens", idCol = "chunk_id"),
        budget = 64, idCol = "chunk_id")),
    "decontaminate" -> ((s, dir) => {
      // benchmark decontamination: a deterministic 5% hash sample stands
      // in as the "eval set"; corpus docs sharing >= 5 word-3-grams with
      // any eval doc are dropped (eval members remove themselves)
      val docs = t(s, dir, "documents")
      val ev = docs.filter(Corpus.hashBucket(col("doc_id")) < 5)
        .select(col("doc_id"), col("text"))
      Corpus.decontaminate(docs, ev, n = 3, minOverlap = 5)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "decontaminate_winnow" -> ((s, dir) => {
      // the CHEAP decontamination: both sides reduce to winnowing
      // fingerprints (~2/(g+1) of the k-grams), eval set broadcasts,
      // corpus probes map-only; the winnowing guarantee still catches
      // any >= g+k-1-token verbatim eval passage. Same md5-prefix
      // hashes as fingerprint_winnow -> fully hash-verified.
      val docs = t(s, dir, "documents")
      val ev = docs.filter(Corpus.hashBucket(col("doc_id")) < 5)
        .select(col("doc_id"), col("text"))
      Corpus.decontaminateWinnow(docs, ev, k = 5, g = 4, minShared = 2)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "decontaminate_winnow_attrib" -> ((s, dir) => {
      // the audit behind the removal: WHICH eval doc each contaminated
      // corpus doc shares >= minShared selected fingerprints with (the
      // per-eval-doc attribution the union-counting removal trades away)
      val docs = t(s, dir, "documents")
      val ev = docs.filter(Corpus.hashBucket(col("doc_id")) < 5)
        .select(col("doc_id"), col("text"))
      Corpus.decontaminateWinnowAttribution(docs, ev, k = 5, g = 4, minShared = 2)
        .select(col("doc_id"), col("eval_id"), col("n_shared"))
    }),
    "decontaminate_bloom" -> ((s, dir) => {
      // the LARGE-reference decontamination shape: eval shingles compress
      // into a Bloom filter probed map-only by a codegen'd
      // BloomFilterMightContain literal. Union-overlap criterion + bloom
      // false positives make removals a SUPERSET of the exact operator's
      // (no false negatives) — rows-only by design, containment
      // spec-asserted in CorpusSpec
      val docs = t(s, dir, "documents")
      val ev = docs.filter(Corpus.hashBucket(col("doc_id")) < 5)
        .select(col("doc_id"), col("text"))
      Corpus.decontaminateBloom(docs, ev, n = 3, minOverlap = 5)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "corpus_clean" -> ((s, dir) =>
      // the flagship composition: quality gate → language gate → exact-dup
      // collapse → near-dup survivors → split assignment, end-to-end
      Corpus.cleanCorpus(t(s, dir, "documents"))),
    "corpus_clean_soft" -> ((s, dir) =>
      // the reweight-instead-of-remove branch (TrainingSetJob's
      // soft_dedup): near-dup clusters survive WHOLE, each member
      // carrying weight = 1/|cluster| into the split — unit mass per
      // cluster, the loss-weighting loader contract
      Corpus.cleanCorpus(t(s, dir, "documents"), softDedup = true)),
    "corpus_clean_full" -> ((s, dir) => {
      // the PRODUCTION clean: everything corpus_clean runs PLUS
      // decontamination against a 5% hash-sample "eval set", PII redaction
      // of the surviving text, and stratified source rebalancing
      val docs = t(s, dir, "documents")
      val ev = docs.filter(Corpus.hashBucket(col("doc_id")) < 5)
        .select(col("doc_id"), col("text"))
      Corpus.cleanCorpus(docs, evalDocs = Some(ev), redact = true,
        strata = Some(("source", Map("src18" -> 40, "src7" -> 40), 90)))
    }),
    "pii_redact" -> ((s, _) => {
      val raw = s.read.parquet(Fixtures.PiiParquet)
      val counts = TextFunctions.piiCounts(col("text")).map { case (n, c) => c.as(n) }
      raw.select(Seq(col("pii_id"),
        TextFunctions.redactPii(col("text")).as("redacted")) ++ counts: _*)
    }),
    // --- time series: as-of join (clicks annotated with latest purchase) ---
    "events_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      graft.operators.TimeSeries
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pval"), suffix = "")
        .select(col("event_id"), col("user_id"), col("ts"), Quantize.quantize(col("pval"), 4).as("pval"))
    }),
    "events_asof_sliced" -> ((s, dir) => {
      // the HOT-KEY valve on real data: windows partitioned by
      // (key, time-slice) instead of key, so one pathological user can't
      // concentrate an unbounded window partition in one task; shares
      // events_asof's oracle — the hash proves the valve changes nothing
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      graft.operators.TimeSeries
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pval"),
          suffix = "", sliceSeconds = Some(3600L))
        .select(col("event_id"), col("user_id"), col("ts"), Quantize.quantize(col("pval"), 4).as("pval"))
    }),
    "events_asof_fwd" -> ((s, dir) => {
      // forward as-of: each click annotated with the NEXT purchase value
      // at-or-after it (same one-pass window, descending traversal)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      graft.operators.TimeSeries
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pval"),
          suffix = "", direction = "forward")
        .select(col("event_id"), col("user_id"), col("ts"), Quantize.quantize(col("pval"), 4).as("pval"))
    }),
    "events_asof_tol" -> ((s, dir) => {
      // staleness-capped as-of: a purchase more than an hour old no longer
      // annotates the click (merge_asof tolerance semantics)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      graft.operators.TimeSeries
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pval"),
          suffix = "", toleranceSeconds = Some(3600L))
        .select(col("event_id"), col("user_id"), col("ts"), Quantize.quantize(col("pval"), 4).as("pval"))
    }),
    "events_props" -> ((s, dir) =>
      // semi-structured path: typed JSON extraction with from_json (schema
      // known → codegen'd struct access, no per-row JSON re-parse per field)
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), Quantize.quantize(avg(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),
    "events_range" -> ((s, dir) => {
      // interval join via time bucketing: clicks within 10 minutes after
      // a purchase by the same user (equi-join on (user, bucket), exact
      // range filter after — no nested loop)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("wstart"), (col("ts") + expr("INTERVAL 10 MINUTES")).as("wend"))
      graft.operators.TimeSeries
        .rangeJoin(clicks, windows, Seq("user_id"), "ts", "wstart", "wend")
        .select(col("event_id"), col("purchase_id"), col("user_id"), col("ts"))
    }),
    // --- sessionization (gap-based, session_window semantics) ---
    "events_sessionize" -> ((s, dir) =>
      graft.operators.TimeSeries.sessionizeBatch(events(s, dir), gapMin = 30)),
    // --- data selection: DSIR, NB domain router, A-Res sampling ---
    "dsir_weights" -> ((s, dir) =>
      // target domain = English; weights say how en-like every doc's
      // hashed uni+bigram profile is vs the raw corpus
      Selection.dsirWeights(t(s, dir, "documents"), col("lang") === "en")),
    "dsir_sample" -> ((s, dir) =>
      Selection.dsirTopK(t(s, dir, "documents"), col("lang") === "en", k = 100)),
    "nb_classify" -> ((s, dir) => {
      // train on the split stream's train buckets, route the held-out 20%
      val d = t(s, dir, "documents")
      Selection.nbClassify(d.filter(Corpus.hashBucket(col("doc_id")) < 80),
        d.filter(Corpus.hashBucket(col("doc_id")) >= 80))
    }),
    "sample_weighted" -> ((s, dir) =>
      // length-weighted draw of 50 docs — the A-Res key stream
      Selection.sampleWeighted(t(s, dir, "documents"), col("n_chars"), k = 50)),
    "dsir_weights_inc" -> ((s, dir) =>
      // the production split: model persisted ONCE per data directory by
      // the AnnIndex fingerprint cache (the quality_logreg_inc
      // convention; training + persist cost is the declared
      // `dsir_model_build` step), scoring map-only — load -> score must
      // equal the fused train-in-one-plan form (shared oracle, so the
      // parquet round-trip is hash-verified end to end)
      Selection.dsirWeightsFromModel(t(s, dir, "documents"),
        AnnIndex.dsirModel(s, dir))),
    "nb_classify_inc" -> ((s, dir) =>
      // persisted-model routing ≡ fused train+score (shared oracle).
      // Model trained ONCE per data directory by the AnnIndex cache (the
      // logreg/dsir convention; train + persist cost is the declared
      // `nb_model_build` step) — this measures routing only.
      Selection.nbClassifyFromModel(
        t(s, dir, "documents").filter(Corpus.hashBucket(col("doc_id")) >= 80),
        AnnIndex.nbModelPath(s, dir))),
    // --- oracled k-means building blocks (cluster-then-prune substrate) ---
    "embed_kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir))),
    "embed_kmeans_step" -> ((s, dir) =>
      Similarity.kmeansStep(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir))),
    "select_diverse" -> ((s, dir) =>
      // cluster-balanced diversity selection: ≤12 members per k-means
      // cell, elected by the salted id-hash rank — flattens embedding-
      // space density (dense boilerplate regions contribute the same
      // budget as sparse ones), the SemDeDup-era cluster-balanced
      // sampling step; heap election, no rank window
      Selection.selectDiverse(t(s, dir, "embeddings"),
        kmeansSeedsOf(s, dir), perCell = 12)),
    "select_prototypical" -> ((s, dir) =>
      // the coherence FLOOR paired with select_diverse's density CAP:
      // keep vectors whose nearest-centroid cosine reaches 0.12 (≈ the
      // 25th percentile on this data) — embedding-space noise that
      // density-based dedup never touches drops; map-only
      Selection.selectPrototypical(t(s, dir, "embeddings"),
        kmeansSeedsOf(s, dir), minCos = 0.12)),
    "select_diverse_inc" -> ((s, dir) => {
      // ship-once increment: registry = the fused selection over
      // vec_id < 60 (scarce, so cells keep open slots); the batch
      // competes for each cell's REMAINING
      // slots (a shipped example cannot be unshipped) — in-plan
      // registry, the dedup_paragraphs_inc pattern
      val e = t(s, dir, "embeddings")
      Selection.selectDiverseInc(
        e.filter(col("vec_id") >= 60), kmeansSeedsOf(s, dir),
        Selection.selectDiverse(e.filter(col("vec_id") < 60),
          kmeansSeedsOf(s, dir), perCell = 12),
        perCell = 12)
    }),
    "split_by_cluster" -> ((s, dir) =>
      // cluster-disjoint split: the split hashes the CELL, not the id,
      // so embedding-near neighbors can never straddle the train/eval
      // boundary — the leak split_leakage MEASURES, prevented at
      // assignment time; map-only against the broadcast centroids
      Selection.splitByCluster(t(s, dir, "embeddings"),
        kmeansSeedsOf(s, dir))),
    "split_by_cluster_meter" -> ((s, dir) =>
      // the realized-fraction meter behind split_by_cluster's
      // granularity caveat: splits quantize to cluster mass, so this
      // turns "nCells must be ≫ 1/min(pct)" into a checkable number —
      // one ≤3-row aggregation + a broadcast 1-row total
      Selection.splitMeter(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir))),
    "decontaminate_semantic" -> ((s, dir) => {
      // embedding-side eval decontamination: drop corpus vectors within
      // cosine 0.45 of ANY eval vector (vec_id < 25 stands in for the
      // eval set) — catches paraphrased leakage the lexical family
      // can't; eval side broadcast, corpus map-only
      val e = t(s, dir, "embeddings")
      Similarity.decontaminateSemantic(
        e.filter(col("vec_id") >= 25).select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 25), minCosine = 0.45)
        .select(col("vec_id"))
    }),
    "corpus_curate_semantic" -> ((s, dir) => {
      // the embedding-side FLAGSHIP (the corpus_clean_full of this
      // family): coherence floor (cos ≥ 0.12) → SemDeDup (0.45) →
      // eval decontamination (0.45 vs vec_id < 25) → per-cell diversity
      // cap (12) → cluster-disjoint split, end-to-end as ONE statement —
      // each stage is individually hash-verified; this pins their
      // interaction. One corpus scan, one real exchange (Selection.
      // curateSemantic's scaladoc); corpus = vec_id ≥ 25 (eval rows are
      // not training candidates)
      val e = t(s, dir, "embeddings")
      Selection.curateSemantic(
        e.filter(col("vec_id") >= 25).select(col("vec_id"), col("embedding")),
        kmeansSeedsOf(s, dir), e.filter(col("vec_id") < 25),
        minCos = 0.12, dedupCos = 0.45, decontCos = 0.45, perCell = 12)
    }),
    "embed_kmeans_assign_pruned_full" -> ((s, dir) =>
      // IVF-pruned assignment with nProbe = nCoarse — provably the exact
      // flat scan (shares embed_kmeans_assign's oracle, the *_full bridge
      // convention): every coarse cell is probed, the member lists
      // partition the centroid ids, and the kernel's min-index tiebreak
      // makes the fold order-independent
      Similarity.kmeansAssign(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir),
        pruned = Some((4, 4)))),
    "embed_kmeans_assign_pruned" -> ((s, dir) =>
      // the production pruned point (nProbe = 2 of 4 coarse cells —
      // scans ~half the centroid table per row): rows-only by declared
      // design, recall pinned by EmbeddingsSpec against the exact scan
      Similarity.kmeansAssign(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir),
        pruned = Some((4, 2)))),
    // --- md5 oracle bridges for the signature kernels ---
    "dedup_minhash_bridge" -> ((s, dir) =>
      Dedup.minhashBridge(t(s, dir, "documents"))),
    "dedup_minhash_pairs_bridge" -> ((s, dir) =>
      // the full LSH candidate-generation algebra (sign → band → bucket
      // join), oracle-verified on the md5 stream
      Dedup.minhashPairsBridge(t(s, dir, "documents"))),
    "dedup_simhash_bridge" -> ((s, dir) =>
      Dedup.simhashBridge(t(s, dir, "documents"))),
    "curriculum_assign" -> ((s, dir) =>
      // curriculum staging: quartile tiers of the corpus-LM quality
      // score — single array-percentile sketch, map-side comparisons
      Corpus.curriculumAssign(
        Corpus.unigramLogProb(t(s, dir, "documents")), "logprob", 4)),
    // --- round-11 late additions ---
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup: kmeans-cluster-scoped cosine dedup — near-duplicate
      // MEANING (paraphrases), cell-keyed self-join, never all-pairs
      Similarity.semanticDedupClustered(t(s, dir, "embeddings"), kmeansSeedsOf(s, dir),
        minCosine = 0.45)),
    "dedup_semantic_inc" -> ((s, dir) => {
      // persisted-registry increment ≡ fused dedup over the union
      // restricted to the batch (shared-oracle pattern, like
      // nb_classify_inc): registry = vec_id < 300, batch = the rest.
      // The registry is SERVED from the fingerprint cache (the
      // logregModel serve-split contract — `sem_registry_build` is the
      // declared build): a production pipeline writes its registry once
      // and appends after each probed batch; rebuilding it per probe
      // (the pre-r16 shape) billed a partitioned parquet write to every
      // serve measurement.
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedupIncrement(
        e.filter(col("vec_id") >= 300), kmeansSeedsOf(s, dir),
        AnnIndex.semRegistryPath(s, dir, kmeansSeedsOf(s, dir)),
        minCosine = 0.45)
    }),
    "mix_temperature" -> ((s, dir) =>
      // temperature-scaled mixture weights (α = 0.3, the XLM-R setting):
      // one agg to #strata rows + a broadcast total — no driver model
      Corpus.temperatureWeights(t(s, dir, "documents"), alpha = 0.3)),
    "quality_gopher" -> ((s, dir) => {
      val cols = TextFunctions.gopherColumns(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }),
    "text_c4_clean" -> ((s, dir) => {
      // C4 line-level cleaning: kept lines + page verdict, one byte-scan
      // kernel, map-only. The fixture corpus is single-line punctuation-
      // free word salad, so the declared query first reshapes it into
      // lines with two LITERAL replaces (engine-identical, no regex
      // group-reference syntax divergence) — every rule then has real
      // kept/dropped coverage; the operator itself takes any text.
      val lined = replace(replace(col("text"),
        lit(" table "), lit(" table.\n")), lit(" value "), lit(" value!\n"))
      val cols = TextFunctions.c4Columns(lined).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }),
    "embed_quantize" -> ((s, dir) =>
      // symmetric int8 scalar quantization, long-form emission — map-only
      Similarity.quantizeInt8(t(s, dir, "embeddings"))),
    "quality_logreg" -> ((s, dir) =>
      // DCLM-style trained quality filter: full-batch logistic
      // regression over hashed uni+bigram buckets, 3 GD iterations with
      // 9dp-quantized weights — the quantization makes the TRAINING
      // LOOP itself hash-verifiable cross-engine, not just the scoring
      Selection.logregScore(t(s, dir, "documents"), col("lang") === "en")),
    "quality_logreg_auc" -> ((s, dir) =>
      // the filter's evaluation meter: exact tie-aware ROC-AUC from ONE
      // histogram aggregation (no global row sort — the rank algebra
      // runs over the <= |distinct 6dp scores| relation). Scores come
      // map-only from the persisted per-directory model (the
      // `quality_logreg_inc` serve path, hash-verified ≡ the fused
      // trainer) — the meter prices evaluation, not re-training; the
      // training cost is the declared `logreg_model_build` step.
      Selection.rocAuc(
        Selection.logregScoreFromModel(t(s, dir, "documents"),
          AnnIndex.logregModel(s, dir), col("lang") === "en"))),
    "quality_logreg_inc" -> ((s, dir) =>
      // the PRODUCTION serve path: score an increment map-only from the
      // persisted (bucket, w) artifact — trained ONCE per data directory
      // by the AnnIndex cache (the sim_* convention; training + persist
      // cost is the `logreg_model_build` build step). Shares the fused
      // oracle, so train -> persist -> load -> score ≡ fused-in-one-plan
      // is hash-verified end to end.
      Selection.logregScoreFromModel(t(s, dir, "documents"),
        AnnIndex.logregModel(s, dir), col("lang") === "en")),
    "embed_moments" -> ((s, dir) =>
      // per-dimension mean + population variance from ONE mergeable
      // VecMoments aggregation (17 KB buffer per partition) — the
      // statistics input of centering / whitening / all-but-the-top
      graft.operators.Embeddings.momentsRows(t(s, dir, "embeddings"))),
    "embed_center" -> ((s, dir) =>
      // mean-centering, exploded to scalars for the oracle: one moments
      // aggregation + a map-only center kernel
      graft.operators.Embeddings.centerRows(t(s, dir, "embeddings"))),
    "embed_truncate" -> ((s, dir) =>
      // Matryoshka-style serving cut: first-16-dims prefix, L2-renorm —
      // map-only, long-form 6dp scalars, fully oracled
      graft.operators.Embeddings.truncateRenorm(t(s, dir, "embeddings"), k = 16)),
    "embed_whiten" -> ((s, dir) =>
      // ZCA whitening: moments aggregation -> driver-side 64x64 Jacobi
      // -> map-only projection kernel, exploded to (vec_id, dim,
      // whitened 6dp) — dump-safe AND hash-verified against a DuckDB
      // statement carrying the collected (mu, W) as literals (see
      // prepareOracles); output covariance ~ I stays spec-pinned on the
      // array form
      graft.operators.Embeddings.whitenRows(t(s, dir, "embeddings"))),
    "embed_abtt" -> ((s, dir) =>
      // all-but-the-top (Mu & Viswanath 2018): remove mean + top-2
      // principal directions, exploded like embed_whiten (hash-verified
      // via prepareOracles literals; removed-direction variance ~ 0
      // spec-pinned on the array form)
      graft.operators.Embeddings.allButTopRows(t(s, dir, "embeddings"), k = 2)),
    "sim_topk_int8" -> ((s, dir) =>
      // top-k served from the dequantized int8 codes — the compression
      // rung's accuracy meter vs full-precision sim_topk
      Similarity.topKInt8(t(s, dir, "embeddings"), queryVec(s, dir), k = 10)),
    "corpus_length_hist" -> ((s, dir) =>
      // log2-bucketed token-length histogram — the corpus-profiling
      // query behind chunk-budget and packing decisions. Bucket edges
      // are exact powers of two, where IEEE log2 is exact in every
      // engine, so floor() can't flip at a boundary. One map-side-
      // combinable aggregation over the byte-scan token counter.
      t(s, dir, "documents")
        .select(TextFunctions.tokenCount(col("text")).as("__n"))
        .groupBy(floor(log2(greatest(col("__n"), lit(1L)))).cast("long").as("log2_tokens"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("total_tokens"))),
    "chunk_docs_overlap" -> ((s, dir) =>
      // sliding-window chunking (budget 64, stride 32): RAG/pretraining
      // prep with shared context across boundaries — map-only
      Corpus.chunkDocsOverlap(t(s, dir, "documents"), budget = 64, stride = 32)))

  /** Build steps — artifact constructions, NOT queries. Bench times them
    * alongside `queries` (training cost stays on the ledger) but Verify
    * excludes them from the correctness dump: an artifact summary has no
    * SQL twin, and its former place in the query inventory read as a
    * failing `no_oracle` row every round. */
  /** Every declared build runs UNCONDITIONALLY into a throwaway dir —
    * the full training/layout cost as its own ledger number — and the
    * throwaway artifacts delete before returning (bench invokes builds
    * repeatedly; leaving them would grow tmp without bound). */
  private def buildToTmp(prefix: String)(
      build: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try build(tmp.toString)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp.toFile)
    }
  }

  def builds: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full ANN training cost (LSH/IVF/PQ/cell-codes family)
    "sim_index_build" -> ((s, dir) =>
      buildToTmp("graft_ann_build")(AnnIndex.buildAll(s, dir, _))),
    // the persisted MRL prefix relations: the (cheap, map-only)
    // projection cost, so the sim_*_mrl_pre queries measure routing only
    "mrl_index_build" -> ((s, dir) =>
      buildToTmp("graft_mrl_build")(AnnIndex.buildMrlPrefixes(s, dir, _))),
    // logreg quality model: GD loop + parquet write + read-back count,
    // so `quality_logreg_inc` measures scoring only
    "logreg_model_build" -> ((s, dir) =>
      buildToTmp("graft_logreg_build")(AnnIndex.buildLogregModel(s, dir, _))),
    // reference-LM model: three count relations + writes + read-back,
    // so `quality_lm_ref_inc` measures the scoring joins only
    "lm_ref_model_build" -> ((s, dir) =>
      buildToTmp("graft_lmref_build")(AnnIndex.buildLmRefModel(s, dir, _))),
    // DSIR importance model: histogram estimation + write + read-back,
    // so `dsir_weights_inc` measures map-only scoring
    "dsir_model_build" -> ((s, dir) =>
      buildToTmp("graft_dsir_build")(AnnIndex.buildDsirModel(s, dir, _))),
    // NB router model: term-count aggregation + two writes + read-back,
    // so `nb_classify_inc` measures routing only
    "nb_model_build" -> ((s, dir) =>
      buildToTmp("graft_nb_build")(AnnIndex.buildNbModel(s, dir, _))),
    // semantic-dedup registry: assignment + cell-partitioned parquet
    // write + read-back, so `dedup_semantic_inc` measures the probe only
    "sem_registry_build" -> ((s, dir) =>
      buildToTmp("graft_semreg_build")(
        AnnIndex.buildSemRegistry(s, dir, _, kmeansSeedsOf(s, dir)))),
    // substring-dedup registry: window extraction + parquet write +
    // read-back, so `dedup_substr_inc` measures the probe only
    "substr_registry_build" -> ((s, dir) =>
      buildToTmp("graft_substrreg_build")(
        AnnIndex.buildSubstrRegistry(s, dir, _))))

  // ------------------------------------------------------------- oracle SQL

  /** Brute-force cosine top-10 — oracles `sim_topk` AND the two full-probe
    * index paths (`sim_topk_ivf_full`, `sim_topk_lsh_full`), which provably
    * equal brute force. */
  private val simTopkSql =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      | floor((list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
      |  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |   sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))) * 1e6 + 0.5) / 1e6 AS cos
      |FROM embeddings e, q ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin

  /** Exact all-pairs cosine near-dup — oracles `sim_neardup` directly and
    * seeds the `sim_dedup_survivors` recursive-CTE cluster pass. */
  private val simNearDupSql =
    """SELECT id_a, id_b, cos FROM (
      | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) * 1e6 + 0.5) / 1e6 AS cos
      | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      | WHERE a.vec_id < 500 AND b.vec_id < 500)
      |WHERE cos >= 0.45""".stripMargin

  /** Connected-components CTE chain over a `pairs` relation with (id_a,
    * id_b) columns: defines `edges` (symmetrized), `reach` (recursive
    * closure), and `labels` (member id → cluster = min reachable id, for
    * every NON-singleton member). Embed after `WITH RECURSIVE pairs AS
    * (…),` — shared by every cluster/survivor oracle so the labeling rule
    * lives in exactly one place. */
  private val ccCtesSql =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src),
      |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |           FROM reach GROUP BY src)""".stripMargin

  /** The base-clean CTE chain (quality + langid gates → md5 exact-dup
    * collapse → Jaccard pairs → recursive-CTE cluster labels) — ONE
    * definition shared by `corpus_clean` and `corpus_clean_full`, so a
    * gate constant (minTokens 10, digit ratio 0.3, minJaccard 0.5) can
    * never drift between the two statements. `cols` is the projected
    * document column list (must include doc_id and text). */
  private def baseCleanCtes(cols: String): String = {
    val jac = jaccardSql(0.5, src = "e")
    s"""q AS (SELECT $cols FROM (
       |  SELECT $cols, $langHitsSql FROM documents
       |  WHERE CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) >= 10
       |    AND floor((len(regexp_extract_all(text, '[0-9]')) * 1.0 /
       |        greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 <= 0.3)
       | WHERE ($langCaseSql) = 'en'),
       |e AS (SELECT $cols FROM q
       |      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(text))),
       |pairs AS ($jac),
       |$ccCtesSql""".stripMargin
  }

  /** Corpus-LM unigram logprob oracle — shared by `text_logprob` and the
    * `quality_quantile_gate` threshold statement. */
  private val logprobSql =
    """WITH terms AS (
      | SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      | FROM documents),
      |counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM terms GROUP BY term),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM terms)
      |SELECT doc_id, floor((avg(ln(cnt * 1.0 / total))) * 1e6 + 0.5) / 1e6 AS logprob
      |FROM terms JOIN counts USING (term) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin

  /** Brute-force batch k-NN join oracle — shared by `sim_topk_join` and
    * the full-probe IVF bridge (`sim_topk_join_ivf_full`), which equals
    * it by construction. */
  private val simTopkJoinSql =
    """WITH s AS (
      | SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
      |  floor((list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
      |   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
      |    sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))) * 1e6 + 0.5) / 1e6 AS cos
      | FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND c.vec_id < 300)
      |SELECT q_id, vec_id, cos FROM (
      | SELECT q_id, vec_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      | FROM s)
      |WHERE rn <= 5""".stripMargin

  /** DuckDB twin of `Corpus.hashBucket`: hex prefix of md5(id ++ salt),
    * mod N. Non-empty `salt` selects the independent SAMPLING stream
    * (`Corpus.SampleSalt`); assignment expressions stay unsalted. */
  private def hashBucketSql(idCol: String, buckets: Int, salt: String = ""): String =
    s"${hashValueSql(idCol, salt)} % $buckets"

  /** The full 32-bit hash value (no modulo) — the SQL twin of the rank
    * key behind `Corpus.capPerStratum`. */
  private def hashValueSql(idCol: String, salt: String): String = {
    val id = if (salt.isEmpty) s"CAST($idCol AS VARCHAR)"
      else s"CAST($idCol AS VARCHAR) || '$salt'"
    s"('0x' || substr(md5($id), 1, 8))::BIGINT"
  }

  /** Shared DSIR CTE chain (ends in `w(doc_id, weight)`) — the DuckDB
    * twin of `Selection.dsirWeights(documents, lang = 'en')`: hashed
    * uni+bigram buckets, Laplace-smoothed target/raw log-ratio, summed
    * per doc. `dsir_weights` and `dsir_sample` share one definition. */
  /** DuckDB twin of `Selection.logregScore(target = lang = 'en')`: the
    * SAME GD chain — per-iteration CTEs (margins → residuals →
    * gradients → 9dp-quantized weights), bias as synthetic bucket B,
    * sums over the identical histogram — so the whole training loop
    * hash-verifies, not just scoring. Iteration 1 folds in w₀ = 0
    * (margin 0 → p = 0.5) without a join, exactly like the empty-map
    * first pass on the Spark side. */
  private def logregSql(iters: Int, lr: Double, buckets: Int): String = {
    val q9 = (e: String) => s"floor(($e) * 1e9 + 0.5) / 1e9"
    val head =
      s"""WITH toks AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         |feats AS (SELECT doc_id, y,
         |  list_concat(t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS fs
         |  FROM toks),
         |fx AS (SELECT doc_id, y,
         |         ${hashBucketSql("f", buckets, Selection.DsirSalt)} AS b
         |       FROM (SELECT doc_id, y, unnest(fs) AS f FROM feats)
         |       UNION ALL SELECT doc_id, y, $buckets AS b FROM toks),
         |hist0 AS (SELECT doc_id, y, b, CAST(count(*) AS DOUBLE) AS c
         |          FROM fx GROUP BY 1, 2, 3),
         |hist AS MATERIALIZED (SELECT doc_id, y, b,
         |           CASE WHEN b = $buckets THEN 1.0
         |                ELSE c / sum(CASE WHEN b = $buckets THEN 0 ELSE c END)
         |                       OVER (PARTITION BY doc_id) END AS c
         |         FROM hist0),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |w1 AS MATERIALIZED (SELECT b, ${q9(s"-$lr * sum((0.5 - y) * c) / any_value(nn.n)")} AS w
         |       FROM hist CROSS JOIN nn GROUP BY b)""".stripMargin
    val steps = (2 to iters).map { i =>
      s"""m$i AS (SELECT h.doc_id, h.y, sum(h.c * w${i - 1}.w) AS m
         |  FROM hist h JOIN w${i - 1} ON h.b = w${i - 1}.b GROUP BY 1, 2),
         |r$i AS (SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r FROM m$i),
         |g$i AS (SELECT h.b, sum(h.c * r$i.r) / any_value(nn.n) AS g
         |  FROM hist h JOIN r$i USING (doc_id) CROSS JOIN nn GROUP BY h.b),
         |w$i AS MATERIALIZED (SELECT w${i - 1}.b, ${q9(s"w${i - 1}.w - $lr * g$i.g")} AS w
         |  FROM w${i - 1} JOIN g$i ON w${i - 1}.b = g$i.b)""".stripMargin
    }
    val tail =
      s"""mf AS (SELECT h.doc_id, h.y, sum(h.c * w$iters.w) AS m
         |  FROM hist h JOIN w$iters ON h.b = w$iters.b GROUP BY 1, 2)
         |SELECT doc_id, CAST(y AS BIGINT) AS is_target,
         | floor((1.0 / (1.0 + exp(-m))) * 1e6 + 0.5) / 1e6 AS score
         |FROM mf""".stripMargin
    (Seq(head) ++ steps ++ Seq(tail)).mkString(",\n")
  }

  private def dsirSqlBody: String =
    s"""toks AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |         FROM documents),
       |feats AS (SELECT doc_id, lang,
       |  list_concat(t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS fs
       |  FROM toks),
       |fx AS (SELECT doc_id, lang,
       |         ${hashBucketSql("f", Selection.DsirBuckets, Selection.DsirSalt)} AS b
       |       FROM (SELECT doc_id, lang, unnest(fs) AS f FROM feats)),
       |hist AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
       |         FROM fx GROUP BY 1, 2, 3),
       |cnt AS (SELECT b, CAST(sum(c) AS BIGINT) AS raw_n,
       |          CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_n
       |        FROM hist GROUP BY b),
       |tot AS (SELECT CAST(sum(raw_n) AS BIGINT) AS raw_tot,
       |          CAST(sum(tgt_n) AS BIGINT) AS tgt_tot FROM cnt),
       |lr AS (SELECT b,
       |         ln((tgt_n + 1.0) / (tgt_tot + ${Selection.DsirBuckets}.0)) -
       |         ln((raw_n + 1.0) / (raw_tot + ${Selection.DsirBuckets}.0)) AS lr
       |       FROM cnt CROSS JOIN tot),
       |wsum AS (SELECT doc_id, sum(c * lr) AS w FROM hist JOIN lr USING (b)
       |         GROUP BY doc_id),
       |w AS (SELECT d.doc_id, floor((coalesce(ws.w, 0.0)) * 1e6 + 0.5) / 1e6 AS weight
       |      FROM documents d LEFT JOIN wsum ws USING (doc_id))""".stripMargin

  /** DuckDB twin of `Selection.nbClassify(train = bucket<80, score =
    * bucket>=80, classCol = lang)` — shared by the fused and the
    * persisted-model (`nb_classify_inc`) declarations. */
  private def nbClassifySql: String =
    s"""WITH lab AS (SELECT doc_id, lang, text, ${hashBucketSql("doc_id", 100)} AS b
       |             FROM documents),
       |train AS (SELECT * FROM lab WHERE b < 80),
       |test AS (SELECT * FROM lab WHERE b >= 80),
       |cnt AS (SELECT lang AS c, term, CAST(count(*) AS BIGINT) AS n FROM (
       |          SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |          FROM train) GROUP BY 1, 2),
       |nc AS (SELECT c, CAST(sum(n) AS BIGINT) AS n_c FROM cnt GROUP BY c),
       |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM cnt),
       |pri AS (SELECT lang AS c, ln(count(*) * 1.0 / (SELECT count(*) FROM train)) AS lp
       |        FROM train GROUP BY 1),
       |dtok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |         FROM test),
       |contrib AS (
       |  SELECT d.doc_id, p.c,
       |    sum(ln((coalesce(cn.n, 0) + 1.0) / (nc.n_c + v.v))) AS s
       |  FROM dtok d CROSS JOIN pri p
       |  JOIN nc ON nc.c = p.c CROSS JOIN v
       |  LEFT JOIN cnt cn ON cn.c = p.c AND cn.term = d.term
       |  GROUP BY 1, 2),
       |sc AS (SELECT t.doc_id, t.lang, p.c, p.lp + coalesce(ct.s, 0.0) AS score
       |       FROM test t CROSS JOIN pri p
       |       LEFT JOIN contrib ct ON ct.doc_id = t.doc_id AND ct.c = p.c),
       |r AS (SELECT doc_id, lang, c, score,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rk
       |      FROM sc)
       |SELECT doc_id, lang, c AS pred_lang,
       | floor(score * 1e6 + 0.5) / 1e6 AS score FROM r WHERE rk = 1""".stripMargin

  /** Shared MinHash-bridge CTE chain (ends in `mh(doc_id, perm, minhash)`)
    * — the DuckDB twin of `Dedup.minhashBridge`; the signature query and
    * the banded-pairs query share one definition. */
  private def minhashBridgeSqlBody: String =
    s"""tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |       FROM documents),
       |sh AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |       FROM tk WHERE len(t) >= 3),
       |hs AS (SELECT doc_id,
       |         ${hashValueSql("s", Dedup.MinhashBridgeSalt)} % ${Dedup.BridgeP} AS h
       |       FROM sh),
       |perms(perm, a, b) AS (VALUES ${(0 until Dedup.BridgePerms)
         .map(i => s"(${i}, ${Dedup.bridgeA(i)}, ${Dedup.bridgeB(i)})").mkString(", ")}),
       |mh AS (SELECT doc_id, CAST(perm AS INTEGER) AS perm,
       |         CAST(min((a * h + b) % ${Dedup.BridgeP}) AS BIGINT) AS minhash
       |       FROM hs CROSS JOIN perms GROUP BY doc_id, perm)""".stripMargin

  /** Shared k-means CTE chain (seeds → raw cosine scores `sc`) — the
    * DuckDB twin of `Similarity.kmeansAssign/kmeansStep` with the 8
    * lowest-id seed vectors. Argmax happens on the RAW cosine in both
    * engines; only outputs are quantized. */
  private def kmeansSqlBody: String =
    """seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS c
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
      |sc AS (
      |  SELECT e.vec_id, s.cell,
      |    list_dot_product(e.embedding::DOUBLE[], s.c::DOUBLE[]) /
      |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(s.c::DOUBLE[], s.c::DOUBLE[]))) AS cos
      |  FROM embeddings e CROSS JOIN seeds s),
      |asg AS (SELECT vec_id, cell, cos FROM (
      |  SELECT vec_id, cell, cos,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk FROM sc)
      |  WHERE rk = 1)""".stripMargin

  /** Shared chunking CTEs (nums/toks/ch) — the DuckDB twin of
    * `Corpus.chunkDocs(documents, budget = 64)`. DuckDB list slices are
    * 1-based inclusive and clip out-of-range, exactly like Spark's
    * `slice(arr, start, length)`; the nums join replaces the lateral
    * `generate_series` DuckDB can't drive from a column. The nums bound
    * (4096 chunks = 256k tokens/doc at budget 64) is a FIXTURE bound for
    * this oracle statement only — the Spark operator has no cap. */
  /** Reference-LM interpolation weight — shared by the Spark statement
    * and its oracle so both engines use the identical IEEE coefficients. */
  private val LmRefLambda = 0.9

  private val chunkDocsSql =
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(0, 4095)),
       |toks AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS t FROM documents),
       |ch AS (
       | SELECT doc_id, i AS chunk,
       |  printf('%s#%09d', CAST(doc_id AS VARCHAR), i) AS chunk_id,
       |  array_to_string(t[i*64+1 : i*64+64], ' ') AS chunk_text,
       |  CAST(len(t[i*64+1 : i*64+64]) AS BIGINT) AS n_tokens
       | FROM toks JOIN nums ON i <= greatest(len(t) - 1, 0) // 64)""".stripMargin

  /** Per-language stopword hit-count columns (one per StopwordSets entry). */
  private val langHitsSql = TextFunctions.StopwordSets.map { case (lang, words) =>
    s"CAST(len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b')) AS BIGINT) AS $lang"
  }.mkString(", ")

  /** The langId decision CASE over [[langHitsSql]] columns. First-listed
    * language wins ties: branch k needs k >= every LATER language only (an
    * earlier branch failing implies that lang lost). */
  private val langCaseSql = {
    val langs = TextFunctions.StopwordSets.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val later = langs.drop(i + 1)
      val geq = (s"$l > 0" +: later.map(o => s"$l >= $o")).mkString(" AND ")
      s"WHEN $geq THEN '$l'"
    }.mkString(" ")
    s"CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh' " +
      s"$cases ELSE 'und' END"
  }

  private val wideRp = s"read_parquet('${Fixtures.WideParquet}/*.parquet')"
  private val wide2Rp = s"read_parquet('${Fixtures.Wide2Parquet}/*.parquet')"
  private val storeRp = s"read_parquet('${Fixtures.StoreParquet}/*.parquet')"
  private val storeDupRp = s"read_parquet('${Fixtures.StoreDupParquet}/*.parquet')"

  /** F-1 unpivot over ALL three date columns, raw string values. */
  private val unpivotAllSql =
    s"""SELECT SKN AS station_id, '2022-03-01' AS "date", "X2022.03.01" AS value FROM $wideRp
       |UNION ALL SELECT SKN, '2022-03-02', "X2022.03.02" FROM $wideRp
       |UNION ALL SELECT SKN, '2022-03-03', "X2022.03.03" FROM $wideRp""".stripMargin

  /** F-1 increment as SQL (mirrors `stationValues`). */
  private val incSql =
    s"""SELECT station_id, "date", CAST(value AS DOUBLE) AS value,
       | 'min' AS aggregation, 'temperature' AS datatype, 'raw' AS fill, 'day' AS period
       |FROM (
       |  SELECT SKN AS station_id, '2022-03-01' AS "date", "X2022.03.01" AS value FROM $wideRp
       |  UNION ALL
       |  SELECT SKN, '2022-03-02', "X2022.03.02" FROM $wideRp
       |) u WHERE value IS NOT NULL AND value <> 'NA'""".stripMargin

  /** One mixture definition, two engines (the `mix_weights` query).
    * Budget 5000 keeps every rate FRACTIONAL at sf0.01 (totals ≈ 7.5–8.2k
    * per source), so the primary correctness gate exercises the threshold
    * arithmetic and the sampling filter, not just the keep-all cap. */
  private val MixWeights = Map("src7" -> 0.5, "src18" -> 0.3, "src3" -> 0.2)
  private val MixBudget = 5000.0

  /** Upsampling mixture (`mix_repeat`): budget 30000 over two sources
    * whose sf0.01 totals are ~7.6k/8.2k chars, so BOTH rates land above 1
    * (≈2.4 and ≈1.5) — whole-epoch repeats AND the fractional hash gate
    * are exercised by the primary gate. */
  private val RepeatWeights = Map("src3" -> 0.6, "src7" -> 0.4)
  private val RepeatBudget = 30000.0

  /** DuckDB twin of `Dedup.dedupParagraphs` over the para_docs fixture;
    * `finalClause` restricts the reassembled output (the incremental
    * oracle appends `HAVING doc_id >= 5`). */
  private def paraDedupSql(finalClause: String = ""): String =
    s"""WITH p0 AS (SELECT doc_id, text
       |  FROM read_parquet('${Fixtures.ParaParquet}/*.parquet')),
       |nums AS (SELECT generate_series AS i FROM generate_series(1, 64)),
       |sp AS (SELECT doc_id, string_split(text, e'\\n\\n') AS parts FROM p0),
       |paras AS (
       | SELECT doc_id, i AS pos, trim(parts[i]) AS para
       | FROM sp, nums WHERE i <= len(parts) AND len(trim(parts[i])) > 0),
       |kept AS (
       | SELECT doc_id, pos, para FROM paras
       | QUALIFY row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1)
       |SELECT doc_id, string_agg(para, e'\\n\\n' ORDER BY pos) AS text,
       | count(*) AS n_kept
       |FROM kept GROUP BY doc_id $finalClause""".stripMargin

  /** DuckDB twin of `Corpus.lmRefScore` — λ and (1−λ) interpolate from
    * the SAME Scala doubles the Spark side uses (1−0.9 is not the
    * literal 0.1 in IEEE — injecting the computed value keeps both
    * engines on one coefficient). `bigramHaving` is the count-pruning
    * valve (`quality_lm_ref_pruned` passes `HAVING count(*) >= 2`);
    * `cw` stays unpruned so surviving conditionals never renormalize. */
  private def lmRefSql(bigramHaving: String = ""): String =
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
       |ref AS (SELECT text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 20),
       |rtoks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM ref),
       |rbg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       |        FROM rtoks JOIN nums ON i <= len(ts) - 1),
       |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM rbg GROUP BY 1, 2
       |        $bigramHaving),
       |cw AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM rbg GROUP BY 1),
       |runi AS (SELECT t, CAST(count(*) AS BIGINT) AS cu
       |         FROM (SELECT unnest(ts) AS t FROM rtoks) GROUP BY 1),
       |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
       |        FROM runi),
       |dtoks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |          FROM documents),
       |dbg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |        FROM dtoks JOIN nums ON i <= len(ts) - 1)
       |SELECT doc_id,
       | floor(avg(ln($LmRefLambda * coalesce(c2 * 1.0 / c1, 0)
       |   + ${1 - LmRefLambda} * (coalesce(cu, 0) + 1.0) / (n + v))) * 1e6 + 0.5) / 1e6
       |   AS lm_ref
       |FROM dbg LEFT JOIN cbg USING (w1, w2) LEFT JOIN cw USING (w1)
       |LEFT JOIN runi ON runi.t = dbg.w2 CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin

  /** [[lmRefSql]] with the stratum (language) key threaded through every
    * model CTE and the serve joins, plus the per-stratum drop-quantile
    * cut — the `quality_lm_ref_stratified` oracle (CCNet's per-language
    * model + per-language cut). The totals join is INNER: a language
    * absent from the reference has no model and its docs drop. */
  private def lmRefStratifiedSql: String =
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
       |ref AS (SELECT lang, text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 20),
       |rtoks AS (SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM ref),
       |rbg AS (SELECT lang, ts[i] AS w1, ts[i + 1] AS w2
       |        FROM rtoks JOIN nums ON i <= len(ts) - 1),
       |cbg AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c2
       |        FROM rbg GROUP BY 1, 2, 3),
       |cw AS (SELECT lang, w1, CAST(count(*) AS BIGINT) AS c1 FROM rbg GROUP BY 1, 2),
       |runi AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS cu
       |         FROM (SELECT lang, unnest(ts) AS t FROM rtoks) GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(cu) AS BIGINT) AS n,
       |               CAST(count(*) AS BIGINT) AS v FROM runi GROUP BY 1),
       |dtoks AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |          FROM documents),
       |dbg AS (SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
       |        FROM dtoks JOIN nums ON i <= len(ts) - 1),
       |scored AS (SELECT doc_id, dbg.lang AS lang,
       |  floor(avg(ln($LmRefLambda * coalesce(c2 * 1.0 / c1, 0)
       |    + ${1 - LmRefLambda} * (coalesce(cu, 0) + 1.0) / (n + v))) * 1e6 + 0.5) / 1e6
       |    AS lm_ref
       |  FROM dbg LEFT JOIN cbg ON cbg.lang = dbg.lang AND cbg.w1 = dbg.w1 AND cbg.w2 = dbg.w2
       |  LEFT JOIN cw ON cw.lang = dbg.lang AND cw.w1 = dbg.w1
       |  LEFT JOIN runi ON runi.lang = dbg.lang AND runi.t = dbg.w2
       |  JOIN tot ON tot.lang = dbg.lang
       |  GROUP BY 1, 2),
       |thr AS (SELECT lang, quantile_cont(lm_ref, 0.1) AS th
       |        FROM scored GROUP BY 1)
       |SELECT doc_id, lang, lm_ref FROM scored JOIN thr USING (lang)
       |WHERE lm_ref >= th""".stripMargin

  /** Word-3-gram shingle CTE chain over `src` (doc_id, text) — emits
    * `<p>toks`, `<p>pos`, `<p>sh0` (the distinct (doc_id, shingle) set).
    * Callers define `nums AS (SELECT generate_series AS i FROM
    * generate_series(1, 65536))` once. Shared by the Jaccard family and
    * the decontamination oracle so the shingling rule (including the
    * short-doc whole-text fallback) lives in one place. */
  private def shingleCtesSql(src: String, p: String = ""): String =
    s"""${p}toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM $src),
       |${p}pos AS (SELECT doc_id, t, i FROM ${p}toks JOIN nums ON i <= greatest(len(t) - 2, 1)),
       |${p}sh0 AS (SELECT DISTINCT doc_id,
       |  CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |       ELSE array_to_string(t, ' ') END AS shingle FROM ${p}pos)""".stripMargin

  /** Exact set-overlap oracle skeleton shared by the Jaccard and
    * containment statements — `scoreExpr` ranges over `ni` (intersection),
    * `x.n_sh` / `y.n_sh` (set sizes of id_a / id_b). */
  private def overlapSql(scoreExpr: String, alias: String, minScore: Double,
      maxDf: Option[Long], src: String): String = {
    val shingleSrc = maxDf match {
      case Some(cap) =>
        s"""(SELECT doc_id, shingle FROM (
           |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh0)
           | WHERE df <= $cap)""".stripMargin
      case None => "sh0"
    }
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
       |${shingleCtesSql(src)},
       |sh AS (SELECT doc_id, shingle FROM $shingleSrc),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, $alias FROM (
       |  SELECT id_a, id_b, $scoreExpr AS $alias
       |  FROM inter JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id)
       |WHERE $alias >= $minScore""".stripMargin
  }

  private def jaccardSql(minJaccard: Double, maxDf: Option[Long] = None,
      src: String = "documents"): String =
    overlapSql(Quantize.sql6("ni * 1.0 / (x.n_sh + y.n_sh - ni)"), "jaccard",
      minJaccard, maxDf, src)

  private val oracleJaccardSql = jaccardSql(0.5)

  /** Winnowing selection (k=5, g=4), the explicit per-window form:
    * explode window starts via the nums join, rank rightmost-min per
    * window, distinct the elected positions — same md5-prefix hashes as
    * `Dedup.winnowFingerprints`, so the selected positions must agree
    * exactly with Spark's sliding-frame form. Shared by
    * `fingerprint_winnow` and `dedup_winnow_pairs`. */
  /** The winnow-selection statement over an arbitrary (doc_id, text)
    * source — shared by the fingerprint/pair/decontamination oracles.
    * Self-contained (own WITH), so instances nest as independent CTE
    * bodies inside a larger statement. */
  private def winnowSelectSqlFrom(src: String) =
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM $src),
      |grams AS (SELECT doc_id, i AS pos,
      |  ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 8))::BIGINT AS h
      |  FROM toks JOIN nums ON i <= len(t) - 4),
      |m AS (SELECT doc_id, max(pos) AS mp FROM grams GROUP BY doc_id),
      |starts AS (SELECT g.doc_id, n.i AS s FROM m g JOIN nums n ON n.i <= g.mp - 3),
      |win AS (SELECT s.doc_id, s.s, g.pos, g.h,
      |  row_number() OVER (PARTITION BY s.doc_id, s.s
      |    ORDER BY g.h ASC, g.pos DESC) AS rk
      |  FROM starts s JOIN grams g
      |    ON g.doc_id = s.doc_id AND g.pos BETWEEN s.s AND s.s + 3)
      |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, h AS fp
      |FROM win WHERE rk = 1""".stripMargin

  private val winnowSelectSql = winnowSelectSqlFrom("documents")

  /** ExactSubstr cut, md5-keyed (`dedup_substr_bridge` / `_inc`): rk = 1
    * within a window hash IS the min-(doc_id, pos) keeper the Spark side
    * elects; coverage expands each cut start into its 20 token
    * positions, survivors re-join. The empty-doc coalesce matches
    * ShingleHash.cutSpans' all-cut output ''. `restrict` narrows the OUTPUT only
    * (the cut verdict always ranks over the whole corpus) — the fused ≡
    * incremental equivalence the operator proves. */
  private def substrCutSql(restrict: String) =
    s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |wins AS (SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+19], ' ')) AS h
      |  FROM toks JOIN nums ON i <= len(t) - 19),
      |occ AS (SELECT doc_id, pos, h,
      |    count(*) OVER (PARTITION BY h) AS c,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
      |  FROM wins),
      |cuts AS (SELECT doc_id, pos FROM occ WHERE c > 1 AND rk > 1),
      |cutpos AS (SELECT DISTINCT c.doc_id, c.pos + k.i - 1 AS j
      |  FROM cuts c JOIN nums k ON k.i <= 20),
      |tokpos AS (SELECT doc_id, n.i AS j, t[n.i] AS tok
      |  FROM toks JOIN nums n ON n.i <= len(t)),
      |rebuilt AS (SELECT tp.doc_id,
      |    coalesce(string_agg(tp.tok, ' ' ORDER BY tp.j)
      |      FILTER (WHERE cp.j IS NULL), '') AS text
      |  FROM tokpos tp LEFT JOIN cutpos cp
      |    ON cp.doc_id = tp.doc_id AND cp.j = tp.j
      |  GROUP BY tp.doc_id)
      |SELECT doc_id, text FROM rebuilt $restrict""".stripMargin

  private val joinOn = keys.map(k => s"""inc."$k" = ex."$k"""").mkString(" AND ")
  private val clsJoinOn = keys.map(k => s"""cls."$k" = ex."$k"""").mkString(" AND ")
  private val classifySql =
    s"""WITH inc AS ($incSql), ex AS (SELECT * FROM $storeRp)
       |SELECT inc.*,
       | CASE WHEN ex.uuid IS NULL THEN 'create'
       |      WHEN inc.value IS NOT DISTINCT FROM ex.value THEN 'unchanged'
       |      ELSE 'replace' END AS action,
       | ex.uuid AS uuid
       |FROM inc LEFT JOIN ex ON $joinOn""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "scan_csv" ->
      s"SELECT * FROM read_csv('${Fixtures.F1Csv}', header = true, all_varchar = true)",
    "filter_nodata" ->
      s"""SELECT * FROM ($unpivotAllSql) WHERE value IS NOT NULL AND value <> 'NA'""",
    "cast_numeric" ->
      s"""SELECT station_id, "date", CAST(value AS DOUBLE) AS value
         |FROM ($unpivotAllSql) WHERE value IS NOT NULL AND value <> 'NA'""".stripMargin,
    "enrich_static" ->
      s"""SELECT station_id, "date", value, 'min' AS aggregation,
         | 'temperature' AS datatype, 'raw' AS fill, 'day' AS period
         |FROM (
         |  SELECT SKN AS station_id, '2022-03-01' AS "date", "X2022.03.01" AS value FROM $wideRp
         |  UNION ALL SELECT SKN, '2022-03-02', "X2022.03.02" FROM $wideRp)""".stripMargin,
    "enrich_json_props" ->
      s"""SELECT station_id, "date", value, 'min' AS aggregation,
         | '{"model":"x1","channels":[1,2]}' AS sensor,
         | 'temperature' AS datatype, 'raw' AS fill, 'day' AS period
         |FROM (
         |  SELECT SKN AS station_id, '2022-03-01' AS "date", "X2022.03.01" AS value FROM $wideRp
         |  UNION ALL SELECT SKN, '2022-03-02', "X2022.03.02" FROM $wideRp)""".stripMargin,
    "date_range_filter" ->
      s"""SELECT * FROM ($unpivotAllSql)
         |WHERE "date" >= '2022-03-02' AND "date" <= '2022-03-03'""".stripMargin,
    "date_parse" ->
      s"""SELECT station_id, "date", CAST("date" AS DATE) AS parsed,
         | strftime(CAST("date" AS DATE), '%Y-%m') AS month_value
         |FROM ($unpivotAllSql) WHERE value IS NOT NULL AND value <> 'NA'""".stripMargin,
    "sparse_strip" ->
      (s"""SELECT CASE WHEN SKN = 'NA' THEN NULL ELSE SKN END AS skn, CAST(""" +
        WideMatrix.MetadataColTranslations.drop(1).map { case (orig, _) =>
          s"""CASE WHEN "$orig" IS NULL OR "$orig" = 'NA' THEN 0 ELSE 1 END"""
        }.mkString(" + ") +
        s""" AS BIGINT) AS n_present FROM $wideRp"""),
    "station_metadata" ->
      (WideMatrix.MetadataColTranslations.map { case (orig, canon) =>
        s"""CASE WHEN "$orig" = 'NA' THEN NULL ELSE "$orig" END AS $canon"""
      }.mkString("SELECT ", ", ", "") +
        s", 'skn' AS id_field, 'hawaii_climate_primary' AS station_group FROM $wideRp"),
    "station_values" -> incSql,
    "station_values_month" ->
      s"""SELECT station_id, "date", CAST(value AS DOUBLE) AS value,
         | 'rainfall' AS datatype, 'partial' AS fill, 'month' AS period
         |FROM (
         |  SELECT SKN AS station_id, '2021-11' AS "date", "X2021.11" AS value FROM $wide2Rp
         |  UNION ALL SELECT SKN, '2021-12', "X2021.12" FROM $wide2Rp
         |  UNION ALL SELECT SKN, '2022-01', "X2022.01" FROM $wide2Rp
         |) u WHERE value IS NOT NULL AND value <> 'NA'""".stripMargin,
    "upsert_classify" -> classifySql,
    "upsert_creates" ->
      s"""WITH inc AS ($incSql), ex AS (SELECT * FROM $storeRp)
         |SELECT inc.* FROM inc WHERE NOT EXISTS (SELECT 1 FROM ex WHERE $joinOn)""".stripMargin,
    "upsert_replaces" ->
      s"""SELECT * FROM ($classifySql) WHERE action = 'replace'""",
    "upsert_stats" ->
      s"""SELECT action, count(*) AS n FROM ($classifySql) GROUP BY action""",
    "upsert_merge" ->
      s"""WITH inc AS ($incSql), ex AS (SELECT * FROM $storeRp),
         |cls AS (SELECT inc.*, ex.uuid AS ex_uuid,
         |  CASE WHEN ex.uuid IS NULL THEN 'create'
         |       WHEN inc.value IS NOT DISTINCT FROM ex.value THEN 'unchanged'
         |       ELSE 'replace' END AS action
         |  FROM inc LEFT JOIN ex ON $joinOn)
         |SELECT ex.* FROM ex WHERE NOT EXISTS (
         |  SELECT 1 FROM cls WHERE cls.action = 'replace' AND $clsJoinOn)
         |UNION ALL
         |SELECT datatype, period, fill, station_id, "date", value, aggregation, ex_uuid AS uuid
         |FROM cls WHERE action = 'replace'
         |UNION ALL
         |SELECT datatype, period, fill, station_id, "date", value, aggregation,
         |  md5(concat_ws(chr(1),
         |    coalesce(datatype, chr(2)), coalesce(period, chr(2)),
         |    coalesce("date", chr(2)), coalesce(fill, chr(2)),
         |    coalesce(station_id, chr(2)), coalesce(aggregation, chr(2)))) AS uuid
         |FROM cls WHERE action = 'create'""".stripMargin,
    "unique_key_check" ->
      s"""SELECT datatype, period, "date", fill, station_id, aggregation, count(*) AS n
         |FROM $storeDupRp
         |GROUP BY 1, 2, 3, 4, 5, 6 HAVING count(*) > 1""".stripMargin,
    "point_lookup" -> s"SELECT * FROM $storeRp WHERE uuid = 'u-0002'",
    "query_filter" ->
      s"SELECT * FROM $storeRp WHERE datatype = 'temperature' AND station_id = '39.2'",
    "query_filter_nested" ->
      s"""SELECT uuid, datatype, period, fill, station_id, "date", value, aggregation
         |FROM $storeRp WHERE datatype = 'temperature' AND station_id = '39.2'""".stripMargin,
    "paginate" -> "SELECT * FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 300",
    "paginate_after" ->
      "SELECT * FROM orders WHERE o_orderkey > 300 ORDER BY o_orderkey LIMIT 100",
    "salted_sum" ->
      """SELECT l_returnflag, floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
        | floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
        | floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
        | floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
        | floor((avg(l_discount)) * 1e6 + 0.5) / 1e6 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name, floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem, supplier, nation, region
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin,
    "anti_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "semi_customers" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "except_parts" ->
      "SELECT p_partkey FROM part EXCEPT SELECT l_partkey FROM lineitem",
    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "station_pivot" ->
      s"""SELECT station_id,
         | max(CASE WHEN "date" = '2022-03-01' THEN value END) AS "2022-03-01",
         | max(CASE WHEN "date" = '2022-03-02' THEN value END) AS "2022-03-02"
         |FROM ($incSql) GROUP BY station_id""".stripMargin,
    "window_top_parts" ->
      """SELECT * FROM (
        | SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3""".stripMargin,
    "top_parts_heap" ->
      // identical statement to window_top_parts: the heap aggregate must
      // reproduce the window's answer bit-for-bit
      """SELECT * FROM (
        | SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3""".stripMargin,
    "events_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        | floor((sum(value)) * 1e4 + 0.5) / 1e4 AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_resample" ->
      """WITH b AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 3600 SECOND)) AS ts
        |      FROM b),
        |u AS (SELECT user_id, ts, value AS v, 0 AS side, event_id AS id FROM events
        |      UNION ALL SELECT user_id, ts, NULL, 1, NULL FROM g),
        |f AS (SELECT user_id, ts, side,
        |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY ts, side, coalesce(id, -1)
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |      FROM u)
        |SELECT user_id, ts, value FROM f WHERE side = 1""".stripMargin,
    "events_resample_interp" ->
      s"""WITH b AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 3600 SECOND)) AS ts
         |      FROM b),
         |u AS (SELECT user_id, ts, value AS v, 0 AS side, event_id AS id, ts AS ots
         |      FROM events
         |      UNION ALL SELECT user_id, ts, NULL, 1, NULL, NULL FROM g),
         |f AS (SELECT user_id, ts, side,
         |        last_value(v IGNORE NULLS) OVER wp AS pv,
         |        last_value(ots IGNORE NULLS) OVER wp AS pt,
         |        first_value(v IGNORE NULLS) OVER wn AS nv,
         |        first_value(ots IGNORE NULLS) OVER wn AS nt
         |      FROM u
         |      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, side, coalesce(id, -1)
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wn AS (PARTITION BY user_id ORDER BY ts, side, coalesce(id, -1)
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, ts,
         | CASE WHEN nt IS NULL THEN pv
         |      ELSE ${Quantize.sql6("pv + ((nv - pv) * " +
             "(date_diff('microsecond', pt, ts)::DOUBLE)) / " +
             "(date_diff('microsecond', pt, nt)::DOUBLE)")}
         | END AS value
         |FROM f WHERE side = 1""".stripMargin,
    "events_ohlc" ->
      """SELECT user_id,
        | make_timestamp(year(ts), month(ts), day(ts), hour(ts), 0, 0) AS bucket,
        | min(struct_pack(t := ts, e := event_id, v := value)).v AS open,
        | max(struct_pack(t := ts, e := event_id, v := value)).v AS close,
        | min(value) AS low, max(value) AS high, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_paragraphs" -> paraDedupSql(),
    "dedup_paragraphs_inc" ->
      // incremental ≡ full dedup restricted to increment ids (corpus docs
      // always win their first-occurrence races) — so the oracle IS the
      // full statement plus the restriction
      paraDedupSql("HAVING doc_id >= 5"),
    "text_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "corpus_diff" -> {
      val hb = hashBucketSql("doc_id", 100, Corpus.SampleSalt)
      val fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
      s"""WITH prev AS (SELECT doc_id, $fp AS fa, TRUE AS pa FROM documents WHERE $hb < 90),
         |cur0 AS (SELECT doc_id,
         |  CASE WHEN $hb < 20 THEN text || ' mutated' ELSE text END AS text
         |  FROM documents WHERE $hb >= 5),
         |cur AS (SELECT doc_id, $fp AS fb, TRUE AS pb FROM cur0)
         |SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
         | CASE WHEN pa IS NULL THEN 'added'
         |      WHEN pb IS NULL THEN 'removed'
         |      WHEN fa IS NOT DISTINCT FROM fb THEN 'unchanged'
         |      ELSE 'changed' END AS status
         |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id""".stripMargin
    },
    "text_tokens_bpe" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |   AS n_pretokens
        |FROM documents""".stripMargin,
    "value_quantiles" ->
      """SELECT l_returnflag,
        | floor((quantile_cont(l_extendedprice, 0.5)) * 1e4 + 0.5) / 1e4 AS p50,
        | floor((quantile_cont(l_extendedprice, 0.95)) * 1e4 + 0.5) / 1e4 AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "mix_weights" -> {
      // identical IEEE-double arithmetic, stated once: w·B/total in the
      // same operation order, decimal literals cast to DOUBLE (DuckDB
      // parses bare 0.5 as DECIMAL), floor at 1e-6 rate granularity
      val srcs = MixWeights.keys.toSeq.sorted.map(s => s"'$s'").mkString(", ")
      val wCase = MixWeights.toSeq.sortBy(_._1).map { case (s, w) =>
        s"WHEN '$s' THEN CAST($w AS DOUBLE)"
      }.mkString(" ")
      s"""WITH tot AS (SELECT source, sum(n_chars) AS t FROM documents
         |  WHERE source IN ($srcs) GROUP BY source),
         |thr AS (SELECT source,
         |  CAST(floor(least(CAST(1.0 AS DOUBLE),
         |    (CASE source $wCase END) * CAST($MixBudget AS DOUBLE) / t)
         |    * 1000000) AS BIGINT) AS th
         |  FROM tot)
         |SELECT d.doc_id, d.source, d.lang FROM documents d
         |JOIN thr ON d.source = thr.source
         |WHERE ${hashBucketSql("d.doc_id", 1000000, Corpus.SampleSalt)} < thr.th""".stripMargin
    },
    "mix_repeat" -> {
      // same IEEE-double discipline as mix_weights: r = w·B/total in one
      // operation order, whole = floor(r), fractional remainder gated at
      // 1e-6 granularity; the copies come from a generate_series join
      // (the oracle's stand-in for Spark's explode(sequence))
      val srcs = RepeatWeights.keys.toSeq.sorted.map(s => s"'$s'").mkString(", ")
      val wCase = RepeatWeights.toSeq.sortBy(_._1).map { case (s, w) =>
        s"WHEN '$s' THEN CAST($w AS DOUBLE)"
      }.mkString(" ")
      s"""WITH tot AS (SELECT source, sum(n_chars) AS t FROM documents
         |  WHERE source IN ($srcs) GROUP BY source),
         |rate AS (SELECT source,
         |  CASE WHEN t IS NULL OR t <= 0 THEN CAST(1.0 AS DOUBLE)
         |    ELSE (CASE source $wCase END) * CAST($RepeatBudget AS DOUBLE) / t
         |  END AS r
         |  FROM tot),
         |thr AS (SELECT source, CAST(floor(r) AS BIGINT) AS whole,
         |  CAST(floor((r - floor(r)) * 1000000) AS BIGINT) AS fth FROM rate),
         |nc AS (SELECT d.doc_id, d.source,
         |  whole + CASE WHEN ${hashBucketSql("d.doc_id", 1000000, Corpus.SampleSalt)} < fth
         |    THEN 1 ELSE 0 END AS n
         |  FROM documents d JOIN thr ON d.source = thr.source),
         |nums AS (SELECT generate_series AS i FROM generate_series(0, 1023))
         |SELECT doc_id, source, i AS copy_idx FROM nc JOIN nums ON i < n""".stripMargin
    },
    "corpus_report" ->
      // CAST the sums: DuckDB types sum(BIGINT) as HUGEINT and serializes
      // it over Arrow as decimal128(38,0) while Spark emits int64 —
      // identical printed values, different typed bytes (the media_stats
      // precedent applies; this was the r6/r7 hash-red root cause)
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
        |   AS total_tokens,
        | min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents GROUP BY source, lang""".stripMargin,
    "text_rep_lines" ->
      s"""WITH p0 AS (SELECT doc_id, text
         |  FROM read_parquet('${Fixtures.ParaParquet}/*.parquet')),
         |nums AS (SELECT generate_series AS i FROM generate_series(1, 64)),
         |sp AS (SELECT doc_id, string_split(text, e'\\n\\n') AS parts FROM p0),
         |paras AS (
         | SELECT doc_id, trim(parts[i]) AS para
         | FROM sp, nums WHERE i <= len(parts) AND len(trim(parts[i])) > 0),
         |c AS (SELECT doc_id, para, count(*) AS cnt, length(para) AS chars
         |      FROM paras GROUP BY doc_id, para)
         |SELECT doc_id,
         | floor((1 - count(*) * 1.0 / sum(cnt)) * 1e6 + 0.5) / 1e6 AS dup_line_ratio,
         | floor((sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) * 1.0 /
         |   sum(cnt * chars)) * 1e6 + 0.5) / 1e6 AS dup_char_ratio
         |FROM c GROUP BY doc_id""".stripMargin,
    "text_rep_ngram" ->
      // non-distinct shingle stream (the sh0 CTE dedups, so restate the
      // CASE over pos) → 1 − distinct/total per doc
      """WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
        |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, i FROM toks JOIN nums ON i <= greatest(len(t) - 2, 1)),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |       ELSE array_to_string(t, ' ') END AS g FROM pos)
        |SELECT doc_id, floor((1 - count(DISTINCT g) * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS dup_ngram_ratio
        |FROM g GROUP BY doc_id""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id,
        | floor((len(list_distinct(string_split(lower(text), ' '))) * 1.0 /
        |   greatest(len(string_split(lower(text), ' ')), 1)) * 1e6 + 0.5) / 1e6 AS distinct_ratio
        |FROM documents""".stripMargin,
    "vocab_top100" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "token_df" ->
      """SELECT token, count(*) AS df FROM (
        | SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
        | FROM documents)
        |GROUP BY token HAVING count(*) >= 10""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        | floor((len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 /
        |   greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 AS punct_ratio,
        | floor((len(regexp_extract_all(text, '[0-9]')) * 1.0 /
        |   greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 AS digit_ratio,
        | floor((len(regexp_extract_all(lower(text), '[a-z0-9]')) * 1.0 /
        |   greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)) * 1e6 + 0.5) / 1e6 AS mean_token_len
        |FROM documents""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang, $langCaseSql AS pred_lang
         |FROM (SELECT doc_id, lang, text, $langHitsSql FROM documents)""".stripMargin,
    "dedup_ngram_jaccard" -> oracleJaccardSql,
    "dedup_jaccard_capped" -> jaccardSql(0.35, maxDf = Some(20L)),
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($oracleJaccardSql),
         |$ccCtesSql
         |SELECT CAST(id AS BIGINT) AS id, CAST(cluster AS BIGINT) AS cluster
         |FROM labels""".stripMargin,
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE pairs AS ($oracleJaccardSql),
         |$ccCtesSql,
         |sizes AS (SELECT cluster, count(*) AS n FROM labels GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(coalesce(l.cluster, d.doc_id) AS BIGINT) AS cluster,
         | CAST(coalesce(s.n, 1) AS BIGINT) AS n_members,
         | greatest(${Quantize.sql6("1.0 / coalesce(s.n, 1)")}, 1e-6) AS weight
         |FROM documents d
         |LEFT JOIN labels l ON l.id = d.doc_id
         |LEFT JOIN sizes s ON s.cluster = l.cluster""".stripMargin,
    "dedup_soft_sample" ->
      s"""WITH RECURSIVE pairs AS ($oracleJaccardSql),
         |$ccCtesSql,
         |sizes AS (SELECT cluster, count(*) AS n FROM labels GROUP BY 1),
         |sw AS (SELECT d.doc_id,
         |  greatest(${Quantize.sql6("1.0 / coalesce(s.n, 1)")}, 1e-6) AS weight
         |  FROM documents d
         |  LEFT JOIN labels l ON l.id = d.doc_id
         |  LEFT JOIN sizes s ON s.cluster = l.cluster)
         |SELECT doc_id, CAST(weight AS DOUBLE) AS w,
         | floor((ln((h + 0.5) / 4294967296.0) / weight) * 1e6 + 0.5) / 1e6 AS ares_key
         |FROM (SELECT doc_id, weight,
         |        ${hashValueSql("doc_id", Selection.WeightSalt)} AS h
         |      FROM sw WHERE weight > 0)
         |ORDER BY ares_key DESC, doc_id LIMIT 100""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE pairs AS ($oracleJaccardSql),
         |$ccCtesSql
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)""".stripMargin,
    "dedup_best_survivors" ->
      s"""WITH RECURSIVE pairs AS ($oracleJaccardSql),
         |$ccCtesSql,
         |ranked AS (
         | SELECT l.id AS doc_id,
         |  row_number() OVER (PARTITION BY l.cluster
         |    ORDER BY d.n_chars DESC, l.id) AS rn
         | FROM labels l JOIN documents d ON l.id = d.doc_id)
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)""".stripMargin,
    "sim_topk" -> simTopkSql,
    // the full-probe paths provably degrade to exact brute force, so the
    // same SQL hash-verifies the IVF / LSH / MRL machinery end-to-end
    "sim_topk_ivf_full" -> simTopkSql,
    "sim_topk_lsh_full" -> simTopkSql,
    "sim_topk_mrl_full" -> simTopkSql,
    "sim_topk_mrl_ivf_full" -> simTopkSql,
    "sim_topk_mrl_pre_full" -> simTopkSql,
    // a corpus-spanning ADC shortlist + exact rerank IS brute force — the
    // shared oracle hash-verifies the PQ path end-to-end
    "sim_topk_pq_full" -> simTopkSql,
    "salted_join" ->
      """SELECT s_name, floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,
    "sim_topk_join" -> simTopkJoinSql,
    // a corpus-spanning MRL shortlist exactly reranked IS the brute-force
    // batch join — the shared oracle hash-verifies the MRL join path
    // (raw, and composed through the persisted IVF index)
    "sim_topk_join_mrl_full" -> simTopkJoinSql,
    "sim_topk_join_mrl_ivf_full" -> simTopkJoinSql,
    "sim_topk_join_mrl_pre_full" -> simTopkJoinSql,
    // probing every IVF cell IS the brute-force batch join — same oracle
    // hash-verifies the IVF join machinery (train, assign, probe, rescore)
    "sim_topk_join_ivf_full" -> simTopkJoinSql,
    // a corpus-spanning ADC shortlist reranked exactly IS the brute-force
    // batch join — same oracle hash-verifies the PQ batch machinery
    "sim_topk_join_pq_full" -> simTopkJoinSql,
    "sim_topk_join_ivfpq_full" -> simTopkJoinSql,
    "sim_neardup" -> simNearDupSql,
    "sim_dedup_survivors" ->
      // semantic dedup = CC over the cosine near-dup graph (same shared
      // CTE as dedup_survivors: text and embedding modalities share the
      // survivor rule, min id per cluster lives)
      s"""WITH RECURSIVE pairs AS ($simNearDupSql),
         |$ccCtesSql
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id < 500
         |  AND vec_id NOT IN (SELECT id FROM labels WHERE id <> cluster)""".stripMargin,
    "media_stats" ->
      s"""SELECT kind, count(*) AS n,
         | CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         | floor((avg(width)) * 1e4 + 0.5) / 1e4 AS avg_w, floor((avg(height)) * 1e4 + 0.5) / 1e4 AS avg_h
         |FROM read_parquet('${Fixtures.MediaParquet}/*.parquet') GROUP BY kind""".stripMargin,
    // md5-prefix hash bucket — the SQL twin of Corpus.hashBucket (hex prefix
    // of md5(id) mod N); interpolated so both engines share one definition
    "split_assign" ->
      s"""SELECT doc_id, bucket,
         | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${hashBucketSql("doc_id", 100)} AS bucket
         |      FROM documents)""".stripMargin,
    "shard_assign" ->
      s"""SELECT doc_id,
         | ${hashBucketSql("doc_id", 16, Corpus.ShardSalt)} AS shard,
         | md5(CAST(doc_id AS VARCHAR) || '${Corpus.ShardSalt}') AS sort_key
         |FROM documents""".stripMargin,
    "sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${hashBucketSql("doc_id", 100, Corpus.SampleSalt)} < 10""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${hashBucketSql("doc_id", 100, Corpus.SampleSalt)} <
         |  CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 60 ELSE 90 END""".stripMargin,
    "cap_per_source" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${hashValueSql("doc_id", Corpus.CapSalt)}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 10""".stripMargin,
    "dedup_verbatim" ->
      // windows join on the raw window STRING here (xxhash64 has no DuckDB
      // twin); counts/positions agree as long as the 8-byte keys don't
      // collide — the same contract the Jaccard-family oracles rely on
      """WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
        |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |wins AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS w
        |  FROM toks JOIN nums ON i <= len(t) - 7),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        |  FROM wins a JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id),
        |g AS (SELECT id_a, id_b, pa - pb AS diag, pa, pb,
        |  pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
        |  FROM m)
        |SELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start,
        | CAST(min(pb) AS BIGINT) AS b_start,
        | CAST(max(pa) - min(pa) + 8 AS BIGINT) AS n_tokens
        |FROM g GROUP BY id_a, id_b, diag, grp""".stripMargin,
    "dedup_substr_bridge" -> substrCutSql(""),
    "dedup_substr_inc" ->
      // incremental ≡ fused cut restricted to batch ids (registry
      // windows always outrank batch windows — the operator's proven
      // equivalence), so the oracle IS the fused statement + WHERE
      substrCutSql("WHERE doc_id >= 250"),
    "fingerprint_winnow" -> winnowSelectSql,
    "decontaminate_winnow" ->
      s"""WITH csel AS ($winnowSelectSql),
         |esel AS (${winnowSelectSqlFrom(
        s"(SELECT doc_id, text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 5)")}),
         |cf AS (SELECT DISTINCT doc_id, fp FROM csel),
         |ef AS (SELECT DISTINCT fp FROM esel),
         |hits AS (SELECT doc_id, count(*) AS n FROM cf JOIN ef USING (fp) GROUP BY 1)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n >= 2)""".stripMargin,
    "decontaminate_winnow_attrib" ->
      s"""WITH csel AS ($winnowSelectSql),
         |esel AS (${winnowSelectSqlFrom(
        s"(SELECT doc_id, text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 5)")}),
         |cf AS (SELECT DISTINCT doc_id, fp FROM csel),
         |ef AS (SELECT DISTINCT doc_id AS eval_id, fp FROM esel)
         |SELECT cf.doc_id, ef.eval_id, count(*) AS n_shared
         |FROM cf JOIN ef ON cf.fp = ef.fp
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH sel AS ($winnowSelectSql),
         |d AS (SELECT DISTINCT doc_id, fp FROM sel)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "split_leakage" ->
      s"""WITH pairs AS ($oracleJaccardSql),
         |lab AS (SELECT id_a, id_b, jaccard,
         |  CASE WHEN ${hashBucketSql("id_a", 100)} < 80 THEN 'train'
         |       WHEN ${hashBucketSql("id_a", 100)} < 90 THEN 'val'
         |       ELSE 'test' END AS split_a,
         |  CASE WHEN ${hashBucketSql("id_b", 100)} < 80 THEN 'train'
         |       WHEN ${hashBucketSql("id_b", 100)} < 90 THEN 'val'
         |       ELSE 'test' END AS split_b
         |  FROM pairs)
         |SELECT * FROM lab WHERE split_a <> split_b""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents) GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        | SELECT doc_id, term, tf, floor((tf * ln(n_docs * 1.0 / df)) * 1e6 + 0.5) / 1e6 AS tfidf
        | FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM scored)
        |SELECT doc_id, term, tf, tfidf, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "text_tfidf_openvocab" ->
      // the open-vocab shuffle-join form computes the same relation —
      // one oracle statement hash-verifies both plans agree
      """WITH tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents) GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        | SELECT doc_id, term, tf, floor((tf * ln(n_docs * 1.0 / df)) * 1e6 + 0.5) / 1e6 AS tfidf
        | FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM scored)
        |SELECT doc_id, term, tf, tfidf, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "text_entropy" ->
      """WITH tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents) GROUP BY doc_id, term)
        |SELECT doc_id,
        | floor((ln(CAST(sum(c) AS BIGINT)) - sum(c * ln(c)) / CAST(sum(c) AS BIGINT)) * 1e6 + 0.5) / 1e6
        |   AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin,
    "dedup_containment" ->
      overlapSql(Quantize.sql6("ni * 1.0 / least(x.n_sh, y.n_sh)"), "containment",
        0.6, None, "documents"),
    "text_logprob" -> logprobSql,
    "text_logprob_openvocab" -> logprobSql,
    "text_logprob2" ->
      """WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
        |toks AS (
        | SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        | FROM documents),
        |bg AS (
        | SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        | FROM toks JOIN nums ON i <= len(ts) - 1),
        |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |cw AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, floor((avg(ln(c2 * 1.0 / c1))) * 1e6 + 0.5) / 1e6 AS logprob2
        |FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1)
        |GROUP BY doc_id""".stripMargin,
    "quality_quantile_gate" ->
      s"""WITH lp AS ($logprobSql),
         |thr AS (SELECT quantile_cont(logprob, 0.1) AS t FROM lp)
         |SELECT doc_id, logprob FROM lp, thr WHERE logprob >= t""".stripMargin,
    "quality_lm_ref" -> lmRefSql(),
    "quality_lm_ref_inc" -> lmRefSql(),
    "quality_lm_ref_pruned" -> lmRefSql("HAVING count(*) >= 2"),
    "quality_lm_ref_stratified" -> lmRefStratifiedSql,
    "quality_gate_stratified" ->
      s"""WITH lp AS ($logprobSql),
         |ls AS (SELECT lp.doc_id, lp.logprob, d.source
         |  FROM lp JOIN documents d USING (doc_id)),
         |thr AS (SELECT source, quantile_cont(logprob, 0.1) AS t
         |  FROM ls GROUP BY source)
         |SELECT doc_id, source, logprob FROM ls JOIN thr USING (source)
         |WHERE logprob >= t""".stripMargin,
    "pack_sequences" ->
      s"""WITH d AS (
         | SELECT doc_id, ${hashBucketSql("doc_id", 8)} AS grp,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         | FROM documents),
         |r AS (
         | SELECT doc_id, grp, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
         | FROM d)
         |SELECT doc_id, grp, (greatest(running, 1) - 1) // 512 AS bin,
         | n_tokens, running FROM r""".stripMargin,
    "pack_sequences_inc" ->
      // the FUSED statement restricted to the increment: state-offset
      // packing must land every increment doc in exactly the bin the
      // whole-corpus packing gives it
      s"""WITH d AS (
         | SELECT doc_id, ${hashBucketSql("doc_id", 8)} AS grp,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         | FROM documents),
         |r AS (
         | SELECT doc_id, grp, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
         | FROM d)
         |SELECT doc_id, grp, (greatest(running, 1) - 1) // 512 AS bin,
         | n_tokens, running FROM r WHERE doc_id >= 200""".stripMargin,
    "chunk_docs" ->
      (chunkDocsSql + "\nSELECT doc_id, chunk, chunk_id, chunk_text, n_tokens FROM ch"),
    "chunk_docs_cost" ->
      (chunkDocsSql + "\nSELECT doc_id, chunk, chunk_id, chunk_text, n_tokens FROM ch"),
    "chunk_docs_sentences" ->
      // the sentence grammar's two alternation branches are mutually
      // exclusive at any position, so RE2 (here) and java.util.regex
      // (Spark) produce identical matches — see chunkDocsSentences
      s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
         |docs_u AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text
         |  FROM read_parquet('${Fixtures.SentenceParquet}/*.parquet')),
         |sen0 AS (SELECT doc_id, list_transform(
         |   regexp_extract_all(lower(coalesce(text, '')),
         |     '[^.!?]*[.!?]+|[^.!?]+${"$"}'),
         |   x -> trim(x)) AS s0 FROM docs_u),
         |sen1 AS (SELECT doc_id, list_filter(s0, x -> len(x) > 0) AS s1 FROM sen0),
         |sen AS (SELECT doc_id, CASE WHEN len(s1) = 0 THEN [''] ELSE s1 END AS s
         |        FROM sen1),
         |atoms AS (SELECT doc_id, i, s[i] AS x,
         |   CAST(len(string_split(s[i], ' ')) AS BIGINT) AS c
         |  FROM sen JOIN nums ON i <= len(s)),
         |r AS (SELECT doc_id, i, x, c,
         |   CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY i
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
         |  FROM atoms)
         |SELECT doc_id, (greatest(running, 1) - 1) // 64 AS chunk,
         | printf('%s#%09d', CAST(doc_id AS VARCHAR), (greatest(running, 1) - 1) // 64) AS chunk_id,
         | string_agg(x, ' ' ORDER BY i) AS chunk_text,
         | CAST(sum(c) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "pack_chunks" ->
      s"""${chunkDocsSql},
         |d AS (SELECT chunk_id, ${hashBucketSql("chunk_id", 8)} AS grp, n_tokens FROM ch),
         |r AS (
         | SELECT chunk_id, grp, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY chunk_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
         | FROM d)
         |SELECT chunk_id, grp, (greatest(running, 1) - 1) // 64 AS bin,
         | n_tokens, running FROM r""".stripMargin,
    "pack_boundaries" ->
      s"""${chunkDocsSql},
         |d AS (SELECT chunk_id, ${hashBucketSql("chunk_id", 8)} AS grp, n_tokens FROM ch),
         |r AS (
         | SELECT chunk_id, grp, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY chunk_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
         | FROM d),
         |pk AS (SELECT chunk_id, grp, (greatest(running, 1) - 1) // 64 AS bin,
         |        n_tokens, running FROM r)
         |SELECT grp, bin, count(*) AS n_chunks,
         | CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         | string_agg(chunk_id || '@' || CAST(running - n_tokens - bin * 64 AS VARCHAR),
         |   ',' ORDER BY chunk_id || '@' ||
         |     CAST(running - n_tokens - bin * 64 AS VARCHAR)) AS manifest
         |FROM pk GROUP BY 1, 2""".stripMargin,
    "decontaminate" ->
      s"""WITH nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
         |${shingleCtesSql("documents", "c")},
         |${shingleCtesSql(
        s"(SELECT doc_id, text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 5)", "v")},
         |hits AS (
         | SELECT c.doc_id AS doc_id, v.doc_id AS eval_id, count(*) AS n_shared
         | FROM csh0 c JOIN vsh0 v ON c.shingle = v.shingle GROUP BY 1, 2)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM hits WHERE n_shared >= 5)""".stripMargin,
    "corpus_clean" -> {
      // the whole pipeline as ONE statement, assembled from the same
      // verified fragments the individual oracles use: quality + langid
      // gates, md5 exact-dup collapse, Jaccard pairs over the gated set
      // (nested WITH inside the CTE), recursive-CTE clusters, hash split
      s"""WITH RECURSIVE
         |${baseCleanCtes("doc_id, text")}
         |SELECT doc_id, bucket,
         | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${hashBucketSql("doc_id", 100)} AS bucket FROM e
         |      WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster))""".stripMargin
    },
    "corpus_clean_soft" ->
      // corpus_clean's base CTEs with the near-dup stage REWEIGHTING
      // instead of removing: every e-row survives; cluster sizes fold to
      // weight = greatest(1/n @ 6dp, 1e-6) — the same expression the
      // dedup_soft_weights oracle pins, composed through the gates
      s"""WITH RECURSIVE
         |${baseCleanCtes("doc_id, text")},
         |sizes AS (SELECT cluster, count(*) AS n FROM labels GROUP BY 1)
         |SELECT e.doc_id,
         | greatest(${Quantize.sql6("1.0 / coalesce(s.n, 1)")}, 1e-6) AS weight,
         | ${hashBucketSql("e.doc_id", 100)} AS bucket,
         | CASE WHEN ${hashBucketSql("e.doc_id", 100)} < 80 THEN 'train'
         |      WHEN ${hashBucketSql("e.doc_id", 100)} < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM e
         |LEFT JOIN labels l ON l.id = e.doc_id
         |LEFT JOIN sizes s ON s.cluster = l.cluster""".stripMargin,
    "corpus_clean_full" -> {
      // corpus_clean's shared base CTEs + the production stages in the
      // same ONE statement: decontamination (shared shingle CTEs vs the
      // 5% eval sample), PII redaction of the surviving text (shared
      // PiiPatterns chain), and stratified source rebalancing (shared
      // salted hash-bucket expr)
      val redacted = TextFunctions.PiiPatterns.foldLeft("text") {
        case (acc, (_, pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      val rateCase = "CASE WHEN source = 'src18' THEN 40 " +
        "WHEN source = 'src7' THEN 40 ELSE 90 END"
      s"""WITH RECURSIVE
         |${baseCleanCtes("doc_id, text, source")},
         |surv AS (SELECT doc_id, text, source FROM e
         |         WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)),
         |nums AS (SELECT generate_series AS i FROM generate_series(1, 65536)),
         |${shingleCtesSql("surv", "c")},
         |${shingleCtesSql(
        s"(SELECT doc_id, text FROM documents WHERE ${hashBucketSql("doc_id", 100)} < 5)", "v")},
         |hits AS (
         | SELECT c.doc_id AS doc_id, v.doc_id AS eval_id, count(*) AS n_shared
         | FROM csh0 c JOIN vsh0 v ON c.shingle = v.shingle GROUP BY 1, 2),
         |decon AS (SELECT doc_id, text, source FROM surv
         |  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM hits WHERE n_shared >= 5)),
         |bal AS (SELECT doc_id, $redacted AS text,
         |   ${hashBucketSql("doc_id", 100)} AS bucket FROM decon
         |  WHERE ${hashBucketSql("doc_id", 100, Corpus.SampleSalt)} < $rateCase)
         |SELECT doc_id, text, bucket,
         | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM bal""".stripMargin
    },
    "pii_redact" -> {
      // redaction chain + per-pattern counts generated from PiiPatterns —
      // one definition, two engines, no drift. Counts mirror piiCounts'
      // progressive semantics: pattern i is counted on the prefix with
      // patterns 0..i-1 already applied (what its replace stage sees).
      val prefixes = TextFunctions.PiiPatterns.scanLeft("text") {
        case (acc, (_, pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      val counts = TextFunctions.PiiPatterns.zip(prefixes).map {
        case ((name, pat, _), pre) =>
          s"CAST(len(regexp_extract_all($pre, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(",\n ")
      s"""SELECT pii_id, ${prefixes.last} AS redacted,
         | $counts
         |FROM read_parquet('${Fixtures.PiiParquet}/*.parquet')""".stripMargin
    },
    "text_normalize" -> {
      // fold + chain generated from FoldFrom/FoldTo/NormalizePatterns —
      // one definition, two engines (same discipline as pii_redact);
      // replacements holding literal newlines are legal in SQL literals
      def lit(s: String) = s.replace("'", "''")
      val fold = s"translate(text, '${lit(TextFunctions.FoldFrom)}', '${lit(TextFunctions.FoldTo)}')"
      val chain = TextFunctions.NormalizePatterns.foldLeft(fold) {
        case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '${lit(pat)}', '${lit(repl)}', 'g')"
      }
      s"""SELECT doc_id, $chain AS text
         |FROM read_parquet('${Fixtures.MessyParquet}/*.parquet')""".stripMargin
    },
    "text_strip_markup" -> {
      // chain generated from MarkupPatterns — one definition, two engines
      def lit(s: String) = s.replace("'", "''")
      val chain = TextFunctions.MarkupPatterns.foldLeft("text") {
        case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '${lit(pat)}', '${lit(repl)}', 'g')"
      }
      s"""SELECT doc_id, $chain AS text
         |FROM read_parquet('${Fixtures.MarkupParquet}/*.parquet')""".stripMargin
    },
    "events_asof" ->
      // DuckDB's native ASOF JOIN oracles the union+window Spark shape
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
        |          WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, floor((p.pval) * 1e4 + 0.5) / 1e4 AS pval
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "events_asof_sliced" ->
      // identical statement as events_asof: the (key, slice) windowing is
      // a plan-shape valve, not a semantics change — the shared oracle
      // hash-proves it on real data
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
        |          WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, floor((p.pval) * 1e4 + 0.5) / 1e4 AS pval
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "events_asof_fwd" ->
      // ASOF with the inequality flipped: nearest right row ABOVE
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
        |          WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, floor((p.pval) * 1e4 + 0.5) / 1e4 AS pval
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin,
    "events_asof_tol" ->
      // no native tolerance in DuckDB ASOF — the plain inequality-join
      // statement (quadratic per key, fine at oracle scale) proves the
      // windowed Spark shape
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
        |          WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |m AS (SELECT c.event_id, p.pval,
        |       row_number() OVER (PARTITION BY c.event_id ORDER BY p.ts DESC) AS rn
        |      FROM c JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
        |       AND p.ts >= c.ts - INTERVAL 1 HOUR)
        |SELECT c.event_id, c.user_id, c.ts, floor((m.pval) * 1e4 + 0.5) / 1e4 AS pval
        |FROM c LEFT JOIN m ON c.event_id = m.event_id AND m.rn = 1""".stripMargin,
    "events_props" ->
      """SELECT event_type, count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n,
        | floor((avg(CAST(json_extract(props, '$.k') AS BIGINT))) * 1e4 + 0.5) / 1e4 AS avg_k,
        | min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "events_range" ->
      // plain inequality join — hash parity proves the Spark-side
      // bucketing is lossless
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, p.purchase_id, c.user_id, c.ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |WHERE c.ts >= p.pts AND c.ts <= p.pts + INTERVAL '10 minutes'""".stripMargin,
    "events_sessionize" ->
      """WITH l AS (SELECT user_id, ts, value, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM events),
        |f AS (SELECT user_id, ts, value, event_id,
        |  CASE WHEN pts IS NOT NULL AND epoch(ts) - epoch(pts) > 1800 THEN 1 ELSE 0 END AS nw
        |  FROM l),
        |s AS (SELECT user_id, ts, value,
        |  sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | min(ts) AS session_start, max(ts) AS session_end,
        | count(*) AS n_events, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS total_value
        |FROM s GROUP BY user_id, session_idx""".stripMargin,
    // --- data selection ---
    "dsir_weights" ->
      s"""WITH $dsirSqlBody
         |SELECT doc_id, weight FROM w""".stripMargin,
    // the persisted-model path must round-trip to the SAME weights — one
    // oracle statement hash-verifies train/persist/score ≡ fused
    "dsir_weights_inc" ->
      s"""WITH $dsirSqlBody
         |SELECT doc_id, weight FROM w""".stripMargin,
    "dsir_sample" ->
      // selection on the QUANTIZED weight in both engines → engine-exact
      s"""WITH $dsirSqlBody
         |SELECT doc_id, weight FROM w ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,
    "nb_classify" -> nbClassifySql,
    // persisted-model routing ≡ fused train+score — same oracle statement
    "nb_classify_inc" -> nbClassifySql,
    "sample_weighted" ->
      s"""SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
         | floor((ln((h + 0.5) / 4294967296.0) / n_chars) * 1e6 + 0.5) / 1e6 AS ares_key
         |FROM (SELECT doc_id, n_chars,
         |        ${hashValueSql("doc_id", Selection.WeightSalt)} AS h
         |      FROM documents WHERE n_chars > 0)
         |ORDER BY ares_key DESC, doc_id LIMIT 50""".stripMargin,
    // --- k-means building blocks ---
    "embed_kmeans_assign" ->
      s"""WITH $kmeansSqlBody
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         | floor(cos * 1e6 + 0.5) / 1e6 AS cos FROM asg""".stripMargin,
    "select_diverse" ->
      s"""WITH $kmeansSqlBody,
         |r AS (SELECT vec_id, cell,
         |  row_number() OVER (PARTITION BY cell
         |    ORDER BY ${hashValueSql("vec_id", Corpus.SampleSalt)}, vec_id) AS rk
         |  FROM asg)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell
         |FROM r WHERE rk <= 12""".stripMargin,
    "select_prototypical" ->
      s"""WITH $kmeansSqlBody
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         | floor(cos * 1e6 + 0.5) / 1e6 AS cos FROM asg
         |WHERE floor(cos * 1e6 + 0.5) / 1e6 >= 0.12""".stripMargin,
    "select_diverse_inc" ->
      s"""WITH $kmeansSqlBody,
         |reg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY ${hashValueSql("vec_id", Corpus.SampleSalt)}, vec_id) AS rk
         |  FROM asg WHERE vec_id < 60) WHERE rk <= 12),
         |regc AS (SELECT cell, count(*) AS n FROM reg GROUP BY cell),
         |b AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY ${hashValueSql("vec_id", Corpus.SampleSalt)}, vec_id) AS rk
         |  FROM asg WHERE vec_id >= 60)
         |SELECT b.vec_id, CAST(b.cell AS INTEGER) AS cell
         |FROM b LEFT JOIN regc USING (cell)
         |WHERE b.rk <= 12 - coalesce(regc.n, 0)""".stripMargin,
    "split_by_cluster" ->
      s"""WITH $kmeansSqlBody
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT vec_id, cell, ${hashBucketSql("cell", 100)} AS b
         |      FROM asg)""".stripMargin,
    "split_by_cluster_meter" ->
      s"""WITH $kmeansSqlBody,
         |sp AS (SELECT vec_id,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT vec_id, cell, ${hashBucketSql("cell", 100)} AS b
         |        FROM asg)),
         |per AS (SELECT split, count(*) AS n_vecs FROM sp GROUP BY 1),
         |tot AS (SELECT sum(n_vecs) AS t FROM per)
         |SELECT split, n_vecs, ${Quantize.sql6("n_vecs / t")} AS share
         |FROM per, tot""".stripMargin,
    "decontaminate_semantic" ->
      s"""SELECT e.vec_id FROM embeddings e
         |WHERE e.vec_id >= 25 AND NOT EXISTS (
         |  SELECT 1 FROM embeddings v WHERE v.vec_id < 25
         |  AND sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
         |  AND sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])) > 0
         |  AND ${Quantize.sql6(
           "list_dot_product(e.embedding::DOUBLE[], v.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * " +
             "sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])))")} >= 0.45)""".stripMargin,
    // the flagship composes the five stage oracles IN ORDER — floor,
    // cell-scoped dedup among floor survivors, NOT EXISTS vs the eval
    // rows, per-cell hash-rank cap, cell-hash split — over the same asg
    "corpus_curate_semantic" ->
      s"""WITH $kmeansSqlBody,
         |proto AS (SELECT vec_id, cell FROM asg
         |  WHERE vec_id >= 25 AND floor(cos * 1e6 + 0.5) / 1e6 >= 0.12),
         |dup AS (SELECT DISTINCT b.vec_id AS vec_id
         |  FROM proto a JOIN proto b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${Quantize.sql6(
           "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) * " +
             "sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))")} >= 0.45),
         |ded AS (SELECT vec_id, cell FROM proto
         |  WHERE vec_id NOT IN (SELECT vec_id FROM dup)),
         |dec AS (SELECT d.vec_id, d.cell FROM ded d
         |  JOIN embeddings de ON de.vec_id = d.vec_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM embeddings v WHERE v.vec_id < 25
         |    AND sqrt(list_dot_product(de.embedding::DOUBLE[], de.embedding::DOUBLE[])) > 0
         |    AND sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])) > 0
         |    AND ${Quantize.sql6(
           "list_dot_product(de.embedding::DOUBLE[], v.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(de.embedding::DOUBLE[], de.embedding::DOUBLE[])) * " +
             "sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])))")} >= 0.45)),
         |div AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY ${hashValueSql("vec_id", Corpus.SampleSalt)}, vec_id) AS rk
         |  FROM dec) WHERE rk <= 12)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT vec_id, cell, ${hashBucketSql("cell", 100)} AS b
         |      FROM div)""".stripMargin,
    // pruned assignment with every coarse cell probed == the exact scan
    "embed_kmeans_assign_pruned_full" ->
      s"""WITH $kmeansSqlBody
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         | floor(cos * 1e6 + 0.5) / 1e6 AS cos FROM asg""".stripMargin,
    "embed_kmeans_step" ->
      s"""WITH $kmeansSqlBody,
         |ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS val,
         |         unnest(range(0, len(embedding))) AS i FROM embeddings),
         |m AS (SELECT a.cell, ev.i AS dim, avg(ev.val) AS mean
         |      FROM asg a JOIN ev USING (vec_id) GROUP BY 1, 2)
         |SELECT CAST(cell AS INTEGER) AS cell, CAST(dim AS INTEGER) AS dim,
         | floor(mean * 1e6 + 0.5) / 1e6 AS mean FROM m""".stripMargin,
    // --- md5 signature bridges ---
    "dedup_minhash_bridge" ->
      s"""WITH $minhashBridgeSqlBody
         |SELECT doc_id, perm, minhash FROM mh""".stripMargin,
    "dedup_minhash_pairs_bridge" ->
      s"""WITH $minhashBridgeSqlBody,
         |bd AS (SELECT doc_id, perm // ${Dedup.BridgePerms / 4} AS band,
         |         string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY perm) AS bv
         |       FROM mh GROUP BY doc_id, perm // ${Dedup.BridgePerms / 4})
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv
         | AND a.doc_id < b.doc_id""".stripMargin,
    "curriculum_assign" ->
      s"""WITH lp AS ($logprobSql),
         |cuts AS (SELECT quantile_cont(logprob, [0.25, 0.5, 0.75]) AS c FROM lp)
         |SELECT doc_id, logprob,
         | CAST(((CASE WHEN logprob > c[1] THEN 1 ELSE 0 END) +
         |       (CASE WHEN logprob > c[2] THEN 1 ELSE 0 END) +
         |       (CASE WHEN logprob > c[3] THEN 1 ELSE 0 END)) AS INTEGER) AS stage
         |FROM lp, cuts""".stripMargin,
    "dedup_simhash_bridge" ->
      s"""WITH hs AS (SELECT doc_id, ${hashValueSql("tok", Dedup.SimhashBridgeSalt)} AS h
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |        FROM documents)),
         |bits AS (SELECT doc_id, b,
         |    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bv
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bb
         |  GROUP BY doc_id, b),
         |sv AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(sv.simhash, 0) AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN sv USING (doc_id)""".stripMargin,
    // --- round-11 late additions ---
    "dedup_semantic" ->
      s"""WITH $kmeansSqlBody,
         |dup AS (SELECT DISTINCT b.vec_id AS vec_id
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${Quantize.sql6(
           "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) * " +
             "sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))")} >= 0.45)
         |SELECT g.vec_id, CAST(g.cell AS INTEGER) AS cell FROM asg g
         |WHERE g.vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,
    // the increment ships exactly the fused run's batch-side survivors:
    // registry ids (< 300, including all 8 seeds) precede batch ids, so
    // the registry∪batch semantics equal the fused dedup restricted to
    // the batch — one oracle statement verifies persist/probe ≡ fused
    "dedup_semantic_inc" ->
      s"""WITH $kmeansSqlBody,
         |dup AS (SELECT DISTINCT b.vec_id AS vec_id
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${Quantize.sql6(
           "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) * " +
             "sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))")} >= 0.45)
         |SELECT g.vec_id, CAST(g.cell AS INTEGER) AS cell FROM asg g
         |WHERE g.vec_id >= 300
         | AND g.vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,
    "mix_temperature" ->
      s"""WITH per AS (SELECT CAST(source AS VARCHAR) AS source, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS DOUBLE) AS u
         |       FROM documents GROUP BY 1),
         |tot AS (SELECT sum(pow(u, 0.3)) AS z, sum(u) AS t FROM per)
         |SELECT source, n_docs,
         | ${Quantize.sql6("u / t")} AS p_raw,
         | ${Quantize.sql6("pow(u, 0.3) / z")} AS weight
         |FROM per, tot""".stripMargin,
    "quality_gopher" -> qualityGopherSql,
    "text_c4_clean" ->
      """WITH ld AS (SELECT doc_id,
        |  replace(replace(text, ' table ', ' table.' || chr(10)),
        |          ' value ', ' value!' || chr(10)) AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |  list_filter(string_split(text, chr(10)), l ->
        |    regexp_matches(l, '[.!?"”][ \t\r\f]*\z')
        |    AND len(regexp_extract_all(l, '[^ \t\r\f]+')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM ld)
        |SELECT doc_id,
        | coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        | CAST(len(kept) AS BIGINT) AS n_lines_kept,
        | (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |  AND NOT contains(text, '{')) AS keep
        |FROM c""".stripMargin,
    "quality_logreg" -> logregSql(iters = 3, lr = 5.0,
      buckets = Selection.DsirBuckets),
    "quality_logreg_inc" -> logregSql(iters = 3, lr = 5.0,
      buckets = Selection.DsirBuckets),
    "quality_logreg_auc" ->
      // tied-average-rank Mann-Whitney over the score histogram of the
      // logreg statement — the same no-global-sort algebra as the
      // operator (neg_below via the ordered window over distinct scores)
      s"""WITH h AS (SELECT score AS s, CAST(sum(is_target) AS DOUBLE) AS p,
         |    CAST(count(*) - sum(is_target) AS DOUBLE) AS n
         |  FROM (${logregSql(iters = 3, lr = 5.0, buckets = Selection.DsirBuckets)}) q
         |  GROUP BY score),
         |hb AS (SELECT s, p, n, coalesce(sum(n) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
         |  FROM h)
         |SELECT CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
         |    floor((sum(p * (nb + n / 2.0)) / (sum(p) * sum(n))) * 1e6 + 0.5) / 1e6
         |  END AS auc,
         | CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg
         |FROM hb""".stripMargin,
    "embed_moments" ->
      // population variance = E[x²] − E[x]²; products in DOUBLE (the
      // kernel accumulates doubles — float×float would lose parity)
      s"""WITH ev AS (SELECT unnest(embedding)::DOUBLE AS v,
         |    unnest(range(0, len(embedding))) AS dim FROM embeddings)
         |SELECT CAST(dim AS BIGINT) AS dim,
         | ${Quantize.sql6("avg(v)")} AS mean_val,
         | ${Quantize.sql6("avg(v * v) - avg(v) * avg(v)")} AS var_val
         |FROM ev GROUP BY dim""".stripMargin,
    "embed_center" ->
      s"""WITH ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         |    unnest(range(0, len(embedding))) AS dim FROM embeddings),
         |m AS (SELECT dim, avg(v) AS mu FROM ev GROUP BY dim)
         |SELECT ev.vec_id, CAST(ev.dim AS BIGINT) AS dim,
         | ${Quantize.sql6("ev.v - m.mu")} AS centered
         |FROM ev JOIN m ON ev.dim = m.dim""".stripMargin,
    "embed_truncate" ->
      // same fold: prefix slice, sequential sum of squares, IEEE sqrt,
      // 6dp after the division; zero-norm prefixes pin to 0.0
      s"""WITH p AS (SELECT vec_id, embedding[1:16] AS pre FROM embeddings),
         |n AS (SELECT vec_id, pre,
         |    sqrt(list_sum(list_transform(pre, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM p),
         |ev AS (SELECT vec_id, nrm, unnest(pre)::DOUBLE AS v,
         |    unnest(range(0, len(pre))) AS dim FROM n)
         |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         | ${Quantize.sql6("CASE WHEN nrm = 0 THEN 0 ELSE v / nrm END")} AS value
         |FROM ev""".stripMargin,
    "embed_quantize" ->
      s"""WITH sc AS (SELECT vec_id, embedding,
         |    ${Quantize.sql6("greatest(list_max(embedding)::DOUBLE, " +
             "-(list_min(embedding)::DOUBLE)) / 127")} AS scale
         |  FROM embeddings),
         |ev AS (SELECT vec_id, scale, unnest(embedding)::DOUBLE AS v,
         |         unnest(range(0, len(embedding))) AS dim FROM sc)
         |SELECT vec_id, scale, CAST(dim AS INTEGER) AS dim,
         | CAST(CASE WHEN scale = 0 THEN 0
         |      ELSE greatest(least(floor(v / scale + 0.5), 127), -127) END AS BIGINT) AS code
         |FROM ev""".stripMargin,
    "corpus_length_hist" ->
      """WITH n AS (SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT CAST(floor(log2(greatest(nt, 1))) AS BIGINT) AS log2_tokens,
        | count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
        |FROM n GROUP BY 1""".stripMargin,
    "sim_topk_int8" ->
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT vec_id, embedding,
         |    ${Quantize.sql6("greatest(list_max(embedding)::DOUBLE, " +
             "-(list_min(embedding)::DOUBLE)) / 127")} AS s
         |  FROM embeddings),
         |de AS (SELECT vec_id,
         |    list_transform(embedding, v -> (CASE WHEN s = 0 THEN 0.0
         |      ELSE greatest(least(floor(v::DOUBLE / s + 0.5), 127), -127) END) * s) AS d
         |  FROM sc)
         |SELECT de.vec_id,
         | ${Quantize.sql6("list_dot_product(de.d, q.embedding::DOUBLE[]) / " +
             "(sqrt(list_dot_product(de.d, de.d)) * " +
             "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))")} AS cos
         |FROM de, q ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "chunk_docs_overlap" ->
      // the chunkDocsSql shape with stride-32 starts and budget-64 slices;
      // the nums bound (4096 windows = 128k tokens/doc at stride 32) is a
      // fixture bound for this statement only
      """WITH nums AS (SELECT generate_series AS i FROM generate_series(0, 4095)),
        |toks AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS t FROM documents)
        |SELECT doc_id, i AS chunk,
        | printf('%s#%09d', CAST(doc_id AS VARCHAR), i) AS chunk_id,
        | array_to_string(t[i*32+1 : i*32+64], ' ') AS chunk_text,
        | CAST(len(t[i*32+1 : i*32+64]) AS BIGINT) AS n_tokens
        |FROM toks JOIN nums ON i <= greatest(len(t) - 1, 0) // 32""".stripMargin) ++
    dynamicOracleSql

  // ------------------------------------------- data-dependent oracles

  /** Oracle statements whose SQL embeds DATA-DEPENDENT model literals —
    * the whitening / all-but-the-top eigenbasis has no closed SQL form,
    * but GIVEN the collected (μ, transform) the projection itself is
    * plain per-row algebra DuckDB replays exactly (float→double element
    * reads, the same j-ascending double dot product, the same 6dp
    * quantize). [[prepareOracles]] fills this before Verify dumps
    * `oracle_sql.json`; unprepared (dev subset runs, bench) the entries
    * are simply absent and the driver falls back to its rows-only
    * check — strictly the pre-round-13 behavior. */
  @volatile private var dynamicOracleSql: Map[String, String] = Map.empty

  /** Compute the data-dependent oracle literals for `dir`. Called by
    * Verify AFTER the query dump (one extra moments scan + driver
    * Jacobi per family — bounded model pulls, the k-means convention). */
  def prepareOracles(s: SparkSession, dir: String): Unit = {
    val emb = t(s, dir, "embeddings")
    val (wMu, wM) = graft.operators.Embeddings.whitenModel(emb)
    val (aMu, aM) = graft.operators.Embeddings.abttModel(emb, k = 2)
    dynamicOracleSql = Map(
      "embed_whiten" -> projectOracleSql(wMu, wM, "whitened"),
      "embed_abtt" -> projectOracleSql(aMu, aM, "residual"))
  }

  /** y = M·(x − μ) exploded to (vec_id, dim, value 6dp), with (μ, M) as
    * full-precision literals (Double.toString round-trips exactly, so
    * both engines read the same 64-bit values). `list_dot_product`
    * folds element-ascending in double — the identical add sequence to
    * the VectorKernels.centerProject kernel's j-ascending loop. */
  private def projectOracleSql(mu: Array[Double], m: Array[Array[Double]],
      valCol: String): String = {
    val d = mu.length
    def vecLit(a: Array[Double]) = a.mkString("[", ", ", "]")
    val matLit = m.map(vecLit).mkString("[", ", ", "]")
    s"""WITH mdl AS (SELECT ${vecLit(mu)}::DOUBLE[] AS mu, $matLit::DOUBLE[][] AS w),
       |c AS (SELECT vec_id,
       |    list_transform(range(1, ${d + 1}), j -> embedding[j]::DOUBLE - mdl.mu[j]) AS cv
       |  FROM embeddings, mdl WHERE embedding IS NOT NULL),
       |dims AS (SELECT unnest(range(0, $d)) AS dim)
       |SELECT c.vec_id, CAST(dims.dim AS BIGINT) AS dim,
       | ${Quantize.sql6("list_dot_product(mdl.w[CAST(dims.dim AS INTEGER) + 1], c.cv)")} AS $valCol
       |FROM c, mdl, dims""".stripMargin
  }

  /** DuckDB twin of [[TextFunctions.gopherColumns]] — the IDENTICAL RE2-safe
    * regex strings (explicit whitespace classes, `\z` not `$`, no
    * lookaround), counts via `len(regexp_extract_all(...))`, ratios
    * compared on their quantized values exactly like the Spark side. */
  private def qualityGopherSql: String = {
    def cnt(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    val nw = "[^ \\t\\n\\r\\f]"
    val nWords = s"greatest(${cnt(s"$nw+")}, 1)"
    val nLines = s"(len(regexp_extract_all(text, '\\n')) + 1)"
    val meanWordLen = Quantize.sql6(s"${cnt(nw)}::DOUBLE / $nWords")
    val symbolRatio = Quantize.sql6(s"${cnt("(#|\\.\\.\\.|…)")}::DOUBLE / $nWords")
    val bulletRatio = Quantize.sql6(s"${cnt("(^|\\n)[ \\t]*[-*•]")}::DOUBLE / $nLines")
    val ellipsisRatio = Quantize.sql6(s"${cnt("(\\.\\.\\.|…)[ \\t]*(\\n|\\z)")}::DOUBLE / $nLines")
    val alphaRatio = Quantize.sql6(s"${cnt(s"$nw*[A-Za-z]$nw*")}::DOUBLE / $nWords")
    val stopHits = TextFunctions.GopherStopwords
      .map(w => s"(CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id,
       | CAST(${cnt(s"$nw+")} AS BIGINT) AS n_words,
       | $meanWordLen AS mean_word_len,
       | $symbolRatio AS symbol_ratio,
       | $bulletRatio AS bullet_ratio,
       | $ellipsisRatio AS ellipsis_ratio,
       | $alphaRatio AS alpha_ratio,
       | CAST($stopHits AS BIGINT) AS stop_hits,
       | (${cnt(s"$nw+")} BETWEEN 50 AND 100000
       |  AND $meanWordLen BETWEEN 3.0 AND 10.0
       |  AND $symbolRatio < 0.1 AND $bulletRatio < 0.9 AND $ellipsisRatio < 0.3
       |  AND $alphaRatio > 0.8
       |  AND ($stopHits) >= ${TextFunctions.GopherMinStopHits}) AS keep
       |FROM documents""".stripMargin
  }
}
