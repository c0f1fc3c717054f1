package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{KeyedStore, Reshape}
import graft.sources.WideMatrix

class KeyedStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val keys = Fixtures.F1Spec.keyFields

  private lazy val incoming: DataFrame = Reshape.pipeline(
    WideMatrix.valuesWide(WideMatrix.readCsv(spark, Fixtures.F1Csv), Fixtures.F1Spec),
    Fixtures.F1Spec)
  private lazy val existing: DataFrame = Fixtures.store(spark)

  test("classify: create / replace / unchanged exactly as the reference probe") {
    val byStation = KeyedStore.classify(incoming, existing, keys)
      .collect().map(r => (r.getAs[String]("station_id"), r.getAs[String]("date")) ->
        r.getAs[String]("action")).toMap
    assert(byStation(("39.2", "2022-03-01")) == "unchanged") // identical value -> skip
    assert(byStation(("39.2", "2022-03-02")) == "replace") // stored 99.9 != 16.8
    assert(byStation(("147.0", "2022-03-01")) == "create") // no match
  }

  test("replace=false: matched rows never classified replace") {
    val actions = KeyedStore.classify(incoming, existing, keys, replace = false)
      .select("action").collect().map(_.getString(0)).toSet
    assert(actions == Set("create", "unchanged"))
  }

  test("stats conservation: created + replaced + unchanged == |increment|") {
    val st = KeyedStore.stats(KeyedStore.classify(incoming, existing, keys))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st.values.sum == incoming.count())
    assert(st == Map("create" -> 1L, "replace" -> 1L, "unchanged" -> 1L))
  }

  test("merge: post-state has replaced payload, new uuid for creates, bystander kept") {
    val merged = KeyedStore.merge(incoming, existing, keys)
    val rows = merged.collect().map(r => r.getAs[String]("station_id") ->
      (r.getAs[String]("date"), r.getAs[Double]("value"), r.getAs[String]("uuid")))
    assert(rows.length == 4)
    val m = rows.groupBy(_._1)
    assert(m("39.2").map(_._2).toSet ==
      Set(("2022-03-01", 17.2, "u-0001"), ("2022-03-02", 16.8, "u-0002"))) // replace keeps uuid
    assert(m("500.1").head._2 == ("2022-03-01", 5.0, "u-0003")) // untouched bystander
    val created = m("147.0").head._2
    assert(created._3 == "12b129c19f619fa6ca7e14a305be7293") // md5 of \u0001-joined key
  }

  test("merge idempotency: merge(merge(T, inc), inc) == merge(T, inc)") {
    val m1 = KeyedStore.merge(incoming, existing, keys)
    val m2 = KeyedStore.merge(incoming, m1, keys)
    assert(m1.exceptAll(m2).isEmpty && m2.exceptAll(m1).isEmpty)
  }

  test("merge with replace=false keeps existing payloads") {
    val merged = KeyedStore.merge(incoming, existing, keys, replace = false)
    val v = merged.filter(col("station_id") === "39.2" && col("date") === "2022-03-02")
      .head().getAs[Double]("value")
    assert(v == 99.9) // not overwritten
  }

  test("dedupIncrement: within-increment key dupes resolve deterministically") {
    import spark.implicits._
    val dup = Seq(
      ("temperature", "day", "2022-03-01", "raw", "39.2", "min", 1.0),
      ("temperature", "day", "2022-03-01", "raw", "39.2", "min", 2.0))
      .toDF("datatype", "period", "date", "fill", "station_id", "aggregation", "value")
    val out = KeyedStore.dedupIncrement(dup, keys).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 2.0) // payload desc order
  }

  test("null key fields merge null-safely: no re-create on re-run") {
    import spark.implicits._
    val inc = Seq(("m", null.asInstanceOf[String], 1.0), ("m", "k2", 2.0))
      .toDF("datatype", "station_id", "value")
    val empty = Seq.empty[(String, String, Double, String)]
      .toDF("datatype", "station_id", "value", "uuid")
    val ks = Seq("datatype", "station_id")
    val m1 = KeyedStore.merge(inc, empty, ks)
    assert(m1.count() == 2)
    // the null-key row must MATCH itself on the second merge, not duplicate
    val m2 = KeyedStore.merge(inc, m1, ks)
    assert(m2.count() == 2)
    val acts = KeyedStore.classify(inc, m1, ks).select("action")
      .collect().map(_.getString(0)).toSeq
    assert(acts == Seq("unchanged", "unchanged"))
    // distinct null patterns get distinct uuids
    assert(m1.select("uuid").distinct().count() == 2)
  }

  test("uniqueness violations: duplicated key flagged with its count") {
    val v = KeyedStore.uniquenessViolations(Fixtures.storeDup(spark), keys).collect()
    assert(v.length == 1)
    assert(v.head.getAs[String]("station_id") == "39.2" && v.head.getAs[Long]("n") == 2L)
  }

  test("dedupIncrement: key-only increment dedups via distinct, no unordered window") {
    import spark.implicits._
    val keyOnly = Seq(("s1", "d1"), ("s1", "d1"), ("s2", "d1"))
      .toDF("station_id", "date")
    val out = KeyedStore.dedupIncrement(keyOnly, Seq("station_id", "date")).collect()
    assert(out.length == 2)
  }

  test("mergeIntoTable rejects a partition column outside the key (slice soundness)") {
    import spark.implicits._
    val inc = Seq(("s1", "2022-01-01", 1.0)).toDF("station_id", "date", "value")
    val e = intercept[IllegalArgumentException](
      KeyedStore.mergeIntoTable(inc, "/tmp/graft_nokey_store", Seq("station_id"),
        partitionCol = Some("date")))
    assert(e.getMessage.contains("must be one of keyCols"))
  }

  test("pagination: page semantics (offset is a page index), deterministic order") {
    import spark.implicits._
    val df = (1 to 25).map(i => (f"k$i%03d", i)).toDF("k", "v")
    val page2 = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 1).collect()
    assert(page2.map(_.getString(0)).toSeq == (11 to 20).map(i => f"k$i%03d"))
    val lastPage = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 2).collect()
    assert(lastPage.length == 5)
  }

  test("point lookup and equality-filter query") {
    assert(KeyedStore.pointLookup(existing, "u-0002").count() == 1)
    assert(KeyedStore.queryFilter(existing,
      Map("datatype" -> "temperature", "station_id" -> "39.2")).count() == 2)
  }

  test("queryFilter: dotted paths resolve struct fields; flat dotted names win") {
    // document-envelope shape: {name, value: {station_id, datatype, ...}}
    val env = existing.select(col("uuid"),
      struct(existing.columns.filterNot(_ == "uuid").map(col): _*).as("value"))
    val hits = KeyedStore.queryFilter(env,
      Map("value.station_id" -> "39.2", "value.datatype" -> "temperature"))
    assert(hits.count() == 2)
    // a FLAT column whose name contains dots is NOT treated as a path
    val flatDotted = existing.withColumnRenamed("station_id", "station.id")
    assert(KeyedStore.queryFilter(flatDotted, Map("station.id" -> "39.2")).count() == 2)
  }

  test("strictKeys: probing a duplicated store key raises RecordKeyException") {
    val dupStore = Fixtures.storeDup(spark)
    val e = intercept[Exception] {
      KeyedStore.classify(incoming, dupStore, keys).collect()
    }
    assert(e.getMessage.contains("RecordKeyException"))
    val e2 = intercept[Exception] {
      KeyedStore.merge(incoming, dupStore, keys).collect()
    }
    assert(e2.getMessage.contains("RecordKeyException"))
    // lax mode reproduces round-1 fan-out behavior on request
    assert(KeyedStore.classify(incoming, dupStore, keys, strictKeys = false)
      .count() > incoming.count())
  }

  test("strictKeys: a duplicated key NOT probed by the increment does not raise") {
    import spark.implicits._
    // duplicate lives on station 999.9 — the increment never touches it
    val dupElsewhere = existing.unionByName(Seq(
      ("temperature", "day", "raw", "999.9", "2022-03-01", 1.0, "min", "u-0100"),
      ("temperature", "day", "raw", "999.9", "2022-03-01", 2.0, "min", "u-0101"))
      .toDF("datatype", "period", "fill", "station_id", "date", "value", "aggregation", "uuid"))
    val acts = KeyedStore.classify(incoming, dupElsewhere, keys)
      .select("action").collect().map(_.getString(0)).toSet
    assert(acts == Set("create", "replace", "unchanged"))
    // merge materializes every joined row, so the bystander dup DOES surface
    // there (full-outer sees it) — but only classify mirrors the reference's
    // probe-scoped check; merge keeps both copies' rows guarded
  }

  test("merge reads the store slice exactly once (single-scan plan)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val store = spark.read.parquet(Fixtures.StoreParquet)
    val merged = KeyedStore.merge(incoming, store, keys)
    merged.collect()
    def countStoreScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countStoreScans(a.executedPlan)
      case s: QueryStageExec => countStoreScans(s.plan)
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains("station_store"))) 1 else 0
      case other => other.children.map(countStoreScans).sum
    }
    assert(countStoreScans(merged.queryExecution.executedPlan) == 1)
  }

  test("mergeIntoTable with a reliable checkpoint dir: stats and content unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("store_ckpt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("merge_ckpt").toString
    val seed = Seq(("s1", "2022-03-01", 1.0), ("s2", "2022-03-01", 2.0))
      .toDF("station_id", "date", "value")
    // create path: count observed during the streaming write, no checkpoint
    val st1 = KeyedStore.mergeIntoTable(seed, dir, Seq("station_id", "date"))
    assert(st1 == KeyedStore.MergeStats(2, 0, 0))
    // merge path through a RELIABLE checkpoint (executor-loss-safe on a
    // cluster); results must be byte-identical to the localCheckpoint path
    val inc = Seq(("s1", "2022-03-01", 10.0), ("s3", "2022-03-01", 3.0))
      .toDF("station_id", "date", "value")
    val st2 = KeyedStore.mergeIntoTable(inc, dir, Seq("station_id", "date"),
      checkpointDir = Some(ckpt))
    assert(st2 == KeyedStore.MergeStats(1, 1, 0))
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("station_id") -> r.getAs[Double]("value")).toMap
    assert(rows == Map("s1" -> 10.0, "s2" -> 2.0, "s3" -> 3.0))
  }

  test("mergeIntoTable: null-date increment merges into the null partition without loss") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("store_nullpart").toString + "/t"
    // seed: two rows in the NULL partition, one in a dated partition
    val seed = Seq(("s1", null: String, 1.0), ("s2", null, 2.0), ("s3", "2022-03-01", 3.0))
      .toDF("station_id", "date", "value")
    KeyedStore.mergeIntoTable(seed, dir, Seq("station_id", "date"))
    // increment touches the null partition: replaces s1, creates s4
    val inc = Seq(("s1", null: String, 10.0), ("s4", null, 4.0))
      .toDF("station_id", "date", "value")
    val st = KeyedStore.mergeIntoTable(inc, dir, Seq("station_id", "date"))
    assert(st == KeyedStore.MergeStats(1, 1, 0))
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("station_id") -> r.getAs[Double]("value")).toMap
    // s2 lived only in the null partition — a non-null-safe slice filter
    // excludes it from the merge while dynamic overwrite rewrites its
    // partition → silent loss. It must survive.
    assert(rows == Map("s1" -> 10.0, "s2" -> 2.0, "s3" -> 3.0, "s4" -> 4.0))
  }

  test("mergeIntoTable layout: a 90-day first load and a multi-day re-ingest write one file per date, from several tasks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("store_layout").toString + "/t"
    val days = (0 until 90).map(d => java.time.LocalDate.of(2022, 1, 1).plusDays(d).toString)
    val df = (for (d <- days; s <- 0 until 20) yield ("t", "day", "raw", s"s$s", d, s.toDouble))
      .toDF("datatype", "period", "fill", "station_id", "date", "value")
    val keys = Seq("datatype", "period", "date", "fill", "station_id")
    // (every date dir holds exactly one parquet file, distinct writer tasks)
    def layout(dates: Seq[String]): (Boolean, Int) = {
      val files = dates.map(d => new java.io.File(s"$dir/date=$d").listFiles
        .map(_.getName).filter(_.endsWith(".parquet")).toSeq)
      (files.forall(_.size == 1),
        files.flatten.map(_.split("-")(1)).distinct.size) // part-<task>-…
    }
    assert(KeyedStore.mergeIntoTable(df, dir, keys) == KeyedStore.MergeStats(1800, 0, 0))
    val (oneFile, tasks) = layout(days)
    assert(oneFile && tasks > 1, s"first load: one file per date $oneFile, tasks $tasks")
    // re-ingest 30 days with two stations revised on each
    val re = df.filter(col("date") < days(30)).withColumn("value",
      when(col("station_id").endsWith("4"), col("value") + 1).otherwise(col("value")))
    assert(KeyedStore.mergeIntoTable(re, dir, keys) == KeyedStore.MergeStats(0, 60, 540))
    val (oneFile2, tasks2) = layout(days.take(30))
    assert(oneFile2 && tasks2 > 1, s"re-ingest: one file per date $oneFile2, tasks $tasks2")
    assert(layout(days)._1 && spark.read.parquet(dir).count() == 1800)
  }

  /** Every file under `dir`, relative to it (part files, markers, crcs). */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val w = java.nio.file.Files.walk(root)
    try w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally w.close()
  }

  test("mergeIntoTable: re-merging an increment leaves every part-file name in the slice and in the metadata table unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("store_noop").toString
    val (values, meta) = (s"$root/values", s"$root/metadata")
    val inc = Seq(("s1", "2022-03-01", 1.0), ("s2", "2022-03-02", 2.0))
      .toDF("station_id", "date", "value")
    val md = Seq(("s1", "a"), ("s2", "b")).toDF("skn", "name")
    KeyedStore.mergeIntoTable(inc, values, Seq("station_id", "date"))
    KeyedStore.mergeIntoTable(md, meta, Seq("skn"), partitionCol = None)
    val before = (filesUnder(values), filesUnder(meta))
    assert(KeyedStore.mergeIntoTable(inc, values, Seq("station_id", "date")) ==
      KeyedStore.MergeStats(0, 0, 2))
    assert(KeyedStore.mergeIntoTable(md, meta, Seq("skn"), partitionCol = None) ==
      KeyedStore.MergeStats(0, 0, 2))
    assert((filesUnder(values), filesUnder(meta)) == before)
  }

  test("mergeIntoTable: an all-unchanged merge into a store with duplicate keys still raises RecordKeyException") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("store_noop_dup").toString + "/t"
    val inc = Seq(("s1", "2022-03-01", 1.0)).toDF("station_id", "date", "value")
    KeyedStore.mergeIntoTable(inc, dir, Seq("station_id", "date"))
    val stored = spark.read.parquet(dir)
    spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*), stored.schema)
      .write.mode("append").partitionBy("date").parquet(dir)
    val e = intercept[Exception](
      KeyedStore.mergeIntoTable(inc, dir, Seq("station_id", "date")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("RecordKeyException")), e)
  }

  test("paginate: early pages plan as TakeOrderedAndProject, never a global window") {
    import spark.implicits._
    val df = (1 to 500).map(i => (f"k$i%04d", i)).toDF("k", "v")
    def nodes(d: org.apache.spark.sql.DataFrame): Seq[String] =
      SparkTestBase.planNodeNames(d)
    val page0 = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 0)
    assert(page0.collect().map(_.getString(0)).toSeq == (1 to 10).map(i => f"k$i%04d"))
    val p0nodes = nodes(page0)
    assert(p0nodes.exists(_.contains("TakeOrderedAndProject")), p0nodes.mkString(","))
    assert(!p0nodes.exists(_.contains("Window")), p0nodes.mkString(","))
    val page3 = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 3)
    assert(page3.collect().map(_.getString(0)).toSeq == (31 to 40).map(i => f"k$i%04d"))
    assert(!nodes(page3).exists(_.contains("Window")))
    // a page past the threshold walks the cursor by keyset hops — same rows,
    // STILL no window at any depth (per-task memory bounded by the threshold)
    val deep = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 3, deepPageThreshold = 20)
    assert(deep.collect().map(_.getString(0)).toSeq == (31 to 40).map(i => f"k$i%04d"))
    assert(!nodes(deep).exists(_.contains("Window")))
    // a degenerate threshold still pages correctly (1-row keyset hops)
    val degen = KeyedStore.paginate(df, Seq("k"), limit = 5, offset = 2, deepPageThreshold = 0)
    assert(degen.collect().map(_.getString(0)).toSeq == (11 to 15).map(i => f"k$i%04d"))
    // a deep page beyond the data is empty, not an error
    val past = KeyedStore.paginate(df, Seq("k"), limit = 10, offset = 80, deepPageThreshold = 20)
    assert(past.collect().isEmpty)
  }

  test("paginateAfter: page N+1 resumes exactly from page N's last key") {
    import spark.implicits._
    val df = (1 to 500).map(i => (f"k$i%04d", i)).toDF("k", "v")
    val pageN = KeyedStore.paginate(df, Seq("k", "v"), limit = 10, offset = 2)
    val rowsN = pageN.collect()
    assert(rowsN.map(_.getString(0)).toSeq == (21 to 30).map(i => f"k$i%04d"))
    val cursor = rowsN.last.toSeq // (k, v) of the last row served
    val pageN1 = KeyedStore.paginateAfter(df, Seq("k", "v"), limit = 10, after = cursor)
    assert(pageN1.collect().map(_.getString(0)).toSeq == (31 to 40).map(i => f"k$i%04d"))
    // null cursor fields resume before any non-null value (asc_nulls_first)
    val withNull = (("k0000", null.asInstanceOf[Integer]) +: (1 to 5).map(i =>
      (f"k$i%04d", Integer.valueOf(i)))).toDF("k", "v")
    val after = KeyedStore.paginateAfter(withNull, Seq("v"), limit = 10, after = Seq(null))
    assert(after.collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 5).map(i => f"k$i%04d"))
  }
}
