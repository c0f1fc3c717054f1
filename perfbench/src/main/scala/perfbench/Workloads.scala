package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{EmbeddingCurationJob, IngestJob, TrainingSetJob}
import graft.config.{EmbeddingCurationConfig, JobConfig, TrainingSetConfig}
import graft.operators.{KeyedStore, Reshape}
import graft.sources.WideMatrix

/** What one timed operation did: its kind, the rows it moved, the seconds
  * spent inside the program's calls, and the first wrong output, if any. */
final case class OpOutcome(kind: String, rows: Long, seconds: Double, wrong: Option[String])

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer, val listener: EngineListener) {
  /** Per-layer values computed by the workloads (traced ops only). */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def engineOf(s: Span): Engine = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    tracer.engine(listener, s)
  }

  /** Time the program call `body`, inside a span named `name`. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = { if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go)); f.delete() }
    go(new File(path))
  }
}

abstract class Workload(val c: Ctx) {
  /** How many times `setupUnit` runs; `setup_s` is the median. */
  def setupReps: Int
  /** One complete set-up; the last one is what the ops run against. Returns
    * the wrong outputs it saw. */
  def setupUnit(rep: Int): Seq[String]
  /** The op kinds of one block: every block runs each once, in a seeded
    * order, so each kind keeps its share of the ops in any run. */
  def block: IndexedSeq[String]
  /** The metric an op kind reports under. */
  def family(kind: String): String = kind
  def op(k: Int, traced: Boolean): OpOutcome
  /** End-of-run output checks. */
  def finish(): Seq[String] = Nil

  def kindAt(k: Int): String = {
    val b = k / block.length
    val order = block.indices.sortBy(i => Mix(c.seed, b, i, 77))
    block(order(k % block.length))
  }
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "station_store" => new StationStore(c)
    case "curate" => new Curate(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

object IngestCheck {
  def apply(r: Seq[IngestJob.FileResult], e: Expect, stations: Int): Option[String] =
    if (r.size != 1) Some(s"expected one file result, got ${r.size}")
    else statsCheck(r.head.created, r.head.replaced, r.head.unchanged, r.head.metadataRows, e, stations)

  def statsCheck(created: Long, replaced: Long, unchanged: Long, metaRows: Long, e: Expect,
      stations: Int): Option[String] =
    if (created != e.created || replaced != e.replaced || unchanged != e.unchanged)
      Some(s"merge stats ($created,$replaced,$unchanged) != expected (${e.created},${e.replaced},${e.unchanged})")
    else if (metaRows != stations) Some(s"metadata rows $metaRows != $stations stations")
    else None
}

/**
 * The station store as the paper runs it: a daily scheduled ingest into a
 * keyed, date-partitioned store, and a portal reading the same store.
 *
 * Set-up backfills one quarter (1,000 stations x 90 daily partitions) with
 * `IngestJob.run` into an empty root. Each block of six ops then holds one
 * ingest of a monthly wide CSV windowed to one day -- in turn a new day
 * (creates), a re-run of a stored day (all unchanged) and a revised stored
 * day (~5% replaced) -- and five portal requests, each of which opens the
 * store from its path, as a server that must see the latest merge does: a
 * point lookup, a date filter (partition-pruned), a station filter (every
 * partition), an offset page 0-5 and a cursor page.
 */
final class StationStore(c0: Ctx) extends Workload(c0) {
  import StationStore._
  val block = Vector("ingest", "lookup", "date_filter", "station_filter", "page", "page_after")
  override def family(kind: String): String = kind match {
    case "new" | "rerun" | "revised" => "ingest"
    case "page_after" => "page"
    case k => k
  }
  val setupReps = 2
  private var model: StationModel = _
  private var root: String = _
  private var nextNew = QuarterStart.plusDays(QuarterDays.toLong)
  private def valuesDir = IngestJob.valuesDir(root)

  def setupUnit(rep: Int): Seq[String] = {
    if (rep > 0) c.rm(root)
    model = new StationModel(Stations, c.seed)
    root = s"${c.work}/store$rep"
    val file = s"${c.work}/quarter$rep.csv"
    val quarter = StationModel.span(QuarterStart, QuarterDays)
    val exp = model.writeFile(file, quarter, quarter, (_, _) => 0)
    val r = IngestJob.run(c.spark, JobConfig.parse(StationModel.configJson(file, None)), root)
    model.commit(quarter, (_, _) => 0)
    new File(file).delete()
    IngestCheck(r, exp, Stations).toSeq
  }

  /** The ingest slot cycles new, re-run, revised over the blocks. */
  def op(k: Int, traced: Boolean): OpOutcome = kindAt(k) match {
    case "ingest" =>
      ingest(k, Vector("new", "rerun", "revised")(Math.floorMod(k / block.size + c.seed, 3L).toInt), traced)
    case kind => read(k, kind, traced)
  }

  private def ingest(k: Int, kind: String, traced: Boolean): OpOutcome = {
    val stored = model.storedDays
    val (day, rev): (LocalDate, (Int, Long) => Int) = kind match {
      case "new" =>
        val d = nextNew; nextNew = nextNew.plusDays(1); (d, (_, _) => 0)
      case "rerun" => (LocalDate.ofEpochDay(stored(Mix.below(stored.size, c.seed, k, 1))), model.resent)
      case _ =>
        (LocalDate.ofEpochDay(stored(Mix.below(stored.size, c.seed, k, 2))), model.revised(50, k.toLong))
    }
    val file = s"${c.work}/daily$k.csv"
    val exp = model.writeFile(file, StationModel.monthDays(day), Seq(day), rev)
    val cfg = JobConfig.parse(StationModel.configJson(file, Some((day, day))))
    val (wrong, secs) =
      if (!traced) {
        val (r, s) = c.timed("IngestJob.run")(IngestJob.run(c.spark, cfg, root))
        (IngestCheck(r, exp, Stations), s)
      } else tracedIngest(cfg, exp)
    model.commit(Seq(day), rev)
    new File(file).delete()
    OpOutcome(kind, exp.cells, secs, wrong)
  }

  /** `IngestJob.runFile`'s sequence of layer calls, each in its own span. */
  private def tracedIngest(cfg: JobConfig, exp: Expect): (Option[String], Double) = {
    val t = c.tracer
    val ds = cfg.data.head
    val ((meta, st), secs) = c.timed("IngestJob") {
      val wide = t.span("WideMatrix.readCsv")(WideMatrix.readCsv(c.spark, ds.files.head))
      val (metaDf, valuesWide) = t.span("WideMatrix.classify")(
        (WideMatrix.metadata(wide, ds, cfg.location), WideMatrix.valuesWide(wide, ds)))
      val meta = t.span("KeyedStore.merge_meta")(
        KeyedStore.mergeIntoTable(metaDf, IngestJob.metadataDir(root), Seq("skn"), partitionCol = None))
      val values = t.span("Reshape.plan") {
        val v = Reshape.pipeline(valuesWide, ds)
        v.queryExecution.executedPlan
        v
      }
      t.span("KeyedStore.store_open")(c.spark.read.parquet(valuesDir).schema)
      val st = t.span("KeyedStore.merge_values")(KeyedStore.mergeIntoTable(values, valuesDir,
        ds.keyFields, partitionCol = Some("date"), replace = ds.replaceDuplicates))
      (meta, st)
    }
    val cells = math.max(exp.cells.toDouble, 1.0)
    // the window is one day, so a file cell is one (station, day)
    c.record("Reshape.rows_per_cell", st.incrementRows / Stations.toDouble)
    c.record("KeyedStore.change_ratio", (st.created + st.replaced) / cells)
    t.spans.reverseIterator.find(_.name == "KeyedStore.merge_values").foreach { s =>
      c.record("KeyedStore.bytes_written_per_cell", c.engineOf(s).outputBytes / cells)
    }
    val files = listParquet(new File(valuesDir))
    c.record("KeyedStore.files", files.size.toDouble)
    c.record("KeyedStore.files_per_partition",
      files.size.toDouble / math.max(files.map(_.getParentFile.getName).distinct.size, 1))
    (IngestCheck.statsCheck(st.created, st.replaced, st.unchanged, meta.incrementRows, exp, Stations), secs)
  }

  private def listParquet(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listParquet(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  private def valueOk(r: Row): Boolean = {
    val i = model.stationOf(r.getAs[String]("station_id"))
    val day = LocalDate.parse(r.getAs[Any]("date").toString).toEpochDay
    val rev = model.storedRev(i, day)
    rev >= 0 && r.getAs[Double]("value") == model.value(i, day, rev)
  }

  private def request(k: Int, kind: String): Request = {
    def pick(n: Int, salt: Int) = Mix.below(n, c.seed, k, salt)
    val stored = model.storedDays
    def bad(what: String) = Some(s"$kind: $what")
    kind match {
      case "lookup" =>
        val day = stored(pick(stored.size, 1))
        val i = Iterator.iterate(pick(Stations, 2))(j => (j + 1) % Stations).find(model.storedRev(_, day) >= 0).get
        val id = model.uuidOf(i, day)
        Request("pointLookup", KeyedStore.pointLookup(_, id), rows =>
          if (rows.length != 1) bad(s"${rows.length} rows for one uuid")
          else if (rows(0).getAs[String]("uuid") != id || rows(0).getAs[String]("station_id") != model.skn(i) ||
            rows(0).getAs[Any]("date").toString != LocalDate.ofEpochDay(day).toString || !valueOk(rows(0)))
            bad(s"wrong row for $id")
          else None)
      case "date_filter" =>
        val day = LocalDate.ofEpochDay(stored(pick(stored.size, 3)))
        val n = model.rowsOnDay(day.toEpochDay)
        Request("queryFilter", KeyedStore.queryFilter(_, Map("date" -> day.toString, "datatype" -> StationModel.Datatype)),
          rows =>
            if (rows.length != n) bad(s"${rows.length} rows on $day, expected $n")
            else if (!rows.forall(r => r.getAs[Any]("date").toString == day.toString && valueOk(r))) bad("wrong rows")
            else None)
      case "station_filter" =>
        val i = pick(Stations, 4)
        val n = model.rowsOfStation(i)
        Request("queryFilter", KeyedStore.queryFilter(_, Map("station_id" -> model.skn(i))), rows =>
          if (rows.length != n) bad(s"${rows.length} rows for station $i, expected $n")
          else if (!rows.forall(r => r.getAs[String]("station_id") == model.skn(i) && valueOk(r))) bad("wrong rows")
          else None)
      case _ =>
        val p = if (kind == "page") pick(Pages, 5) else 1 + pick(Pages - 1, 6)
        val want = model.uuids.iterator.slice((p - 1) * PageSize, (p + 1) * PageSize).toIndexedSeq
        val (before, page) = if (p == 0) (Nil, want) else want.splitAt(PageSize)
        val q: DataFrame => DataFrame =
          if (kind == "page") KeyedStore.paginate(_, Seq("uuid"), PageSize, p)
          else KeyedStore.paginateAfter(_, Seq("uuid"), PageSize, Seq(before.last))
        Request(if (kind == "page") "paginate" else "paginateAfter", q, rows =>
          if (rows.map(_.getAs[String]("uuid")).toSeq != page) bad(s"page $p is not the ordered slice") else None)
    }
  }

  private def read(k: Int, kind: String, traced: Boolean): OpOutcome = {
    val req = request(k, kind)
    val t = c.tracer
    val (rows, secs) = c.timed(s"KeyedStore.${req.fn}") {
      val table = t.span("KeyedStore.store_open")(c.spark.read.parquet(valuesDir))
      if (!traced) req.query(table).collect()
      else {
        val df = t.span(s"KeyedStore.${req.fn}_plan") { val d = req.query(table); d.queryExecution.executedPlan; d }
        val out = t.span(s"KeyedStore.${req.fn}_exec")(df.collect())
        val scans = Tracer.scans(df.queryExecution.executedPlan)
        def sum(m: String) = scans.map(_.getOrElse(m, 0L)).sum.toDouble
        c.record("KeyedStore.files_read_per_req", sum("numFiles"))
        c.record("KeyedStore.bytes_read_per_req", sum("filesSize"))
        c.record("KeyedStore.rows_scanned_per_row_returned", sum("numOutputRows") / math.max(out.length, 1))
        out
      }
    }
    OpOutcome(kind, rows.length.toLong, secs, req.check(rows))
  }

  override def finish(): Seq[String] = {
    val table = c.spark.read.parquet(valuesDir)
    val dup = KeyedStore.uniquenessViolations(table, Seq("datatype", "period", "date", "fill", "station_id"))
      .count()
    val rows = table.count()
    Seq(
      if (dup != 0) Some(s"$dup keys violate uniqueness") else None,
      if (rows != model.totalRows) Some(s"store holds $rows rows, expected ${model.totalRows}") else None,
      if (!IngestJob.allComplete(c.spark, root)) Some("state markers not all complete") else None
    ).flatten
  }
}

object StationStore {
  /** One portal request: the store call, as a function of the opened
    * table, and the check of its collected answer. */
  final case class Request(fn: String, query: DataFrame => DataFrame, check: Array[Row] => Option[String])

  val Stations = 1000
  val QuarterStart: LocalDate = LocalDate.of(2023, 1, 1)
  val QuarterDays = 90
  val PageSize = 1000
  val Pages = 6
}

/**
 * Curation jobs over fixed inputs, alternating: `TrainingSetJob.run` over a
 * 1,000-document table, and a two-increment `EmbeddingCurationJob.
 * runIncrement` sequence over a 600-vector table, each into a fresh root.
 * The seed picks the increment split.
 */
final class Curate(c0: Ctx) extends Workload(c0) {
  import Curate._
  val block = Vector("trainset", "embed_curate")
  // one set-up only: it is the cold first run of both jobs, and a second
  // would not fit the run's time budget
  val setupReps = 1
  private val docsDir = s"${c.work}/documents"
  private val embDir = s"${c.work}/embeddings"
  private val cut = Embeddings / 4 + Mix.below(Embeddings / 2, c.seed, 1)
  private var firstCurated: Option[(Long, Long)] = None

  /** Writes the inputs and runs both jobs once (the cold run). */
  def setupUnit(rep: Int): Seq[String] = {
    import c.spark.implicits._
    CorpusGen.documents(Documents, CorpusSeed).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(docsDir)
    CorpusGen.embeddings(Embeddings, CorpusSeed).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(embDir)
    Seq(trainset(-1 - 2 * rep, traced = false), embed(-2 - 2 * rep, traced = false)).flatMap(_.wrong)
  }

  def op(k: Int, traced: Boolean): OpOutcome =
    if (kindAt(k) == "trainset") trainset(k, traced) else embed(k, traced)

  private def trainset(k: Int, traced: Boolean): OpOutcome = {
    val root = s"${c.work}/trainset$k"
    val (r, secs) = c.timed("TrainingSetJob.run")(TrainingSetJob.run(c.spark, docsDir, root, TrainsetConfig))
    if (traced) {
      c.record("TrainingSetJob.clean_yield", r.cleanDocs.toDouble / Documents)
      c.record("TrainingSetJob.chunks_per_doc", r.trainChunks.toDouble / math.max(r.cleanDocs, 1L))
    }
    c.rm(root)
    OpOutcome("trainset", Documents.toLong, secs,
      if (r != TrainsetYield) Some(s"trainset yields $r != $TrainsetYield") else None)
  }

  private def embed(k: Int, traced: Boolean): OpOutcome = {
    val root = s"${c.work}/embed$k"
    val emb = c.spark.read.parquet(embDir)
    def inc(batch: DataFrame) = c.tracer.span("EmbeddingCurationJob.runIncrement")(
      EmbeddingCurationJob.runIncrement(c.spark, batch, root, EmbedConfig))
    val ((r1, r2), secs) = c.timed("EmbeddingCurationJob.sequence")(
      (inc(emb.filter(col("vec_id") < cut)), inc(emb.filter(col("vec_id") >= cut))))
    val curated = (r1.curated, r2.curated)
    if (traced) c.record("EmbeddingCurationJob.curated_yield", (r1.curated + r2.curated).toDouble / Embeddings)
    val curatedRows = c.spark.read.parquet(EmbeddingCurationJob.curatedDir(root)).count()
    if (firstCurated.isEmpty) firstCurated = Some(curated)
    val totals = (r1.floored + r2.floored, r1.deduped + r2.deduped)
    val wrong = Seq(
      if (r1.batchVecs + r2.batchVecs != Embeddings) Some("increments lost vectors") else None,
      // the floor is per row and the dedup keeps the lower id, so both
      // totals are the same for any split
      if (totals != EmbedYield) Some(s"embedding yields $totals != $EmbedYield") else None,
      if (firstCurated.get != curated) Some(s"curated $curated differs from the first run ${firstCurated.get}") else None,
      if (curatedRows != r1.curated + r2.curated) Some(s"curated table holds $curatedRows rows") else None
    ).flatten.headOption
    c.rm(root)
    OpOutcome("embed_curate", Embeddings.toLong, secs, wrong)
  }
}

object Curate {
  val Documents = 1000
  val Embeddings = 600
  /** The curation inputs are fixed (the seed only moves the increment
    * split), so their yields are constants of this benchmark. */
  val CorpusSeed = 20231L
  val TrainsetConfig: TrainingSetConfig =
    TrainingSetConfig.parse("""{"chunk_budget":64,"pack_groups":4,"n_shards":8}""")
  val EmbedConfig: EmbeddingCurationConfig =
    EmbeddingCurationConfig(minCos = Some(0.12), dedupCos = Some(0.9), perCell = Some(60))
  val TrainsetYield: TrainingSetJob.Result = TrainingSetJob.Result(945, 945, 1021, 631, 8)
  val EmbedYield: (Long, Long) = (565L, 520L)
}
