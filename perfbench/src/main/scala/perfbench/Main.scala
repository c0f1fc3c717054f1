package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Station-store benchmark harness: one workload, one closed-loop client,
 * one Spark session on `local[cores]`.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
 *
 * Prints the per-kind metrics as `metric <name> <value> <unit>` lines,
 * writes the full artifact (box stamp, per-op samples, per-layer numbers,
 * spans) to FILE, and ends stdout with one JSON result line.
 */
object Main {
  /** Cores the session runs on. Pinned (not the box's count) so the store
    * layout, which writes one file per shuffle partition, and the run time
    * are the same on any box with at least this many cores. */
  val MaxCores = 4

  final case class Sample(k: Int, kind: String, traced: Boolean, seconds: Double, rows: Long,
      wrong: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = math.min(Runtime.getRuntime.availableProcessors, MaxCores)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = new EngineListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, work, seed, tracer, listener)
    val w = Workload(workload, ctx)
    val boxStart = box(spark)

    val setupWrong = mutable.ArrayBuffer.empty[String]
    val setupTimes = (0 until w.setupReps).map { rep =>
      val s0 = System.nanoTime()
      setupWrong ++= w.setupUnit(rep)
      (System.nanoTime() - s0) / 1e9
    }

    // closed loop: the next op starts when the previous one has finished.
    // The run ends on a block boundary, so every run has the same mix, and
    // runs at least two blocks, so its median block is never the first (the
    // coldest) alone. The traced run alternates plain and traced blocks and
    // runs at least three, so a warm plain block pairs with a traced one.
    val samples = mutable.ArrayBuffer.empty[Sample]
    val loop0 = System.nanoTime()
    var k = 0
    val minOps = (if (trace) 3 else 2) * w.block.size
    while (k % w.block.size != 0 || k < minOps || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val traced = trace && (k / w.block.size) % 2 == 1
      tracer.request = k
      samples += (try {
        val o = tracer.span("op")(w.op(k, traced))
        Sample(k, o.kind, traced, o.seconds, o.rows, o.wrong)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op $k failed: $e")
          Sample(k, "failed", traced, Double.NaN, 0L, Some(s"exception: $e"))
      })
      k += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val endWrong = try w.finish() catch { case NonFatal(e) => Seq(s"end checks threw: $e") }
    val boxEnd = box(spark)

    val ok = samples.filter(_.wrong.isEmpty).toSeq
    require(ok.nonEmpty, s"no operation succeeded: ${samples.flatMap(_.wrong).take(3).mkString("; ")}")
    val wrongs = setupWrong.toSeq ++ samples.flatMap(_.wrong) ++ endWrong
    // set-up and the end-of-run checks count as one operation each
    val attempted = 1 + samples.size + 1
    val failed = Seq(setupWrong.nonEmpty, endWrong.nonEmpty).count(identity) + samples.count(_.wrong.nonEmpty)
    wrongs.distinct.take(10).foreach(m => System.err.println(s"[perfbench] wrong: $m"))

    val plain = ok.filterNot(_.traced)
    // a block is one pass over the workload's op mix, so its service time
    // is the same mix in every run however the seed orders it
    val blocks = plain.groupBy(_.k / w.block.size).values.filter(_.size == w.block.size)
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "block_p50_s" -> (Stats.median(blocks.map(_.map(_.seconds).sum).toSeq), "s"),
      "ops_per_s" -> (plain.size / plain.map(_.seconds).sum, "1/s"))
    val named = namedMetrics(w, plain, attempted, failed, setupTimes)
    val (perBlock, layers) =
      if (trace) Layers.report(ctx, w.block.size, ok, cores)
      else (mutable.LinkedHashMap.empty[String, (Double, String)], mutable.LinkedHashMap.empty[String, (Double, String)])

    named.foreach { case (n, (v, u)) => println(s"metric $n ${Stats.fmt(v)} $u") }
    (perBlock ++ layers).foreach { case (n, (v, u)) => println(s"layer $n ${Stats.fmt(v)} $u") }

    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "box" -> Json.obj("nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
        "start" -> boxStart, "end" -> boxEnd),
      "session_s" -> sessionS, "setup_times_s" -> setupTimes, "loop_s" -> loopS,
      "attempted" -> attempted, "failed" -> failed, "wrong" -> wrongs.distinct.take(20),
      "end_to_end" -> Json.metrics(endToEnd), "named" -> Json.metrics(named),
      "per_block" -> Json.metrics(perBlock), "per_layer" -> Json.metrics(layers),
      "ops" -> samples.map(s => Json.obj("k" -> s.k, "kind" -> s.kind, "traced" -> s.traced,
        "seconds" -> s.seconds, "rows" -> s.rows, "ok" -> s.wrong.isEmpty)))
    val out = new File(opt("out"))
    out.getParentFile.mkdirs()
    Files.write(out.toPath, (artifact + "\n").getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl").toPath,
      tracer.toJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()

    val result = if (trace) perBlock else endToEnd
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.metrics(result)))
  }

  /** The per-kind metrics: per family medians, the tail of the ingest
    * and read ops, their throughput, and the error rate. */
  private def namedMetrics(w: Workload, plain: Seq[Sample], attempted: Int, failed: Int,
      setupTimes: Seq[Double]): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap[String, (Double, String)]("setup_s" -> (Stats.median(setupTimes), "s"))
    val byFamily = plain.groupBy(s => w.family(s.kind))
    for ((f, ss) <- byFamily.toSeq.sortBy(_._1)) m(s"${f}_p50_s") = (Stats.median(ss.map(_.seconds)), "s")
    def tail(name: String, ss: Seq[Sample]): Unit = if (ss.nonEmpty) {
      val t = Stats.tail(ss.map(_.seconds))
      m(s"${name}_tail_s") = (t.fold(Double.NaN)(_._2), "s")
      m(s"${name}_tail_pct") = (t.fold(Double.NaN)(_._1), "pct")
      m(s"${name}_samples") = (ss.size.toDouble, "count")
    }
    val ingest = byFamily.getOrElse("ingest", Nil)
    val reads = plain.filter(s => Set("lookup", "date_filter", "station_filter", "page")(w.family(s.kind)))
    tail("ingest", ingest)
    tail("read", reads)
    if (ingest.nonEmpty) m("ingest_cells_per_s") = (ingest.map(_.rows).sum / ingest.map(_.seconds).sum, "cells/s")
    if (reads.nonEmpty) m("reads_per_s") = (reads.size / reads.map(_.seconds).sum, "requests/s")
    m("error_rate") = (failed.toDouble / attempted, "ratio")
    m
  }

  /** Box stamp: 1-minute load and the 1-row aggregate floor (min of 5). */
  private def box(spark: SparkSession): Json.Raw = {
    val floor = (1 to 5).map { _ =>
      val t = System.nanoTime()
      spark.range(1).selectExpr("sum(id) as s").queryExecution.toRdd.count()
      (System.nanoTime() - t) / 1e9
    }.min
    Json.obj("load1" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "floor_agg_s" -> floor)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of a few percentiles that has at least ten samples beyond
    * it, as (percentile, value); None with fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => s.size * (1 - p / 100) >= 10)
      .map(p => (p, s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))))
  }

  def fmt(v: Double): String = if (v.isNaN) "n/a" else java.lang.Double.toString(v)
}

/** Minimal JSON rendering for the artifact and the result line. */
object Json {
  final case class Raw(json: String) { override def toString: String = json }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(j) => j
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => render(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def metrics(m: collection.Map[String, (Double, String)]): Raw =
    obj(m.toSeq.map { case (n, (v, u)) => n -> obj("value" -> v, "unit" -> u) }: _*)
}
