package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER=local-cluster[w,c,mem] (via spark-submit) runs
    // the identical bench against real executor JVMs, where exchanges and
    // broadcasts pay serialization instead of same-heap memcpy
    val spark = GraftSession("graft-bench")
    val work = new AttemptWork
    spark.sparkContext.addSparkListener(work)
    // Warm the session (codegen compiler, shuffle machinery, parquet
    // reader) so the first measured query doesn't absorb ~4s of JVM init.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // ---- environment floor probes -----------------------------------
    // The recorded artifact has been busy-box-poisoned three rounds
    // running (r13: `paginate_after` 8.44 s recorded vs 0.083 s idle — a
    // 102× phantom on a filter+TakeOrdered plan). min-of-N bounds
    // within-session variance, not sustained cross-session contention,
    // so the artifact now carries its own environment stamp: the two
    // cheapest fixed-cost shapes (a 1-row in-memory aggregate = the pure
    // scheduling/codegen floor; a 5-row parquet groupBy = + file listing
    // and one shuffle) measured at bench start / middle / end. Idle, the
    // agg probe reads ~0.01 s and the shuffle probe ~0.05–0.1 s; a probe
    // reading 5–10× that tells any reader of BENCH_r{N}.json that the
    // box was hot and per-query outliers are contamination, not plans.
    // Each stamp also records the OS 1-minute load average (`load1`) —
    // the box has external tenants, so the artifact carries the direct
    // contention reading beside the indirect floor probes: a reader
    // needs no out-of-band `uptime` context to adjudicate an outlier.
    def floorProbe(): (Double, Double, Double) = {
      def minOf(n: Int)(f: => Unit): Double =
        (1 to n).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      val agg = minOf(5)(
        spark.range(1).selectExpr("sum(id) as s").queryExecution.toRdd.count())
      val shuffle = minOf(5)(
        spark.read.parquet(s"$sfDir/region.parquet")
          .groupBy("r_name").count().queryExecution.toRdd.count())
      val load1 = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      (agg, shuffle, load1)
    }

    // Previous per-query map: any query that comes out >3× its previous
    // value gets an end-of-run re-attempt — on untouched code that ratio
    // is the busy-box signature, and by run end the contention window
    // that produced it has usually passed. Read from the (gitignored,
    // last-run) sidecar when present, else from the COMMITTED per-round
    // baseline: r17 shipped a 341 s artifact with 60× phantoms precisely
    // because the driver's clean checkout had no sidecar, so the defense
    // silently adjudicated against an empty map. The baseline is
    // refreshed at each round end from the round's cleanest run.
    def readQueriesMap(path: String): Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val start = txt.indexOf("\"queries\":{")
      if (start < 0) Map.empty
      else {
        val body = txt.substring(start + 11, txt.indexOf('}', start))
        "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val qFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES_FILE",
      "/root/repo/BENCH_QUERIES.json")
    val baseFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE_FILE",
      "/root/repo/BENCH_BASELINE.json")
    val sidecar = readQueriesMap(qFile)
    val prev: Map[String, Double] =
      if (sidecar.nonEmpty) sidecar else readQueriesMap(baseFile)
    if (prev.isEmpty)
      System.err.println("[bench] WARNING: no previous per-query map " +
        s"($qFile or $baseFile) — contention re-adjudication falls back " +
        "to the same-run median rule only")

    // Each query runs at least twice and reports the MIN over SUCCESSFUL
    // runs: a one-off GC pause or background compile otherwise poisons a
    // single-shot number (round-1 recorded 14.4s for a query that
    // reproduces at ~1s idle), and a transient failure on run 1 must not
    // discard a valid run-2 measurement. When the two fastest samples
    // still disagree by >40% the query gets up to two more attempts:
    // sample variance IS the busy-box signature (three rounds of recorded
    // 2–4× inflation on untouched code that idle re-runs erased), and
    // min-of-N converges to the idle number precisely when it's needed.
    // Only NonFatal failures are swallowed per attempt — a VM error (OOM,
    // stack overflow) aborts the bench loudly.
    //
    // toRdd.count(), NOT Dataset.count(): counting through a fresh
    // Aggregate lets Catalyst prune the query's own projections, so a
    // pure-projection query (text scoring, redaction, fingerprints) would
    // "benchmark" as a scan+count with none of its expressions evaluated.
    // toRdd executes the query's own optimized plan with every output
    // column materialized — the same work Verify's parquet write measures,
    // and the same work the DuckDB comparator does materializing results.
    //
    // Each attempt tags its jobs with a fresh attempt id (see
    // [[AttemptWork]]); an entry's recorded jobs/stages/tasks are those of
    // the attempt whose wall is recorded.
    var failed = Set.empty[String]
    var nAttempts = 0
    def attempt(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[(Double, Int)] = {
      nAttempts += 1
      val id = nAttempts
      spark.sparkContext.setLocalProperty(AttemptWork.Key, id.toString)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        Some(((System.nanoTime() - t0) / 1e9, id))
      } catch { case scala.util.control.NonFatal(t) =>
        // a failed attempt must be VISIBLE, and its failure-fast elapsed
        // time must not masquerade as a measurement
        System.err.println(s"[bench] $name attempt failed: ${t.getMessage}")
        None
      } finally spark.sparkContext.setLocalProperty(AttemptWork.Key, null)
    }
    // queries + declared build steps: training cost stays measured on the
    // ledger even though builds are excluded from the correctness dump
    val all = (SparkEntry.queries ++ SparkEntry.builds).toSeq
    val floorStart = floorProbe()
    val timed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val timedAttempt = scala.collection.mutable.Map.empty[String, Int]
    var floorMid: (Double, Double, Double) = (-1.0, -1.0, -1.0)
    for (((name, fn), i) <- all.zipWithIndex) {
      if (i == all.size / 2) floorMid = floorProbe()
      val times = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
      var n = 0
      def unstable: Boolean = times.size < 2 || {
        val s = times.map(_._1).sorted
        s(1) > s(0) * 1.4
      }
      while (n < 2 || (n < 4 && unstable)) {
        attempt(name, fn).foreach(times += _)
        n += 1
      }
      if (times.isEmpty) { failed += name; timed(name) = -1.0 }
      else {
        val (t, id) = times.minBy(_._1)
        timed(name) = t
        timedAttempt(name) = id
      }
    }
    // End-of-run re-adjudication: re-attempt anything >3× its previous
    // recorded value (twice, keep the overall min). A genuine plan
    // regression reproduces; a contention phantom evaporates. Queries
    // with NO previous entry (new this round, or a checkout with neither
    // sidecar nor baseline) fall back to a same-run rule: anything over
    // max(2 s, 10× the run's median) is far enough outside the fleet
    // that it's either the known heavy build step or contention — two
    // extra attempts are cheap either way, and min-keeping never hurts
    // a genuine measurement.
    val successTimes = timed.values.filter(_ >= 0).toSeq.sorted
    val runMedian =
      if (successTimes.isEmpty) 0.0 else successTimes(successTimes.size / 2)
    val selfCut = math.max(2.0, 10 * runMedian)
    val suspects = timed.collect {
      case (name, t) if t > 0 && (prev.get(name) match {
        case Some(p) if p > 0.05 => t > 3 * p // the sharp per-query rule
        case _ => t > selfCut // no/too-small baseline: same-run rule
      }) => name
    }.toSeq
    for (name <- suspects) {
      val fn = all.collectFirst { case (n, f) if n == name => f }.get
      val re = Seq(attempt(name, fn), attempt(name, fn)).flatten
      if (re.nonEmpty && re.map(_._1).min < timed(name)) {
        val (t, id) = re.minBy(_._1)
        // getOrElse: the same-run median rule flags queries with NO prev
        // entry — a bare prev(name) here would abort the whole bench
        System.err.println(f"[bench] $name re-adjudicated: " +
          f"${timed(name)}%.3f -> $t%.3f s " +
          f"(prev ${prev.getOrElse(name, -1.0)}%.3f)")
        timed(name) = t
        timedAttempt(name) = id
      }
    }
    val floorEnd = floorProbe()
    work.drain(spark)
    val results = timed.toSeq
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val workJson = results.collect { case (k, _) if timedAttempt.contains(k) =>
      val Array(j, st, t) = work.of(timedAttempt(k))
      s"\"$k\":{\"jobs\":$j,\"stages\":$st,\"tasks\":$t}"
    }.mkString("{", ",", "}")
    // total covers SUCCESSFUL queries only — failures are listed, not summed
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fl(p: (Double, Double, Double)) =
      s"""{"agg":${p._1},"shuffle":${p._2},"load1":${p._3}}"""
    val floorJson = s"""{"start":${fl(floorStart)},"mid":${fl(floorMid)},""" +
      s""""end":${fl(floorEnd)}}"""
    val retried = suspects.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"work":$workJson,"errors":$errs,""" +
      s""""floor":$floorJson,"readjudicated":$retried,"sf":"$sfDir"}"""
    // The driver tail-captures stdout, and the one giant per-query line was
    // truncated two rounds running (BENCH_r05/r06 "parsed": null) — the hard
    // perf signal got lost. So: the full per-query map goes to stderr AND a
    // sidecar file, while stdout's LAST line is a short JSON document that
    // always survives tail capture. n_queries makes the short line
    // self-describing; queries_file points at the full breakdown.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(qFile),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(t) =>
      System.err.println(s"[bench] could not write $qFile: ${t.getMessage}")
    }
    System.err.println(fullJson)
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"errors":$errs,"floor":$floorJson,""" +
      s""""readjudicated":$retried,"sf":"$sfDir","queries_file":"$qFile"}""")
    spark.stop()
  }
}

/** Spark work per bench attempt: jobs, completed stages and their tasks,
  * attributed by the [[AttemptWork.Key]] local property that every job an
  * attempt submits carries (threads an entry spawns inherit it). Listener
  * callbacks arrive on one bus thread; reads come from the bench thread. */
private final class AttemptWork extends SparkListener {
  private val counts = scala.collection.mutable.Map.empty[Int, Array[Long]]
  private val attemptOfStage = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    Option(j.properties).flatMap(p => Option(p.getProperty(AttemptWork.Key)))
      .foreach { a =>
        val id = a.toInt
        counts.getOrElseUpdate(id, new Array[Long](3))(0) += 1
        j.stageIds.foreach(attemptOfStage(_) = id)
      }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      attemptOfStage.remove(s.stageInfo.stageId).foreach { id =>
        val c = counts(id)
        c(1) += 1
        c(2) += s.stageInfo.numTasks
      }
    }

  /** (jobs, stages, tasks) of one attempt. */
  def of(attempt: Int): Array[Long] = synchronized {
    counts.get(attempt).map(_.clone).getOrElse(new Array[Long](3))
  }

  /** Block until the bus has delivered every event posted so far: the bus
    * delivers in post order, so once a sentinel job's start arrives, the
    * events of every earlier job have too. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(AttemptWork.Key, "0")
    try spark.range(1).queryExecution.toRdd.count()
    finally spark.sparkContext.setLocalProperty(AttemptWork.Key, null)
    val deadline = System.nanoTime() + 10e9.toLong
    while (synchronized(!counts.contains(0)) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }
}

private object AttemptWork {
  val Key = "graft.bench.attempt"
}
