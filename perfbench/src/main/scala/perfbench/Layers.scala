package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, from its spans and the listener. */
object Layers {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** Returns (per-block engine numbers and the tracing overhead, which the
    * result line carries; every per-span and per-layer number, for the
    * artifact). */
  def report(c: Ctx, blockSize: Int, ok: Seq[Main.Sample], cores: Int): (Metrics, Metrics) = {
    org.apache.spark.BenchBus.drain(c.spark.sparkContext)
    val t = c.tracer
    val okOps = ok.map(_.k).toSet
    val spans = t.spans.filter(s => okOps.contains(s.request)).toSeq

    /** Engine numbers of groups of spans (a span, or the ops of a block):
      * medians over the groups of the group totals. */
    def engineNumbers(prefix: String, groups: Seq[Seq[Span]], out: Metrics): Unit = {
      val eng = groups.map { ss =>
        val e = new Engine
        ss.foreach(s => e.add(t.engine(c.listener, s)))
        val gap = ss.map(s => s.wallS - Tracer.covered(e.jobIntervals.toSeq, s) / 1e3).sum
        (ss.map(_.wallS).sum, gap, e)
      }
      def med(f: ((Double, Double, Engine)) => Double) = Stats.median(eng.map(f))
      out(s"${prefix}jobs") = (med(_._3.jobs.toDouble), "count")
      out(s"${prefix}stages") = (med(_._3.stages.toDouble), "count")
      out(s"${prefix}tasks") = (med(_._3.tasks.toDouble), "count")
      out(s"${prefix}busy_frac") = (med { case (wall, _, e) => e.runMs / (wall * 1e3 * cores) }, "ratio")
      out(s"${prefix}driver_gap_s") = (med(_._2), "s")
      out(s"${prefix}gc_s") = (med(_._3.gcMs / 1e3), "s")
      out(s"${prefix}input_bytes") = (med(_._3.inputBytes.toDouble), "bytes")
      out(s"${prefix}output_bytes") = (med(_._3.outputBytes.toDouble), "bytes")
      out(s"${prefix}shuffle_read_bytes") = (med(_._3.shuffleRead.toDouble), "bytes")
      out(s"${prefix}shuffle_write_bytes") = (med(_._3.shuffleWrite.toDouble), "bytes")
      out(s"${prefix}spill_bytes") = (med(_._3.spill.toDouble), "bytes")
      out(s"${prefix}peak_exec_mem_bytes") = (med(_._3.peakMem.toDouble), "bytes")
    }

    val perBlock: Metrics = mutable.LinkedHashMap.empty
    val opSpans = spans.filter(_.name == "op")
    engineNumbers("spark.", opSpans.groupBy(_.request / blockSize).values.toSeq, perBlock)
    // whole blocks only, and not the first (cold) one
    def blockP50(traced: Boolean) = Stats.median(ok.filter(_.traced == traced).groupBy(_.k / blockSize)
      .collect { case (b, ss) if b > 0 && ss.size == blockSize => ss.map(_.seconds).sum }.toSeq)
    perBlock("trace.traced_block_p50_s") = (blockP50(true), "s")
    perBlock("trace.overhead") = (blockP50(true) / blockP50(false) - 1, "ratio")

    val detail: Metrics = mutable.LinkedHashMap.empty
    for (name <- spans.map(_.name).distinct if name != "op") {
      val ss = spans.filter(_.name == name)
      detail(s"${name}_s") = (Stats.median(ss.map(_.wallS)), "s")
      detail(s"$name.self_s") = (Stats.median(ss.map(t.selfS)), "s")
      detail(s"$name.calls") = (ss.size.toDouble, "count")
      engineNumbers(s"$name.spark.", ss.map(Seq(_)), detail)
    }
    // the scheduled job's own time: its wall minus what its layer calls
    // cost when the benchmark makes them itself (the explicit store open
    // is a probe the job does not make)
    val jobRuns = spans.filter(_.name == "IngestJob.run")
    val composed = spans.filter(_.name == "IngestJob")
    if (jobRuns.nonEmpty && composed.nonEmpty) {
      val layerSum = composed.map(s => t.children(s.id).filter(_.name != "KeyedStore.store_open").map(_.wallS).sum)
      detail("IngestJob.self_s") = (Stats.median(jobRuns.map(_.wallS)) - Stats.median(layerSum), "s")
    }
    for ((name, vs) <- c.layer)
      detail(name) = (Stats.median(vs.toSeq), if (name.endsWith("bytes_read_per_req")) "bytes" else "ratio")
    (perBlock, detail)
  }
}
