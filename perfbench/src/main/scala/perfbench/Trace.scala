package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, request: Int, startMs: Double,
    var endMs: Double = Double.NaN) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Engine work attributed to one job group (= one span). */
final class Engine {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def add(o: Engine): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    peakMem = math.max(peakMem, o.peakMem); jobIntervals ++= o.jobIntervals
  }
}

/**
 * Listener registered by the benchmark: attributes every Spark job, stage
 * and task to the job group that was current when the job was submitted.
 * The tracer sets the group to the innermost open span.
 */
final class EngineListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  val byGroup = mutable.HashMap.empty[String, Engine]

  private def of(g: String) = byGroup.getOrElseUpdate(g, new Engine)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => of(g).jobIntervals += ((t0.toDouble, e.time.toDouble)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

/**
 * In-memory span recorder. Disabled, `span` only runs its body. Enabled, it
 * records (name, start, end, parent, request id) and makes the span the
 * Spark job group, so the listener can attribute engine work to it.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  var request = -1

  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), request, nowMs)
      spans += s
      stack ::= s
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Engine work of a span and all its descendants. */
  def engine(l: EngineListener, s: Span): Engine = {
    val e = new Engine
    l.byGroup.get(s"span-${s.id}").foreach(e.add)
    children(s.id).foreach(c => e.add(engine(l, c)))
    e
  }

  /** Span wall minus the part of its interval its child spans cover. */
  def selfS(s: Span): Double = s.wallS - Tracer.covered(children(s.id).map(c => (c.startMs, c.endMs)), s) / 1e3

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }
}

object Tracer {
  /** Milliseconds of `within` covered by the union of `ivs`. */
  def covered(ivs: Seq[(Double, Double)], within: Span): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, within.startMs), math.min(b, within.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    for ((a, b) <- clipped) {
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }

  /** SQL metrics of every file scan in an executed plan (after collect). */
  def scans(plan: SparkPlan): Seq[Map[String, Long]] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanLike => Seq(s.metrics.map { case (k, v) => k -> v.value })
    case p => p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }
}
