package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/**
 * The engine's one way to overlap independent Spark job chains on the
 * driver (the ANN, MRL and reference-LM builds; [[IngestJob]]'s metadata
 * and values merges): the scheduler interleaves their stages, so the
 * fixed per-job costs and single-task tail stages of one chain back-fill
 * with the other's work.
 *
 * Each body runs on its own new driver thread. There is no pool, so a body
 * that itself overlaps (a nested call) never waits on a slot its own
 * parent holds. A thread inherits its parent's Spark local properties (the
 * job group, the scheduler pool and any caller property: they are
 * inheritable thread-locals, copied when the thread starts) and active
 * session, so each body's jobs are attributed exactly like the caller's.
 *
 * Every body tags its jobs with one Spark job tag per call. On the first
 * failure the call cancels that tag, which stops the siblings' running
 * jobs and interrupts their tasks, instead of only abandoning the threads
 * waiting on them. It then joins every body and rethrows the first failure
 * with the others attached as suppressed, so no job of the call is still
 * running when it returns or throws. (A sibling that is between two jobs
 * at the moment of cancellation still submits its next one, and the call
 * waits for it.)
 *
 * Tags, not job groups: a thread has one job group, and it belongs to the
 * caller. The benchmark's tracer, for one, attributes every job to the span
 * that set the group, so setting it here would re-attribute the bodies'
 * jobs. A thread carries any number of tags, and a nested call's threads
 * inherit the outer call's tag, so cancelling the outer call stops the
 * nested call's jobs too.
 */
object Overlap {

  /** Runs every body on its own driver thread; returns their results in
    * order once all have finished. */
  def all[T](spark: SparkSession)(bodies: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val firstError = new AtomicReference[Throwable]
    val results = new Array[Either[Throwable, Any]](bodies.size)
    val threads = bodies.zipWithIndex.map { case (body, i) =>
      val t = new Thread(() => results(i) =
        try {
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          Right(body())
        } catch { case e: Throwable =>
          if (firstError.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
          Left(e)
        }, s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread.interrupt()
    Option(firstError.get).foreach { first =>
      results.collect { case Left(e) if e ne first => e }.foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.map { case Right(x) => x.asInstanceOf[T]; case Left(e) => throw e }
  }

  /** [[all]] for two bodies of different result types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val r = all[Any](spark)(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
