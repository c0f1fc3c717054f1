package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val sc = spark.sparkContext

  test("a failing body cancels a sibling's running job, and the sibling's error is attached") {
    OverlapSpec.taskStarted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap.both(spark)(
        // local mode: the task runs in this JVM and opens the latch
        sc.parallelize(1 to 2, 2).map { x =>
          OverlapSpec.taskStarted.countDown()
          Thread.sleep(120000)
          x
        }.count(), {
          assert(OverlapSpec.taskStarted.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("boom")
        })
    }
    assert(e.getMessage == "boom")
    assert(e.getSuppressed.toSeq.map(_.getMessage).exists(_.contains("cancelled")),
      s"sibling's cancellation not attached: ${e.getSuppressed.toSeq}")
    // the sleeping tasks were interrupted, not waited out
    assert((System.nanoTime() - t0) / 1e9 < 60)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a nested call completes") {
    val (a, (b, c)) = Overlap.both(spark)(
      spark.range(10).count(),
      Overlap.both(spark)(
        spark.range(20).count(),
        Overlap.all(spark)(Seq(() => spark.range(5).count(), () => spark.range(6).count()))))
    assert(a == 10 && b == 20 && c == Seq(5L, 6L))
  }

  test("every body's jobs carry the caller's job group and local properties, and the call's tag") {
    val seen = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty("graft.spec.caller") == "overlap")
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("overlap-spec-group", "caller's group")
    sc.setLocalProperty("graft.spec.caller", "overlap")
    try {
      val threads = new ConcurrentLinkedQueue[String]
      Overlap.all(spark)(Seq(3L, 4L).map(n => () => {
        threads.add(Thread.currentThread.getName)
        spark.range(n).count()
      }))
      val deadline = System.nanoTime() + 10e9.toLong
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.size >= 2, s"jobs seen: ${seen.size}")
      assert(threads.asScala.toSet.size == 2, "bodies did not run on their own threads")
      seen.asScala.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") == "overlap-spec-group")
        assert(Option(p.getProperty("spark.job.tags")).exists(_.contains("graft-overlap-")))
      }
      // the caller's own properties are untouched
      assert(sc.getLocalProperty("spark.jobGroup.id") == "overlap-spec-group")
      assert(sc.getJobTags().isEmpty)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.caller", null)
      sc.removeSparkListener(listener)
    }
  }
}

object OverlapSpec {
  @volatile var taskStarted = new CountDownLatch(1)
}
