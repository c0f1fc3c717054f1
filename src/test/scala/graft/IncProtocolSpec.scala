package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.operators.Materialize

class IncProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val proto = new IncProtocol[IncProtocolSpec.Counts](Seq("rows"),
    { case Seq(n) => IncProtocolSpec.Counts(n) }, _ => Nil)

  private def batch(): DataFrame = {
    import spark.implicits._
    Materialize(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), None)
  }

  /** Whether every block-backed leaf of `df` still holds its blocks. */
  private def pinned(df: DataFrame): Boolean = {
    val rdds = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    rdds.nonEmpty && rdds.forall(_.getStorageLevel != StorageLevel.NONE)
  }

  test("an increment releases the batch and every frame it pins when it ends") {
    val root = java.nio.file.Files.createTempDirectory("inc_pins").toString
    val b = batch()
    var p: DataFrame = null
    val r = proto.once(spark, root, b, "id", "v") { inc =>
      p = inc.pin(b.filter("id > 1"), None)
      assert(pinned(b) && pinned(p))
      IncProtocolSpec.Counts(p.count())
    }
    assert(r == IncProtocolSpec.Counts(2))
    assert(!pinned(b) && !pinned(p), "an increment's pins outlived it")
    // the redelivery short-circuits to the ledger row, and releases too
    val b2 = batch()
    assert(proto.once(spark, root, b2, "id", "v")(_ => fail("re-ran")) == r)
    assert(!pinned(b2))
  }

  test("a failing increment releases its pins and writes no ledger row") {
    val root = java.nio.file.Files.createTempDirectory("inc_pins_fail").toString
    val b = batch()
    var p: DataFrame = null
    intercept[IllegalStateException](proto.once(spark, root, b, "id", "v") { inc =>
      p = inc.pin(b.filter("id > 1"), None)
      throw new IllegalStateException("stage failed")
    })
    assert(!pinned(b) && !pinned(p))
    assert(!IncProtocol.exists(spark, IncProtocol.incrementsDir(root)))
  }
}

object IncProtocolSpec {
  final case class Counts(rows: Long)
}
