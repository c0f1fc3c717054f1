package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Layout, LayoutTestKit}

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("bucketed tables join without any shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      LayoutTestKit.writeBucketed(li, "li_b", Seq("l_orderkey"), 4)
      LayoutTestKit.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "o_b", Seq("l_orderkey"), 4)
      val joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
      assert(joined.count() > 0)
      assert(LayoutTestKit.isShuffleFree(joined), "bucketed join should not shuffle:\n" +
        joined.queryExecution.executedPlan)
      // same join on the raw (unbucketed) frames DOES shuffle
      val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      plain.count()
      assert(!LayoutTestKit.isShuffleFree(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("salted sum equals plain groupBy sum") {
    val df = (1 to 10000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i.toDouble, i))
      .toDF("k", "v", "row")
    val plain = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Layout.saltedSum(df, Seq("k"), "v", col("row"), salts = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == plain(k)._2 && math.abs(s - plain(k)._1) < 1e-6, k)
    }
  }

  test("salted join equals plain join") {
    val fact = (1 to 5000).map(i => (if (i % 3 == 0) 1L else (i % 100).toLong, i))
      .toDF("key", "row")
    val dim = (0L until 100L).map(k => (k, s"dim$k")).toDF("key", "attr")
    val plain = fact.join(dim, "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val salted = Layout.saltedJoin(fact, dim, "key", col("row"), salts = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain && plain.nonEmpty)
  }
}
