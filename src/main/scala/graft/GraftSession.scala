package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory for every main (`Main`, `Verify`, `Bench`,
 * `FixtureGen`, `tools.PlanDump`), so master, partitioning, AQE and time
 * zone cannot drift between entry points.
 *
 *  - `SPARK_GRAFT_MASTER`: the master URL, else `local[cpus]`. Overriding
 *    it to `local-cluster[w,c,mem]` (via spark-submit, which ships the app
 *    jar) runs the identical work against separate executor JVMs, where
 *    closures, broadcasts and aggregate buffers cross a real serialization
 *    boundary that single-JVM `local[n]` hides.
 *  - `SPARK_GRAFT_CPUS`: `cpus`, else the JVM's available processors. It
 *    sizes both the local master's cores and `spark.sql.shuffle.partitions`.
 *
 * Tests keep their own fixed `local[4]` session (`SparkTestBase`).
 */
object GraftSession {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet has shipped TIMESTAMP(NANOS); see SparkEntry.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
