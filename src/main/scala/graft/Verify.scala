package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    Writes.mkdirs(spark, outDir)
    // dev-only subset filter (unset in driver runs → full dump)
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // NonFatal ONLY (Bench's documented choice): an OOM/StackOverflow
      // must abort the dump loudly, not degrade ~125 later queries into
      // mass failures against a broken JVM with the root cause buried
      try Writes(fn(spark, sfDir).coalesce(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Data-dependent oracle literals (whiten/abtt eigenbasis) — computed
    // AFTER the dump so a failure here degrades those entries to the
    // driver's rows-only fallback instead of aborting the round.
    try SparkEntry.prepareOracles(spark, sfDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] prepareOracles failed: ${e.getMessage}")
    }
    // every SQL text escaped ([[IngestJob.jsonEscape]]): a raw tab or CR
    // in an oracle's SQL would make every JSON reader of the file fail
    def q(s: String): String = "\"" + IngestJob.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
