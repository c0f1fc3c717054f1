package graft

import org.apache.spark.sql.SparkSession

import graft.config.JobConfig
import graft.sources.RemoteFetch

/**
 * CLI entry point — the engine's equivalent of the reference's container
 * run (`utils/task.sh` → date templating → `driver.py config.json`,
 * SURVEY §3.3):
 *
 *   spark-submit --class graft.Main engine.jar <config.json> <storeRoot> \
 *       [--by-position] [--date YYYY-MM-DD]
 *
 * The config is read, `%y/%m/%d` placeholders are templated (yesterday by
 * default, `--date` overrides — `utils/update_date_string_in_config.py`
 * semantics), and every dataset file is ingested with per-file
 * create/replace/unchanged stats printed as JSON lines.
 *
 * The training-data side ships the same way:
 *
 *   spark-submit --class graft.Main engine.jar trainset \
 *       <config.json> <docsParquet> <outRoot>
 *
 * which runs [[TrainingSetJob]] (clean → shards → chunk/pack → manifest)
 * and prints the manifest counts as one JSON line.
 */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("trainset")) return trainsetMain(args.drop(1))
    require(args.length >= 2, "usage: graft.Main <config.json> <storeRoot> [--by-position] [--date YYYY-MM-DD]" +
      " | graft.Main trainset <config.json> <docsParquet> <outRoot>")
    val configPath = args(0)
    val storeRoot = args(1)
    val byPosition = args.contains("--by-position")
    val date = args.sliding(2).collectFirst {
      case Array("--date", d) => java.time.LocalDate.parse(d)
    }.getOrElse {
      // a trailing `--date` with a missing value must be a usage error,
      // not a silent fall-through to yesterday (a backfill for a specific
      // day would quietly process the wrong day's files)
      require(!args.contains("--date"),
        "--date requires a value: --date YYYY-MM-DD")
      java.time.LocalDate.now.minusDays(1)
    }

    val spark = GraftSession("graft-ingest")

    val cfg = loadConfig(spark, configPath, date)
    val results = IngestJob.run(spark, cfg, storeRoot, byPosition)
    results.foreach(r => println(IngestJob.statsJson(r)))
    println(s"""{"all_complete":${IngestJob.allComplete(spark, storeRoot)}}""")
    spark.stop()
  }

  /** `trainset <config.json> <docsParquet> <outRoot>`: the training-set
    * pipeline under the same session defaults as ingestion. */
  private def trainsetMain(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.Main trainset <config.json> <docsParquet> <outRoot>")
    val spark = GraftSession("graft-trainset")
    val r = TrainingSetJob.run(spark, args(1), args(2),
      graft.config.TrainingSetConfig.parse(readRaw(spark, args(0))))
    println(s"""{"clean_docs":${r.cleanDocs},"mixed_docs":${r.mixedDocs},""" +
      s""""train_chunks":${r.trainChunks},"train_bins":${r.trainBins},""" +
      s""""shards":${r.shardsWritten}}""")
    spark.stop()
  }

  /**
   * Load + date-template the job config from a local path, Hadoop URI, or
   * http(s) URL. The scheduled reference run fetches its config from
   * `$INGESTION_CONFIG_URL` before the driver even starts
   * (`utils/task.sh:9` wget) — `RemoteFetch.resolve` folds that step into
   * the entry point, and the Hadoop FS read makes `hdfs://`/`s3a://` config
   * paths work on a cluster too.
   */
  def loadConfig(spark: SparkSession, pathOrUrl: String,
      date: java.time.LocalDate): JobConfig =
    JobConfig.parse(JobConfig.templateDates(readRaw(spark, pathOrUrl), date))

  /** Read a config body from a local path, Hadoop URI, or http(s) URL
    * (shared by both entry points). */
  private def readRaw(spark: SparkSession, pathOrUrl: String): String =
    Writes.readText(spark, RemoteFetch.resolve(spark, pathOrUrl))
}
