package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.config.{DatasetSpec, JobConfig}
import graft.operators.{KeyedStore, Reshape}
import graft.sources.WideMatrix

/**
 * Config-driven ingestion job — the engine's unification of the reference's
 * three entry points (SURVEY §3): `driver.py` (columnar path, by-name
 * classification), `tapis_direct_driver.py` (row path, by-position
 * classification) and the containerized scheduled run (`utils/task.sh` +
 * date templating, handled by `JobConfig.templateDates` upstream).
 *
 * Store layout: `$root/values` — parquet partitioned by `date` (daily
 * increments rewrite only their partitions); `$root/metadata` — unpartitioned
 * keyed table on `skn`; `$root/state/` JSON files — per-file completion markers
 * matching the reference's state-file contract (`README.md:41-43`,
 * `utils/all_complete.py:4-12`).
 */
object IngestJob {

  final case class FileResult(file: String, created: Long, replaced: Long,
      unchanged: Long, metadataRows: Long)

  def valuesDir(root: String) = s"$root/values"
  def metadataDir(root: String) = s"$root/metadata"
  def stateDir(root: String) = s"$root/state"

  /** Run one dataset file through scan → classify → reshape → MERGE. The
    * metadata and values merges write separate tables and are both bound
    * by fixed per-job costs, so they run side by side ([[Overlap.both]]);
    * the state marker is written only once both have landed, and a failure
    * of either fails the file with no marker. */
  def runFile(spark: SparkSession, ds: DatasetSpec, file: String, root: String,
      location: String, byPosition: Boolean): FileResult = {
    val wide = WideMatrix.readCsv(spark, file)

    def mergeValues() = KeyedStore.mergeIntoTable(
      Reshape.pipeline(WideMatrix.valuesWide(wide, ds, byPosition), ds),
      valuesDir(root), ds.keyFields, partitionCol = Some("date"),
      replace = ds.replaceDuplicates)
    val (metaRows, st) =
      if (ds.writeMetadata && !byPosition) Overlap.both(spark)(
        // every increment row is classified exactly once, so the stats sum
        // IS the row count — no second execution of the metadata pipeline
        KeyedStore.mergeIntoTable(WideMatrix.metadata(wide, ds, location),
          metadataDir(root), Seq("skn"), partitionCol = None).incrementRows,
        mergeValues())
      else (0L, mergeValues())

    writeState(spark, root, file, complete = true)
    FileResult(file, st.created, st.replaced, st.unchanged, metaRows)
  }

  /** Run the whole job config (outer loop over datasets × files —
    * `driver.py:101,136`). */
  def run(spark: SparkSession, cfg: JobConfig, root: String,
      byPosition: Boolean = false): Seq[FileResult] =
    for (ds <- cfg.data; f <- ds.files)
      yield runFile(spark, ds, f, root, cfg.location, byPosition)

  /**
   * Continuous ingestion: watch a directory for arriving wide CSVs and
   * MERGE each one into the store — the Structured-Streaming upgrade of the
   * reference's scheduled daily container run (SURVEY §2.8).
   *
   * The stream carries file PATHS (binaryFile source, content column never
   * selected → pruned), and each discovered file goes through `runFile`,
   * which re-reads it with ITS OWN header. This matters because the wide
   * matrix's columns ARE dates: a fixed readStream-csv schema probed at
   * start would silently mis-align tomorrow's rolling-window files
   * (positional parsing against a stale header). Path-driven per-file
   * ingestion also starts cleanly on an empty landing directory.
   *
   * Checkpointing makes file discovery exactly-once; the MERGE is
   * idempotent anyway, so at-least-once redelivery converges. Pass
   * `Trigger.AvailableNow` for a drain-and-stop run, or a processing-time
   * trigger to tail the directory.
   */
  def runStream(spark: SparkSession, ds: DatasetSpec, watchDir: String, root: String,
      checkpoint: String, trigger: org.apache.spark.sql.streaming.Trigger,
      byPosition: Boolean = true, location: String = "hawaii")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binSchema)
      .option("pathGlobFilter", "*.csv")
      .load(watchDir)
      .select("path")
    files.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // a micro-batch is a handful of newly-arrived files (driver-side
        // loop over paths is the reference's own per-file granularity and
        // keeps per-file header classification + stats)
        batch.collect().map(_.getString(0)).sorted.foreach { path =>
          println(statsJson(runFile(spark, ds, path, root, location, byPosition),
            Some(batchId)))
        }
        ()
      }
      .start()
  }

  /** One per-file stats line as JSON — the CLI's and the stream's shared
    * rendering (only the stream's carries `batch`). The file path is
    * escaped: a quote, backslash or control character in it must not
    * break the line. */
  private[graft] def statsJson(r: FileResult, batch: Option[Long] = None): String =
    batch.fold("{")(b => s"""{"batch":$b,""") +
      s""""file":"${jsonEscape(r.file)}","created":${r.created},""" +
      s""""replaced":${r.replaced},"unchanged":${r.unchanged},""" +
      s""""metadata_rows":${r.metadataRows}}"""

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Per-file state marker (resume contract, `README.md:41-43`). */
  private def writeState(spark: SparkSession, root: String, file: String,
      complete: Boolean): Unit = {
    val name = java.util.UUID.nameUUIDFromBytes(file.getBytes("UTF-8")).toString
    Writes.writeFile(spark, s"${stateDir(root)}/$name.json",
      s"""{"file": "${jsonEscape(file)}", "complete": $complete}""".getBytes("UTF-8"))
  }

  /** all-complete fold (A7; `utils/all_complete.py:4-12`): AND over the
    * `complete` flag of every state file. */
  def allComplete(spark: SparkSession, root: String): Boolean = {
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(stateDir(root))
    if (!fs.exists(dir)) false
    else {
      val files = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".json"))
      files.nonEmpty && files.forall(f =>
        Writes.readText(spark, f.getPath.toString).contains("\"complete\": true"))
    }
  }
}
