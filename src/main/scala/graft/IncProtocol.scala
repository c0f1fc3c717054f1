package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The increment protocol's filesystem primitives, shared by the
 * micro-batch jobs ([[EmbeddingCurationJob]], [[TrainingSetJob]]'s
 * incremental form): content-keyed write-ahead verdicts + marker-gated
 * appends give at-least-once delivery an exactly-once curation EFFECT —
 * a redelivered increment replays its recorded verdicts and completed
 * appends are skipped, so nothing lands twice. The residual window both
 * jobs document: a crash BETWEEN an append finishing and its marker
 * creation still double-appends that one relation (transactional table
 * formats close it; parquet appends cannot).
 */
private[graft] object IncProtocol {

  /** Name prefix of the per-increment applied markers in a relation dir. */
  private val MarkerPrefix = "_graft_inc_applied_"

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A parquet dir counts as written only once its _SUCCESS commits —
    * bare existence would treat a crashed partial write as state. */
  def completed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** Whether `incKey`'s append to `relDir` already landed (its marker
    * exists) — the lock condition for config-change guards: once an
    * increment has mutated a relation, its verdicts can no longer be
    * re-evaluated under different parameters. */
  def appliedTo(spark: SparkSession, relDir: String, incKey: String): Boolean =
    exists(spark, s"$relDir/$MarkerPrefix$incKey")

  /** Number of increments whose append to `relDir` landed — its
    * markers, counted by one directory listing, no scan. */
  def appliedCount(spark: SparkSession, relDir: String): Long = {
    val dir = new Path(relDir)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir)
      .count(_.getPath.getName.startsWith(MarkerPrefix)).toLong
  }

  /** Run `write` into `relDir` exactly once per increment content: the
    * marker file gates the append, so a retried increment skips writes
    * that already landed instead of double-appending. */
  def appendOnce(spark: SparkSession, relDir: String, incKey: String)(
      write: => Unit): Unit = {
    val marker = s"$relDir/$MarkerPrefix$incKey"
    if (!exists(spark, marker)) {
      write
      Writes.writeFile(spark, marker, Array.emptyByteArray, overwrite = false)
    }
  }

  /** GC the write-ahead state of FULLY-COMPLETED increments under
    * `stateRoot` (dirs named `inc_<key>`): a state dir is deleted only
    * when the increments LEDGER at `ledgerDir` both carries the
    * increment's applied marker (its last write — every append landed)
    * AND contains a ledger row with `inc_key == key`, i.e. the
    * fully-applied short-circuit is actually available on redelivery —
    * without the row, a redelivered increment would fall through to the
    * verdict-replay path and need the verdicts this GC would have
    * deleted. One mergeSchema ledger read per sweep (a ledger spanning
    * the inc_key schema upgrade has mixed footers). Returns
    * (dirsBefore, dirsKept). */
  def gcIncState(spark: SparkSession, stateRoot: String,
      ledgerDir: String): (Long, Long) = {
    val root = new Path(stateRoot)
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0L, 0L)
    val dirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("inc_"))
    val before = dirs.length.toLong
    val ledgerKeys: Set[String] =
      if (!exists(spark, ledgerDir)) Set.empty
      else {
        val ledger = spark.read.option("mergeSchema", "true").parquet(ledgerDir)
        if (!ledger.columns.contains("inc_key")) Set.empty
        else ledger.select(org.apache.spark.sql.functions.col("inc_key"))
          .na.drop().distinct().collect().map(_.getString(0)).toSet
      }
    var kept = 0L
    dirs.foreach { s =>
      val key = s.getPath.getName.stripPrefix("inc_")
      if (ledgerKeys.contains(key) && appliedTo(spark, ledgerDir, key))
        fs.delete(s.getPath, true)
      else kept += 1
    }
    (before, kept)
  }
}
