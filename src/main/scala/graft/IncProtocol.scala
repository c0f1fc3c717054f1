package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Compaction, Materialize}

/**
 * The increment protocol of the micro-batch jobs ([[EmbeddingCurationJob]],
 * [[TrainingSetJob]]'s incremental form): content-keyed write-ahead
 * verdicts + marker-gated appends give at-least-once delivery an
 * exactly-once curation EFFECT — a redelivered increment replays its
 * recorded verdicts and completed appends are skipped, so nothing lands
 * twice. One instance per job owns everything the jobs share:
 *
 *  - the entry guard against a crashed compaction swap
 *    ([[requireNoCrashedSwap]]);
 *  - the increments LEDGER under `<outRoot>/increments`: one row per
 *    applied increment, named once by the job (`ledgerCols`, the fields of
 *    its result type, in order, plus `inc_key`), written as the
 *    increment's LAST write, read back for the fully-applied short-circuit
 *    and rendered as the stream's per-batch line ([[once]]);
 *  - the write-ahead state under `<outRoot>/inc_state/inc_<key>` and its
 *    GC ([[IncProtocol.gcIncState]]);
 *  - the mode rule of every marker-gated append
 *    ([[IncProtocol.appendOnce]]);
 *  - maintenance compaction of the job's append-grown relations
 *    ([[compact]]) and the Structured Streaming sink that runs one
 *    increment per delivered batch and compacts every `compact_every`
 *    applied increments ([[runStream]]).
 *
 * The residual window both jobs document: a crash BETWEEN an append
 * finishing and its marker creation still double-appends that one relation
 * (transactional table formats close it; parquet appends cannot).
 */
private[graft] final class IncProtocol[R <: Product](
    ledgerCols: Seq[String], fromLedger: Seq[Long] => R,
    relations: String => Seq[IncProtocol.Relation]) {
  import IncProtocol._

  /** The job's append-grown relations, the ledger last. */
  private def appended(outRoot: String): Seq[Relation] =
    relations(outRoot) :+ Relation(incrementsDir(outRoot))

  /** A compaction swap that crashed between its renames leaves a relation
    * MISSING with its data parked in `__compact_old` — to a job that looks
    * exactly like a first increment (a registry probe would silently
    * restart from empty and re-ship every prior duplicate). Fail loudly
    * with the recovery instruction. */
  def requireNoCrashedSwap(spark: SparkSession, outRoot: String): Unit =
    for (Relation(d, _, _) <- appended(outRoot))
      require(!crashedSwapBackup(spark, d),
        s"crashed compaction swap: $d is missing but ${d}__compact_old " +
          "exists — rename the backup back before running increments")

  /**
   * Runs `body` for the pinned increment `b` exactly once per content key
   * ([[AnnIndex.incrementKey]] over `idCol` and `payloadCol`), then
   * appends its ledger row — the increment's LAST write, so the ledger
   * marker proves every earlier append landed. `b` and every frame the
   * body pins through [[IncProtocol.Increment.pin]] are released when the
   * increment ends, whether it succeeds or fails.
   *
   * A FULLY-APPLIED increment short-circuits to its recorded ledger row:
   * every append is marker-gated so a redelivery's effects are nil, and
   * this path is deliberately CONFIG-AGNOSTIC — a legitimate config change
   * across a stream restart must not crash on the checkpoint's redelivered
   * last batch. It also keeps completed-replay counts exact after
   * [[IncProtocol.gcIncState]] removed the write-ahead verdicts. A ledger
   * without the `inc_key` column (written before the column existed) falls
   * through to `body`, whose appends stay marker-gated.
   */
  def once(spark: SparkSession, outRoot: String, b: DataFrame, idCol: String,
      payloadCol: String)(body: Increment => R): R = {
    val pins = ArrayBuffer(b)
    try {
      val key = AnnIndex.incrementKey(b, idCol, payloadCol)
      applied(spark, outRoot, key).getOrElse {
        val r = body(new Increment(spark, outRoot, key, pins))
        IncProtocol.appendOnce(spark, incrementsDir(outRoot), key) { mode =>
          Writes(spark.createDataFrame(
            java.util.List.of(Row.fromSeq(counts(r) :+ key)), ledgerSchema))
            .mode(mode).parquet(incrementsDir(outRoot))
        }
        r
      }
    } finally pins.foreach(Materialize.release)
  }

  private def counts(r: R): Seq[Long] =
    r.productIterator.map(_.asInstanceOf[Long]).toSeq

  private val ledgerSchema = StructType(
    ledgerCols.map(StructField(_, LongType, nullable = false)) :+
      StructField("inc_key", StringType))

  private def applied(spark: SparkSession, outRoot: String, key: String): Option[R] =
    if (!appliedTo(spark, incrementsDir(outRoot), key)) None
    else {
      // mergeSchema: a ledger spanning the inc_key upgrade has mixed
      // footers, and an unmerged read can infer the OLD schema and
      // silently disable this path
      val ledger = spark.read.option("mergeSchema", "true")
        .parquet(incrementsDir(outRoot))
      if (!ledger.columns.contains("inc_key")) None
      else ledger.filter(col("inc_key") === key).limit(1).collect().headOption
        .map(row => fromLedger(ledgerCols.map(row.getAs[Long])))
    }

  /** Maintenance compaction of the job's append-grown relations: one file
    * per touched partition (or per increment, for the plain relations)
    * otherwise accumulates per batch, and probe/read listing cost grows
    * with files, not rows (SCALING.md r18 §5). Only relations whose
    * `_SUCCESS` has committed are compacted: a crashed first write (part
    * files, no marker) is left for its retry, whose overwrite clears it —
    * compacting it would commit the partial rows and turn that retry into
    * an append onto them. Also GCs the write-ahead state of fully-completed
    * increments. Returns relation → (filesBefore, filesAfter). Run from a
    * maintenance window: never concurrently with an increment. */
  def compact(spark: SparkSession, outRoot: String): Map[String, (Long, Long)] =
    appended(outRoot).collect { case r if completed(spark, r.path) =>
      r.path -> r.compact(spark)
    }.toMap + ("inc_state" -> gcIncState(spark, outRoot))

  /** The micro-batch loop as a Structured Streaming SINK: each delivered
    * batch runs one `increment` and prints its ledger row as one JSON line.
    * foreachBatch delivers AT-LEAST-ONCE — after a crash between the
    * batch's side effects and the checkpoint commit, the same batch is
    * REDELIVERED — which is exactly the hazard the content-keyed
    * write-ahead protocol absorbs ([[once]]).
    *
    * With `compactEvery = Some(n)`, the append-grown relations compact
    * every n applied increments (counted from the ledger's markers — one
    * listing). foreachBatch serializes batches, so the "never concurrently
    * with an increment" contract holds by construction; compaction is
    * idempotent, so a redelivered batch re-triggering on the same count is
    * harmless. */
  def runStream(spark: SparkSession, stream: DataFrame, outRoot: String,
      checkpoint: String, trigger: Trigger, compactEvery: Option[Int])(
      increment: DataFrame => R): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = increment(batch)
        println(ledgerCols.zip(counts(r)).map { case (c, n) => s""""$c":$n""" }
          .mkString(s"""{"batch":$batchId,""", ",", "}"))
        compactEvery.foreach { n =>
          val applied = appliedCount(spark, incrementsDir(outRoot))
          if (applied > 0 && applied % n == 0) {
            val c = compact(spark, outRoot)
            println(s"""{"batch":$batchId,"compacted":${c.size},""" +
              s""""files":"${c.map { case (k, v) =>
                s"${k.split('/').last}:${v._1}->${v._2}" }.mkString(",")}"}""")
          }
        }
        ()
      }
      .start()
}

private[graft] object IncProtocol {

  /** Name prefix of the per-increment applied markers in a relation dir. */
  private val MarkerPrefix = "_graft_inc_applied_"

  /** The increments ledger of the job writing under `outRoot`. */
  def incrementsDir(outRoot: String) = s"$outRoot/increments"
  private def incStateRoot(outRoot: String) = s"$outRoot/inc_state"
  /** Per-increment write-ahead state, keyed on the batch's CONTENT
    * fingerprint: stage verdicts that depend on mutable job state are
    * persisted here before that state grows, so a retried increment
    * replays its recorded verdicts. */
  def incStateDir(outRoot: String, key: String) = s"${incStateRoot(outRoot)}/inc_$key"

  /** An append-grown relation of a job and how it compacts: plain (no
    * partition columns), one file per partition, or one file per partition
    * keeping `sortCols` order within it (a read contract of the relation). */
  final case class Relation(path: String, partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil) {
    def compact(spark: SparkSession): (Long, Long) =
      if (partitionCols.isEmpty) Compaction.compactPlain(spark, path)
      else if (sortCols.isEmpty) Compaction.compactPartitioned(spark, path, partitionCols)
      else Compaction.compactPartitionedSorted(spark, path, partitionCols, sortCols)
  }

  /** One increment's handle on the protocol: its content key, its
    * write-ahead state dir, its pinned frames and its marker-gated
    * appends. */
  final class Increment private[IncProtocol] (spark: SparkSession,
      outRoot: String, val key: String, pins: ArrayBuffer[DataFrame]) {
    val stateDir: String = incStateDir(outRoot, key)

    /** [[Materialize]]s `df`, released when the increment ends — a stream
      * would otherwise keep several batch-sized cached RDDs per delivered
      * micro-batch for the life of the application. */
    def pin(df: DataFrame, checkpointDir: Option[String]): DataFrame = {
      val p = Materialize(df, checkpointDir)
      pins += p
      p
    }

    def completed(path: String): Boolean = IncProtocol.completed(spark, path)

    /** Whether this increment's append to `relDir` already landed (its
      * marker exists) — the lock condition for config-change guards: once
      * an increment has mutated a relation, its verdicts can no longer be
      * re-evaluated under different parameters. */
    def appliedTo(relDir: String): Boolean = IncProtocol.appliedTo(spark, relDir, key)

    def appendOnce(relDir: String)(write: String => Unit): Unit =
      IncProtocol.appendOnce(spark, relDir, key)(write)
  }

  /** Runs `write` into `relDir` exactly once per increment content `key`:
    * the marker file gates the append, so a retried increment skips writes
    * that already landed instead of double-appending. `write` is passed
    * its save mode: `append` once the relation's `_SUCCESS` has committed,
    * else `overwrite`, so a crashed first write retries as an overwrite
    * that clears its orphaned part files instead of appending onto them. */
  def appendOnce(spark: SparkSession, relDir: String, key: String)(
      write: String => Unit): Unit =
    if (!appliedTo(spark, relDir, key)) {
      write(if (completed(spark, relDir)) "append" else "overwrite")
      Writes.writeFile(spark, s"$relDir/$MarkerPrefix$key", Array.emptyByteArray,
        overwrite = false)
    }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A parquet dir counts as written only once its _SUCCESS commits —
    * bare existence would treat a crashed partial write as state. */
  def completed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** Whether `incKey`'s append to `relDir` already landed. */
  def appliedTo(spark: SparkSession, relDir: String, incKey: String): Boolean =
    exists(spark, s"$relDir/$MarkerPrefix$incKey")

  /** Number of increments whose append to `relDir` landed — its
    * markers, counted by one directory listing, no scan. */
  private def appliedCount(spark: SparkSession, relDir: String): Long = {
    val dir = new Path(relDir)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir)
      .count(_.getPath.getName.startsWith(MarkerPrefix)).toLong
  }

  /** True when `path` is missing but its `__compact_old` backup exists —
    * the signature of a compaction swap that crashed between its two
    * renames. */
  private def crashedSwapBackup(spark: SparkSession, path: String): Boolean =
    !exists(spark, path) && exists(spark, path + "__compact_old")

  /** GC the write-ahead state of FULLY-COMPLETED increments of the job
    * writing under `outRoot`: a state dir is deleted only when the ledger
    * both carries the increment's applied marker (its last write — every
    * append landed) AND contains a ledger row with `inc_key == key`, i.e.
    * the fully-applied short-circuit is actually available on redelivery —
    * without the row (a ledger written before the inc_key column), a
    * redelivered increment falls through to the verdict-replay path and
    * needs the verdicts this GC would have deleted. One mergeSchema ledger
    * read per sweep (a ledger spanning the inc_key upgrade has mixed
    * footers). Without this GC, inc_state grows one roughly batch-sized
    * parquet dir per increment forever. Returns (dirsBefore, dirsKept). */
  def gcIncState(spark: SparkSession, outRoot: String): (Long, Long) = {
    val root = new Path(incStateRoot(outRoot))
    val ledgerDir = incrementsDir(outRoot)
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
        else ledger.select(col("inc_key"))
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
