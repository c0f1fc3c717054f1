package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Writes

/**
 * Maintenance compaction for the engine's persisted partitioned
 * relations — the incremental registries (semdedup, selection, substr
 * windows, paragraph hashes) and the ANN layout relations, all of which
 * GROW by parquet `append`: every increment writes at least one new
 * file into each touched partition directory, so a long-running
 * micro-batch job accumulates files (and file-listing cost on every
 * probe's pruned scan) linearly in increments even when the row count
 * barely moves. Measured motivation (SCALING.md r18 §5): tiny batches ×
 * many cells grow the registry's file count faster than its rows.
 *
 * [[compactPartitioned]] rewrites the relation with ONE file per
 * partition value — `repartition(partitionCols)` puts every row of a
 * partition value in exactly one task, so each partition directory
 * receives exactly one output file — then swaps directories:
 *
 *   1. write the compacted copy to `<path>__compact_tmp` (verified:
 *      same row count before anything is touched);
 *   2. carry over the underscore-prefixed MARKER files from the old
 *      root (`_graft_inc_applied_*` — the idempotent-append ledger;
 *      parquet readers ignore them but retry safety depends on them);
 *   3. rename old → `<path>__compact_old`, tmp → path, delete old.
 *
 * Crash disposition, stated honestly: a crash before step 3 leaves the
 * original untouched (delete the tmp and retry); a crash inside step 3
 * leaves either `__compact_old` or both directories on disk — the data
 * exists in exactly one complete copy at every instant (renames are
 * atomic per directory on HDFS-like stores), and recovery is renaming
 * whichever complete copy remains back to `path`. Run compaction from
 * the job's maintenance window, not concurrently with appends.
 *
 * Returns (filesBefore, filesAfter) data-file counts for the caller's
 * ledger.
 */
object Compaction {

  def compactPartitioned(spark: SparkSession, path: String,
      partitionCols: Seq[String]): (Long, Long) = {
    require(partitionCols.nonEmpty, "compactPartitioned: no partition columns")
    // one task per partition value -> one file per partition directory
    rewrite(spark, path, df => Writes(df.repartition(partitionCols.map(col): _*))
      .partitionBy(partitionCols: _*))
  }

  /** [[compactPartitioned]] preserving a WITHIN-PARTITION sort order —
    * for relations whose read contract includes row order inside each
    * partition directory (the training-set job's shards are
    * sort_key-ordered per shard, packed/ is (bin, chunk_id)-ordered per
    * group): plain compaction would merge the per-increment files in
    * arbitrary order, silently downgrading the layout readers rely on. */
  def compactPartitionedSorted(spark: SparkSession, path: String,
      partitionCols: Seq[String], sortCols: Seq[String]): (Long, Long) = {
    require(partitionCols.nonEmpty, "compactPartitionedSorted: no partition columns")
    rewrite(spark, path, df => Writes(df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*))
      .partitionBy(partitionCols: _*))
  }

  /** [[compactPartitioned]] for UNPARTITIONED append-grown relations
    * (the curation job's selection registry / curated output / manifest):
    * same verify-then-swap protocol, rewritten to `targetFiles` files. */
  def compactPlain(spark: SparkSession, path: String,
      targetFiles: Int = 1): (Long, Long) = {
    require(targetFiles > 0, s"compactPlain: targetFiles must be > 0")
    rewrite(spark, path, df => Writes(df.repartition(targetFiles)))
  }

  private def rewrite(spark: SparkSession, path: String,
      writer: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
      : (Long, Long) = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    // a crashed swap (between the two renames) leaves the data under
    // __compact_old and nothing at `path` — fail LOUDLY with the
    // recovery instruction instead of letting a caller re-initialize
    // the relation from scratch (see crashedSwapBackup)
    val oldLeftover = new Path(path + "__compact_old")
    require(fs.exists(p) || !fs.exists(oldLeftover),
      s"compaction: $path is missing but a complete pre-compaction copy " +
        s"exists at $oldLeftover — a prior swap crashed mid-rename; " +
        s"rename it back to $path before proceeding")
    require(fs.exists(p), s"compaction: $path does not exist")

    // data files only: skip underscore/dot files AND anything under an
    // underscore/dot DIRECTORY (a crashed append's _temporary staging
    // tree must not inflate the ledger)
    def dataFiles(root: Path): Long = {
      val it = fs.listFiles(root, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath
        def hiddenSegment(q: Path): Boolean =
          q != null && q != root &&
            (q.getName.startsWith("_") || q.getName.startsWith(".") ||
              hiddenSegment(q.getParent))
        if (!hiddenSegment(f)) n += 1
      }
      n
    }
    val before = dataFiles(p)

    // mergeSchema: an append-grown relation can span a schema upgrade
    // (the increments ledger's inc_key column) — an unmerged read infers
    // one arbitrary footer's schema and the rewrite would permanently
    // strip the newer columns from every row
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val nBefore = df.count()
    val tmp = new Path(path + "__compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writer(df).parquet(tmp.toString)
    val nAfter = spark.read.parquet(tmp.toString).count()
    require(nAfter == nBefore,
      s"compaction: compacted copy has $nAfter rows, expected " +
        s"$nBefore — original left untouched at $path, copy at $tmp")

    // carry the idempotent-append markers (root-level underscore files,
    // except the write protocol's own _SUCCESS which the copy already
    // has): a retried increment consults these — losing them on
    // compaction would double-append the next retry
    fs.listStatus(p).filter(s => s.isFile &&
        s.getPath.getName.startsWith("_") && s.getPath.getName != "_SUCCESS")
      .foreach { s =>
        val in = fs.open(s.getPath)
        val body = try in.readAllBytes() finally in.close()
        Writes.writeFile(spark, new Path(tmp, s.getPath.getName).toString, body,
          overwrite = false)
      }

    val old = new Path(path + "__compact_old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(p, old), s"compaction: rename $p -> $old failed")
    require(fs.rename(tmp, p), s"compaction: rename $tmp -> $p " +
      s"failed — complete copies at $old and $tmp; rename one back to $path")
    fs.delete(old, true)
    (before, dataFiles(p))
  }

  /** True when `path` is missing but its `__compact_old` backup exists —
    * the signature of a swap that crashed between its two renames. Jobs
    * that append to compactable relations call this at entry so the
    * condition surfaces as an actionable error instead of a silent
    * re-initialization of the relation (the registry-probe hazard: a
    * missing registry looks exactly like a first increment). */
  def crashedSwapBackup(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) && fs.exists(new Path(path + "__compact_old"))
  }
}
