package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/**
 * The engine's one write path: every parquet `.write` and every driver-side
 * file create or mkdir goes through here (`WriteLintSpec` keeps it so).
 *
 * Fork-free local writes. Without Hadoop's native library, the stock
 * `file:` filesystem sets the mode of every file, `.crc` and directory it
 * creates by forking a `chmod` process (`RawLocalFileSystem.setPermission`
 * → `Shell.execCommand`): one run of the station-store benchmark (two
 * quarter backfills and a few daily ingests) forked 622 of them, most
 * inside parquet writer tasks. Every write here carries two Hadoop
 * options:
 *
 *  - `fs.file.impl` → [[NioLocalFileSystem]], the stock checksummed local
 *    filesystem over [[NioRawLocalFileSystem]], which sets the same mode
 *    bits through `java.nio` in-process;
 *  - `fs.file.impl.disable.cache=true`, because the filesystem cache is
 *    keyed by scheme and user, not by conf: a stock `file:` instance cached
 *    earlier would otherwise be returned and the class above ignored.
 *
 * The options ride each write (DataFrameWriter options reach the write's
 * Hadoop conf, on the driver and in every task) rather than the session
 * conf, on purpose: a session-wide `fs.file.impl` with the cache disabled
 * would make every `file:` access of the application (the read path's
 * listings and footers, Spark's own local files) build a fresh filesystem,
 * and it would change a session the caller owns. Only `file:` is affected;
 * `hdfs:` and `s3a:` stores resolve their filesystems as before. On a
 * cluster the executors load [[NioLocalFileSystem]] from the app jar.
 */
object Writes {

  val HadoopOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` with the fork-free options. */
  def apply(df: DataFrame): DataFrameWriter[Row] = df.write.options(HadoopOptions)

  private def fileSystem(spark: SparkSession, path: Path): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    HadoopOptions.foreach { case (k, v) => conf.set(k, v) }
    path.getFileSystem(conf)
  }

  def mkdirs(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fileSystem(spark, p).mkdirs(p)
  }

  /** A new file at `path` (parent directories are created). */
  def create(spark: SparkSession, path: String, overwrite: Boolean): FSDataOutputStream = {
    val p = new Path(path)
    fileSystem(spark, p).create(p, overwrite)
  }

  /** Small driver-side artifact (state marker, manifest, claim file). */
  def writeFile(spark: SparkSession, path: String, bytes: Array[Byte],
      overwrite: Boolean = true): Unit = {
    val out = create(spark, path, overwrite)
    try out.write(bytes) finally out.close()
  }

  /** A small driver-side file (state marker, config body, text artifact)
    * read whole as UTF-8 text; the stream is closed whether or not the
    * read succeeds. */
  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}

/** `RawLocalFileSystem` whose `setPermission` is an in-process
  * `Files.setPosixFilePermissions`. Mode bits NIO cannot express (the
  * sticky bit) and non-POSIX disks take Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioRawLocalFileSystem.setMode(pathToFile(p).toPath, permission))
      super.setPermission(p, permission)
}

object NioRawLocalFileSystem {
  private val Bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ, 0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE, 0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE, 0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ, 0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  /** Sets `permission` on `file`; false when NIO cannot (bits above 0777,
    * or a filesystem without POSIX attributes) and nothing was changed. */
  def setMode(file: NioPath, permission: FsPermission): Boolean = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) false
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      Bits.foreach { case (bit, perm) => if ((mode & bit) != 0) perms.add(perm) }
      try { Files.setPosixFilePermissions(file, perms); true }
      catch { case _: UnsupportedOperationException => false }
    }
  }
}

/** The checksummed local filesystem (`file:`) over [[NioRawLocalFileSystem]];
  * Hadoop instantiates it by class name through `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
