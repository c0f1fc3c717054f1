package graft

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free write path keeps the stock local filesystem's modes. */
class WritesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** relative path (part-file ids and uuids normalized) → (is a
    * directory, mode), for every file and directory under `root` */
  private def modes(root: NioPath): Map[String, (Boolean, Int)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        (Files.isDirectory(p), mode(p))
    }.toMap
    finally s.close()
  }

  /** 0644 files and 0755 dirs: the stock modes under umask 022 */
  private def stockModes(m: Map[String, (Boolean, Int)]): Boolean =
    m.values.forall { case (isDir, md) => md == (if (isDir) 0x1ed else 0x1a4) }

  private def hadoopUmask = FsPermission.getUMask(new Configuration())

  test("a local file: write resolves to the NIO filesystem; the session's conf is untouched") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    Writes.HadoopOptions.foreach { case (k, v) => conf.set(k, v) }
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == null)
    assert(!FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
  }

  test("parquet and driver-side writes keep the stock modes (0644 files, 0755 dirs)") {
    assume(hadoopUmask.toShort == 18, "modes below assume Hadoop's default umask 022")
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("p", "v").coalesce(1)
    val base = Files.createTempDirectory("graft_modes")
    df.write.partitionBy("p").parquet(s"${base}/stock")
    Writes(df).partitionBy("p").parquet(s"${base}/nio")
    val stock = modes(base.resolve("stock"))
    assert(stock.nonEmpty && modes(base.resolve("nio")) == stock)
    assert(stock.keys.exists(_.endsWith(".crc")) && stock.contains("_SUCCESS") &&
      stock.contains("p=a"))
    assert(stockModes(stock))

    // driver-side: the stock create/mkdirs against the helper's
    val stockFs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    stockFs.mkdirs(new Path(s"$base/d_stock/x"))
    stockFs.create(new Path(s"$base/d_stock/x/f"), true).close()
    Writes.mkdirs(spark, s"$base/d_nio/x")
    Writes.writeFile(spark, s"$base/d_nio/x/f", Array[Byte](1))
    val driverSide = modes(base.resolve("d_nio"))
    assert(driverSide.size == 3 && driverSide == modes(base.resolve("d_stock")))
    assert(stockModes(driverSide))
  }

  test("a mode NIO cannot express (sticky) takes Hadoop's own path") {
    val dir = Files.createTempDirectory("graft_sticky")
    val raw = new NioRawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"), new Configuration())
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    assert(sticky.getStickyBit)
    // NIO declines it and changes nothing
    assert(!NioRawLocalFileSystem.setMode(dir, sticky))
    assert((mode(dir) & 0x200) == 0)
    // setPermission falls back, and the sticky bit lands
    raw.setPermission(new Path(dir.toUri), sticky)
    assert(mode(dir) == Integer.parseInt("1755", 8))
    // plain rwx bits go through NIO
    val plain = new FsPermission(Integer.parseInt("0750", 8).toShort)
    assert(NioRawLocalFileSystem.setMode(dir, plain))
    assert(mode(dir) == Integer.parseInt("0750", 8))
  }
}
