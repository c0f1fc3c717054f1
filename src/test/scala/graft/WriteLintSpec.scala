package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every parquet `.write` and every file create or mkdir in
  * `src/main/scala` goes through [[Writes]], so no write forks a `chmod`
  * per file again. Scans the code view: comments and string text are
  * ignored. */
class WriteLintSpec extends AnyFunSuite {

  private def sources =
    MainSources.code.filter(_._1.startsWith("src/main"))

  /** Receivers whose `create(` is a factory, not a file create. */
  private val Factories = Set("URI", "UnsafeProjection", "Writes")

  /** `line N: what` for each DataFrame `.write` (an `OutputStream.write(…)`
    * has arguments and is not one), each `.create(`/`.createNonRecursive(`
    * on a receiver that is not a known factory, each `.mkdirs` not on
    * `Writes`, and each `FileUtil.copy`. */
  private def writeSites(src: String): Seq[String] = {
    def line(i: Int) = src.substring(0, i).count(_ == '\n') + 1
    val writes = "\\.\\s*write\\b(?!\\s*\\()".r.findAllMatchIn(src)
      .map(m => s"line ${line(m.start)}: .write")
    val creates = "(\\w+|\\))\\s*\\.\\s*(create|createNonRecursive|mkdirs)\\b".r
      .findAllMatchIn(src)
      .filterNot(m => Factories.contains(m.group(1)))
      .map(m => s"line ${line(m.start)}: ${m.group(1)}.${m.group(2)}")
    val copies = "\\bFileUtil\\s*\\.\\s*copy\\b".r.findAllMatchIn(src)
      .map(m => s"line ${line(m.start)}: FileUtil.copy")
    (writes ++ creates ++ copies).toSeq
  }

  test("main sources are present") {
    assert(sources.exists(_._1.getFileName.toString == "Writes.scala"))
  }

  test("positive control: the scan flags writer, create and mkdirs sites, and only those") {
    val src = MainSources.codeView(
      """df.coalesce(1)
        |  .write.mode("overwrite").parquet(p)
        |val out = fs.create(new Path(p), true)
        |out.write(bytes)
        |Option(dst.getParent).foreach(fs.mkdirs)
        |new java.io.File(d).mkdirs()
        |FileUtil.copy(fs, src, fs, dst, false, conf)
        |""".stripMargin)
    assert(writeSites(src) == Seq("line 2: .write", "line 3: fs.create",
      "line 5: fs.mkdirs", "line 6: ).mkdirs", "line 7: FileUtil.copy"))
    val clean = MainSources.codeView(
      """Writes(df).mode("overwrite").parquet(p) // df.write
        |Writes.mkdirs(spark, d); Writes.writeFile(spark, p, bytes)
        |val u = URI.create("x.write.y"); out.write(b, 0, n)
        |df.writeStream.start()
        |""".stripMargin)
    assert(writeSites(clean).isEmpty)
  }

  test("every write goes through Writes") {
    val offenders = sources.flatMap { case (p, src) =>
      if (p.getFileName.toString == "Writes.scala") Nil
      else writeSites(src).map(site => s"$p: $site")
    }
    assert(offenders.isEmpty,
      "write through graft.Writes (Writes(df), Writes.create/mkdirs/writeFile):\n" +
        offenders.mkString("\n"))
  }
}
