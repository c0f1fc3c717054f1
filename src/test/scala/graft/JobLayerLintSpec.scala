package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one way to do each job-layer thing in `src/main/scala`.
  * Driver-side concurrency goes through [[Overlap]]; the increment
  * protocol's crashed-swap guard, applied-increment count and state GC are
  * called only inside [[IncProtocol]]; the two curation jobs reach
  * Structured Streaming only through [[IncProtocol]]'s sink. Scans the code
  * view: comments and string text are ignored. */
class JobLayerLintSpec extends AnyFunSuite {

  private def sources =
    MainSources.code.filter(_._1.startsWith("src/main"))

  private val Concurrency =
    "\\bnewFixedThreadPool\\b|\\bnew\\s+Thread\\s*\\(|\\bFuture\\s*\\(|\\bsetJobGroup\\b|\\bcancelJobGroup\\b"
  private val Protocol = "\\b(crashedSwapBackup|appliedCount|gcIncState)\\s*\\("
  private val Stream = "\\bwriteStream\\b"

  private val CurationJobs = Set("TrainingSetJob.scala", "EmbeddingCurationJob.scala")

  /** `line N: site` for each match of `pattern` in `src`. */
  private def sites(src: String, pattern: String): Seq[String] = {
    def line(i: Int) = src.substring(0, i).count(_ == '\n') + 1
    pattern.r.findAllMatchIn(src).map(m => s"line ${line(m.start)}: ${m.matched.trim}").toSeq
  }

  /** The offending sites of one file, by its name. */
  private def offenses(file: String, src: String): Seq[String] =
    (if (file == "Overlap.scala") Nil else sites(src, Concurrency)) ++
      (if (file == "IncProtocol.scala") Nil else sites(src, Protocol)) ++
      (if (CurationJobs.contains(file)) sites(src, Stream) else Nil)

  test("main sources are present") {
    val names = sources.map(_._1.getFileName.toString).toSet
    assert(Set("Overlap.scala", "IncProtocol.scala").subsetOf(names) &&
      CurationJobs.subsetOf(names))
  }

  test("positive control: the scan flags every forbidden site, and only those") {
    val src = MainSources.codeView(
      """val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        |val t = new Thread(() => run(), "x")
        |val f = Future(tagged(build()))
        |sc.setJobGroup(group, "build", interruptOnCancel = true)
        |sc.cancelJobGroup(group)
        |Compaction.crashedSwapBackup(spark, d)
        |IncProtocol.appliedCount(spark, dir)
        |IncProtocol.gcIncState(spark, root)
        |stream.writeStream.start()
        |""".stripMargin)
    assert(offenses("TrainingSetJob.scala", src) == Seq(
      "line 1: newFixedThreadPool", "line 2: new Thread(", "line 3: Future(",
      "line 4: setJobGroup", "line 5: cancelJobGroup",
      "line 6: crashedSwapBackup(", "line 7: appliedCount(", "line 8: gcIncState(",
      "line 9: writeStream"))
    assert(offenses("Overlap.scala", src).size == 3)
    assert(offenses("IncProtocol.scala", src).size == 5)
    assert(offenses("IngestJob.scala", src).size == 8)
    val clean = MainSources.codeView(
      """Overlap.both(spark)(a, b) // new Thread(
        |val s = "sc.setJobGroup(g, d); Future(x)"
        |IncProtocol.gcIncStateOf(spark); files.writeStreamish
        |""".stripMargin)
    assert(offenses("TrainingSetJob.scala", clean).isEmpty)
  }

  test("one way to overlap jobs, to run the increment protocol and to stream a curation job") {
    val offenders = sources.flatMap { case (p, src) =>
      offenses(p.getFileName.toString, src).map(site => s"$p: $site")
    }
    assert(offenders.isEmpty,
      "overlap driver-side jobs with graft.Overlap, and call the increment " +
        "protocol's guard, count, GC and stream sink through IncProtocol:\n" +
        offenders.mkString("\n"))
  }
}
