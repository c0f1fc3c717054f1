package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every single-relation top-k goes through
  * `Selection.topKBy`, so no hand-written `orderBy(key.desc, …).limit(k)`
  * can plan TakeOrdered above the merge cap. `SparkEntry.scala` is
  * skipped: its fixed-k statements mirror their oracle SQL. Comments are
  * ignored. In `Similarity`, the per-query heap and the shortlist valve
  * each keep one caller set, so a serve cannot grow its own election or
  * verification leg again. */
class TopKLintSpec extends AnyFunSuite {

  private def sources =
    MainSources.all.filter(_._1.getFileName.toString != "SparkEntry.scala")

  /** `line N (in def f)` for each `orderBy(…)` whose arguments hold a
    * `.desc` key and which is chained straight to `.limit(`, except
    * inside `def topKBy`. */
  private def topKSites(src: String): Seq[String] =
    "\\borderBy\\s*\\(".r.findAllMatchIn(src).flatMap { m =>
      var depth = 1
      var i = m.end
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      val args = src.substring(m.end, i)
      val chainedLimit = "^\\s*\\.\\s*limit\\s*\\(".r
        .findFirstIn(src.substring(i)).nonEmpty
      val enclosing = "\\bdef\\s+(\\w+)".r.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("")
      if (args.contains(".desc") && chainedLimit && enclosing != "topKBy")
        Some(s"line ${src.substring(0, m.start).count(_ == '\n') + 1} (in def $enclosing)")
      else None
    }.toSeq

  test("main sources are present") {
    assert(sources.exists(_._1.getFileName.toString == "Selection.scala"))
  }

  test("positive control: the scan flags a hand-written descending top-k, and only that") {
    val handWritten = "def f(df: DataFrame) = df\n  .orderBy(col(\"s\").desc, col(\"id\"))\n  .limit(k)"
    assert(topKSites(handWritten) == Seq("line 2 (in def f)"))
    assert(topKSites(
      "def topKBy(df: DataFrame) = df.orderBy(col(k).desc, col(i)).limit(n)").isEmpty)
    assert(topKSites("def g = df.orderBy(col(\"id\")).limit(k)").isEmpty)
    assert(topKSites("def h = Window.orderBy(col(\"s\").desc, col(\"id\"))").isEmpty)
  }

  /** The enclosing `def` of each call `name(` in `src` (definitions of
    * `name` itself excluded), in source order. */
  private def callers(src: String, name: String): Seq[String] =
    s"\\b$name\\s*\\(".r.findAllMatchIn(src)
      .filterNot(m => src.substring(0, m.start).matches("(?s).*\\bdef\\s+$"))
      .map(m => "\\bdef\\s+(\\w+)".r.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse(""))
      .toSeq

  private lazy val similarity = sources.collectFirst {
    case (p, src) if p.getFileName.toString == "Similarity.scala" => src
  }.get

  test("positive control: the caller scan names each call's enclosing def") {
    val src = "def a = x.topKStructs(c, 1)\n  private def topKStructs(c: Int) = 1\n" +
      "def b = {\n  val y = topKStructs (c, 2)\n}"
    assert(callers(src, "topKStructs") == Seq("a", "b"))
  }

  test("Similarity: one per-query heap and one cell election elect with topKStructs") {
    val sites = callers(similarity, "topKStructs").toSet
    assert(sites == Set("topKPerQuery", "probeCellsJoin"),
      s"topKStructs called outside topKPerQuery/probeCellsJoin: $sites")
  }

  test("Similarity: the shortlist valve is pinned only by the rerank legs") {
    val sites = callers(similarity, "materializeShortlist").toSet
    assert(sites == Set("rerankBatch", "topKMrlPre", "topKPqRescored"),
      s"materializeShortlist called outside the shared rerank legs: $sites")
  }

  test("every single-relation top-k goes through Selection.topKBy") {
    val offenders = sources.flatMap { case (p, src) =>
      topKSites(src).map(site => s"$p: $site")
    }
    assert(offenders.isEmpty,
      "hand-written orderBy(… .desc …).limit — select with Selection.topKBy:\n" +
        offenders.mkString("\n"))
  }
}
