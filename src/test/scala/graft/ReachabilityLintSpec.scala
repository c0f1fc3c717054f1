package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `src/main` ships only code that something runs. Every
  * `def`, `class`, `object` and `trait` declared in `src/main/scala`, at
  * any nesting depth, must be named somewhere else in the code view
  * ([[MainSources.codeView]]: comments and string-literal text blanked,
  * interpolations kept) of `src/main/scala` or `perfbench/src`. A
  * declaration no job, declared query, build step or benchmark reaches is
  * deleted; a spec oracle or test helper moves to `src/test`, in the same
  * package. Only entry points are allowlisted.
  *
  * Limits: the match is by name (`\bname\b`), not by symbol, so
  * declarations that share a name (overloads, same-named members of
  * different objects) count as reaching each other, and any same-named
  * identifier counts as a reference. `override` members and symbolic
  * names are skipped. */
class ReachabilityLintSpec extends AnyFunSuite {

  /** Entry points: reached by the JVM or by class name, never by a call. */
  private val Allowlist = Map(
    "Main" -> "ingest CLI main",
    "Bench" -> "per-query benchmark main",
    "Verify" -> "oracle-dump main",
    "FixtureGen" -> "fixture-parquet generator main",
    "PlanDump" -> "plan-dump main (graft.tools)",
    "GraftExtensions" -> "loaded by class name through spark.sql.extensions",
    "applyDynamic" -> "scalac's rewrite of each NativeKernel.of(kernel).method(…) call")

  private val Decl = "\\b(?:def|class|object|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val Override = "\\boverride\\s+(?:(?:final|protected|private|implicit|lazy|case)(?:\\[\\w+\\])?\\s+)*$".r
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  /** `file:line name` for each declaration in `main` that nothing in
    * `main` or `refs` (file name → code view) names. Members of an
    * unreached class, object or trait (its more-indented lines) are
    * reported once, under it. */
  private def unreached(main: Seq[(String, String)],
      refs: Seq[(String, String)]): Seq[String] = {
    val occurrences: Map[String, Seq[(String, Int)]] =
      (main ++ refs).flatMap { case (f, src) =>
        Ident.findAllMatchIn(src).map(m => m.matched -> (f, m.start))
      }.groupMap(_._1)(_._2)
    main.flatMap { case (f, src) =>
      val lines = src.split("\n", -1)
      def indent(l: Int) = lines(l).takeWhile(_ == ' ').length
      var container: Option[(Int, Int)] = None // (line, indent) of an unreached type
      Decl.findAllMatchIn(src).flatMap { m =>
        val name = m.group(1)
        val line = src.substring(0, m.start).count(_ == '\n')
        val isOverride =
          Override.findFirstIn(src.substring(math.max(0, m.start - 80), m.start)).nonEmpty
        val reached = occurrences.getOrElse(name, Nil).exists(_ != ((f, m.start(1))))
        val inside = container.exists { case (l0, i0) =>
          (l0 + 1 to line).forall(l => lines(l).trim.isEmpty || indent(l) > i0)
        }
        if (isOverride || reached || Allowlist.contains(name) || inside) None
        else {
          if (!m.matched.startsWith("def")) container = Some((line, indent(line)))
          Some(s"$f:${line + 1} $name")
        }
      }
    }
  }

  private lazy val (mainCode, benchCode) = MainSources.code
    .map { case (p, src) => (p.toString, src) }
    .partition(_._1.startsWith("src/main"))

  private def view(src: String) = MainSources.codeView(src)

  test("main and perfbench sources are present") {
    assert(mainCode.exists(_._1.endsWith("SparkEntry.scala")))
    assert(benchCode.exists(_._1.endsWith("Workloads.scala")))
  }

  test("positive control: flags unreferenced, comment-only and string-only names") {
    val src = view(
      """object Lib {
        |  def used(x: Int): Int = x
        |  def unused(x: Int): Int = x
        |  /** see [[commentOnly]] */
        |  def commentOnly(): Unit = () // commentOnly
        |  def stringOnly(n: Int): Int = { require(n > 0, "stringOnly: n > 0"); n }
        |  def viaInterpolation(x: Int): String = x.toString
        |  override def toString: String = s"${viaInterpolation(used(1))} $used"
        |}
        |""".stripMargin)
    assert(unreached(Seq("Lib.scala" -> src), Seq("Use.scala" -> "Lib")) ==
      Seq("Lib.scala:3 unused", "Lib.scala:5 commentOnly", "Lib.scala:6 stringOnly"))
    // a member of an unreached type is reported once, under the type
    val nested = "object T {\n  class C {\n    def m = 1\n  }\n  def n = 2\n}\n"
    assert(unreached(Seq("T.scala" -> view(nested)), Nil) == Seq("T.scala:1 T"))
    // a reference from a perfbench source reaches a main declaration
    assert(unreached(Seq("A.scala" -> view("object A { def f = 1 }")),
      Seq("B.scala" -> view("object B { val g = A.f }"))).isEmpty)
    // a `//` inside a string is string text, not a comment
    assert(view("val q = \"a // b\"; f(q)").contains("f(q)"))
  }

  test("every main declaration is reached from main or perfbench code") {
    val offenders = unreached(mainCode, benchCode)
    if (offenders.nonEmpty)
      fail(s"${offenders.size} declarations nothing names — delete them, move spec " +
        "oracles and test helpers to src/test, or allowlist a true entry point:\n" +
        offenders.mkString("\n"))
  }

  test("the increment marker name is spelled only in IncProtocol.scala") {
    val offenders = MainSources.all.collect {
      case (p, src) if src.contains("_graft_inc_applied_") &&
        p.getFileName.toString != "IncProtocol.scala" => p.toString
    }
    assert(MainSources.all.exists { case (p, src) =>
      p.getFileName.toString == "IncProtocol.scala" && src.contains("_graft_inc_applied_")
    })
    assert(offenders.isEmpty,
      s"marker name spelled outside IncProtocol (use IncProtocol.appendOnce): $offenders")
  }
}
