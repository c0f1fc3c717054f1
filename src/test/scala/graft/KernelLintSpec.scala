package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a row-local native kernel binds into Catalyst through
  * [[graft.plans.NativeKernel]] (a `StaticInvoke` Catalyst derives both
  * evaluation paths from), never through a hand-written expression that
  * spells its call a second time as generated Java text. Scans the code
  * view: comments and string text are ignored. */
class KernelLintSpec extends AnyFunSuite {

  private def sources =
    MainSources.code.filter(_._1.startsWith("src/main"))

  /** (file, enclosing top-level type) → why its inline codegen stays. */
  private val Allowlist = Map(
    ("VectorExpressions.scala", "FloatVectorDot") ->
      "codegen is an inline loop, not a kernel call; SQL-facing null rules",
    ("VectorExpressions.scala", "PqAdcDistance") ->
      "codegen is an inline loop, not a kernel call; SQL-facing range guards")

  private val CodegenApi =
    "\\b(doGenCode|nullSafeCodeGen|defineCodeGen|addReferenceObj)\\b".r
  private val TopLevel =
    "(?m)^(?:final |sealed |abstract |private |case )*(?:class|object|trait)\\s+(\\w+)".r

  /** `(line N, enclosing type, api)` for each hand-written codegen site. */
  private def codegenSites(src: String): Seq[(String, String, String)] = {
    val types = TopLevel.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    CodegenApi.findAllMatchIn(src).map { m =>
      val line = src.substring(0, m.start).count(_ == '\n') + 1
      val owner = types.takeWhile(_._1 < m.start).lastOption.map(_._2).getOrElse("")
      (s"line $line", owner, m.group(1))
    }.toSeq
  }

  test("main sources are present") {
    assert(sources.exists(_._1.getFileName.toString == "NativeKernel.scala"))
  }

  test("positive control: the scan flags codegen sites and names their owner") {
    val src = MainSources.codeView(
      """case class Kernel(child: Expression) extends UnaryExpression {
        |  // doGenCode in a comment is not a site
        |  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode) =
        |    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = K.f($c);")
        |}
        |object Other { val r = ctx.addReferenceObj("m", m); val s = "defineCodeGen" }
        |""".stripMargin)
    assert(codegenSites(src) == Seq(("line 3", "Kernel", "doGenCode"),
      ("line 4", "Kernel", "nullSafeCodeGen"), ("line 6", "Other", "addReferenceObj")))
    assert(codegenSites(MainSources.codeView(
      "val k = NativeKernel.of(ShingleHash).hashes(t -> StringType, 3, true)")).isEmpty)
  }

  test("native kernels bind through NativeKernel; only the allowlisted loops codegen by hand") {
    val sites = sources.flatMap { case (p, src) =>
      codegenSites(src).map { case (line, owner, api) =>
        (p.getFileName.toString, owner, s"$p: $line: $api in $owner")
      }
    }
    val offenders = sites.filterNot(s => Allowlist.contains((s._1, s._2))).map(_._3)
    assert(offenders.isEmpty,
      "bind the kernel through NativeKernel.of(<kernel object>).<method>(…).as(…):\n" +
        offenders.mkString("\n"))
    // an allowlist entry whose inline codegen is gone is stale
    val used = sites.map(s => (s._1, s._2)).toSet
    assert(Allowlist.keySet.subsetOf(used), s"stale: ${Allowlist.keySet -- used}")
  }
}
