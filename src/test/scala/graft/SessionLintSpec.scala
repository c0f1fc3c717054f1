package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every main builds its session through [[GraftSession]], so
  * the session settings cannot drift apart again. Comments are ignored. */
class SessionLintSpec extends AnyFunSuite {

  private def sources = MainSources.all

  test("main sources are present") {
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"))
  }

  private def buildsSession(src: String): Boolean =
    "SparkSession\\s*\\.\\s*builder\\b".r.findFirstIn(src).nonEmpty

  test("positive control: a builder after a `//` inside a string is still seen") {
    assert(buildsSession(MainSources.stripComments(
      "val q = \"a // b\"; SparkSession.builder()")))
    assert(!buildsSession(MainSources.stripComments("// SparkSession.builder()")))
    // string text is kept: the SPARK_MASTER check reads it
    assert(MainSources.stripComments("sys.env(\"SPARK_MASTER\") // x")
      .contains("\"SPARK_MASTER\""))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val offenders = sources.collect {
      case (p, src) if buildsSession(src) &&
        p.getFileName.toString != "GraftSession.scala" => p.toString
    }
    assert(offenders.isEmpty, s"build the session with GraftSession(appName): $offenders")
  }

  test("no main reads SPARK_MASTER (the master is SPARK_GRAFT_MASTER)") {
    val offenders = sources.collect {
      case (p, src) if src.contains("\"SPARK_MASTER\"") => p.toString
    }
    assert(offenders.isEmpty, s"SPARK_MASTER read in: $offenders")
  }
}
