package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every main builds its session through [[GraftSession]], so
  * the session settings cannot drift apart again. Comments are ignored. */
class SessionLintSpec extends AnyFunSuite {

  private def sources = MainSources.all

  test("main sources are present") {
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val offenders = sources.collect {
      case (p, src) if "SparkSession\\s*\\.\\s*builder\\b".r.findFirstIn(src).nonEmpty &&
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
