package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {
  test("plan ids renumber by first appearance; references keep their target") {
    val txt = "Exchange [plan_id=812]\nBroadcastExchange [plan_id=95]\n" +
      "ReusedExchange [plan_id=812]"
    assert(tools.PlanDump.stablePlanIds(txt) ==
      "Exchange [plan_id=0]\nBroadcastExchange [plan_id=1]\n" +
        "ReusedExchange [plan_id=0]")
    assert(tools.PlanDump.stablePlanIds("no ids") == "no ids")
  }
}
