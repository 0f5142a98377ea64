package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanAuditArgsSpec extends AnyFunSuite {
  import PlanAudit.{Args, parseArgs}

  test("--budget without a value, or followed by another flag, is rejected") {
    intercept[IllegalArgumentException](parseArgs(Array("sf", "--budget")))
    intercept[IllegalArgumentException](
      parseArgs(Array("sf", "--budget", "--write")))
  }

  test("--budget names the file; positional names are the subset") {
    assert(parseArgs(Array("sf", "--budget", "t.json", "q1", "--write")) ==
      Args("sf", Set("q1"), write = true, "t.json"))
    assert(parseArgs(Array("sf")) ==
      Args("sf", Set.empty, write = false, PlanAudit.BudgetFile))
  }

  test("only a budget file other than the full default is a tier") {
    assert(parseArgs(Array("sf", "--budget", "PLAN_BUDGET.sf0.1.json")).tier)
    assert(!parseArgs(Array("sf")).tier)
  }
}
