package graft

import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {

  test("normalizeIds renumbers expression and plan ids by first appearance " +
      "and drops lambda identities") {
    val a = "Project [x#812, y#97]\n+- Exchange hashpartitioning(x#812, 4), " +
      "ENSURE_REQUIREMENTS, [plan_id=40]\n   +- Scan [x#812, y#97, z#5]"
    val b = "Project [x#3, y#1200]\n+- Exchange hashpartitioning(x#3, 4), " +
      "ENSURE_REQUIREMENTS, [plan_id=7]\n   +- Scan [x#3, y#1200, z#44]"
    val want = "Project [x#0, y#1]\n+- Exchange hashpartitioning(x#0, 4), " +
      "ENSURE_REQUIREMENTS, [plan_id=0]\n   +- Scan [x#0, y#1, z#2]"
    assert(Plans.normalizeIds(a) === want)
    assert(Plans.normalizeIds(b) === want)
    assert(Plans.normalizeIds("Arguments: graft.Http$$$Lambda$7387/" +
      "0x00007f0c8993e998@48f630c7, obj#5: Row") ===
      "Arguments: graft.Http$$$Lambda, obj#0: Row")
  }
}
