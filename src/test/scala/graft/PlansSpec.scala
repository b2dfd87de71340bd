package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class PlansSpec extends AnyFunSuite with Matchers {

  test("elideLiterals keeps the head of long literal runs and counts the rest") {
    def nums(n: Int) = (1 to n).map(i => s"-0.$i").mkString(", ")
    val plan = s"hyperplanebucketexpr(embedding#6649, Vector(${nums(20)})) " +
      s"AND in(id#7L, ${nums(16)}) " +
      s"pqadcdot(qv#1, ArraySeq(${(1 to 18).map(i => s"ArraySeq($i, 2.5E-4)").mkString(", ")}))"
    Plans.elideLiterals(plan) shouldBe
      "hyperplanebucketexpr(embedding#6649, Vector(-0.1, -0.2, -0.3, -0.4, " +
      s"… 16 more)) AND in(id#7L, ${nums(16)}) " +
      "pqadcdot(qv#1, ArraySeq(ArraySeq(1, 2.5E-4), ArraySeq(2, 2.5E-4), " +
      "ArraySeq(3, 2.5E-4), ArraySeq(4, 2.5E-4), … 14 more))"
  }

  test("elideLiterals leaves identifiers and short runs alone") {
    val plan = "Output [3]: [id#12L, x#13, y#14]\n(2) Filter [codegen id : 1]"
    Plans.elideLiterals(plan) shouldBe plan
  }
}
