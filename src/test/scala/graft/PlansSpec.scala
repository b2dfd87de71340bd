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

  test("normalizeRunTokens replaces the tokens that vary by run or build") {
    val plan = "Arguments: [source#10961, n_docs#10962L], " +
      "MapPartitionsRDD[1150] at createDataFrame at Doremi.scala:377, " +
      "ExistingRDD\nBroadcastExchange (12) [plan_id=19]\n" +
      "Location: InMemoryFileIndex " +
      "[file:/dev/shm/graft-scratch/ephemeral/pid-17248/x13/ann]\n" +
      "(2) Filter [codegen id : 1]\nlambdafunction(lambda x_7#12 * 4, lambda x_7#12)\n" +
      "Condition : bloommightcontain(l_orderkey#4L, Broadcast(19))"
    Plans.normalizeRunTokens(plan) shouldBe
      "Arguments: [source#n, n_docs#nL], " +
      "MapPartitionsRDD[n] at createDataFrame at Doremi.scala:n, " +
      "ExistingRDD\nBroadcastExchange (12) [plan_id=n]\n" +
      "Location: InMemoryFileIndex " +
      "[file:/dev/shm/graft-scratch/ephemeral/pid-n/x13/ann]\n" +
      "(2) Filter [codegen id : 1]\nlambdafunction(lambda x_n#n * 4, lambda x_n#n)\n" +
      "Condition : bloommightcontain(l_orderkey#nL, Broadcast(n))"
  }

  test("elideLiterals leaves identifiers and short runs alone") {
    val plan = "Output [3]: [id#12L, x#13, y#14]\n(2) Filter [codegen id : 1]"
    Plans.elideLiterals(plan) shouldBe plan
  }
}
