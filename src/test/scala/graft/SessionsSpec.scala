package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SessionsSpec extends AnyFunSuite with Matchers {

  test("shufflePartitionsFor targets ~128 MB per task within bounds") {
    // 1 TB shuffle -> ~8192 tasks
    Sessions.shufflePartitionsFor(1L << 40) shouldBe 8193
    // tiny shuffle clamps to the floor
    Sessions.shufflePartitionsFor(1L << 20) shouldBe 64
    // huge shuffle clamps to the ceiling
    Sessions.shufflePartitionsFor(1L << 50, maxPartitions = 16384) shouldBe 16384
  }

  test("builder applies the runtime posture (shared-JVM safe)") {
    // getOrCreate may attach to the suite's shared session, which is the
    // point: RUNTIME confs must land either way. (Static confs — the
    // extensions registration — are covered by GraftExtensionsSpec via
    // the explicit install path.) The shared session is made first, so
    // this suite never creates the JVM's context in its own posture.
    SparkSpec.session
    val s = Sessions.builder("graft-posture-test", shufflePartitions = 7)
      .master("local[2]")
      .getOrCreate()
    s.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    s.conf.get("spark.sql.adaptive.skewJoin.enabled") shouldBe "true"
    s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
    s.conf.get("spark.sql.autoBroadcastJoinThreshold") shouldBe
      (64L << 20).toString
    s.conf.get("spark.sql.shuffle.partitions") shouldBe "7"
    // restore the shared session's test-scale defaults
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
  }
}
