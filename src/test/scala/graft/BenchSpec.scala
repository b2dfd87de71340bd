package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench's budget governor is artifact policy, not measurement — but a
  * wrong decision silently degrades every recorded number (round 8: a
  * fixed 50%-spent cliff turned a full surface into single cold passes on
  * a throttled host). These pin the pace math as pure functions.
  */
class BenchSpec extends AnyFunSuite with Matchers {

  // passesFor(est, elapsed, budget, remainingQueries)

  test("no observations yet -> full 3 passes regardless of elapsed") {
    assert(Bench.passesFor(0.0, 1100.0, 1200.0, 148) == 3)
    assert(Bench.passesFor(-1.0, 0.0, 1200.0, 148) == 3)
  }

  test("comfortable pace keeps 3 passes: judge-host shape") {
    // ~0.8 s/pass incl settle, 148 queries, 1200 s budget:
    // 0.8*1.25*148*3 = 444 s projected — fits with room
    assert(Bench.passesFor(0.8, 100.0, 1200.0, 148) == 3)
  }

  test("throttled host degrades 2 then 1 as the projection tightens") {
    // 2.5 s/pass on a throttled host, early in the run:
    // 2.5*1.25*140*3 = 1312 > 0.92*1200 = 1104 -> not 3;
    // x2 = 875, 60+875 = 935 fits -> 2 passes
    assert(Bench.passesFor(2.5, 60.0, 1200.0, 140) == 2)
    // same host, later, budget mostly gone -> 1
    assert(Bench.passesFor(3.0, 800.0, 1200.0, 80) == 1)
  }

  test("degradation recovers: few remaining queries fit 3 again") {
    // even on the slow host, the last handful get full passes back
    assert(Bench.passesFor(3.0, 900.0, 1200.0, 10) == 3)
  }

  test("never returns 0 — the 95% hard stop is the caller's job") {
    assert(Bench.passesFor(50.0, 1190.0, 1200.0, 100) == 1)
  }

  // medianOf(times, requestedPasses)

  test("medianOf: 3 passes takes the middle (cold outlier discarded)") {
    assert(Bench.medianOf(Seq(7.0, 1.1, 1.0), 3) == 1.1)
  }

  test("medianOf: governor-degraded 2 passes takes the MIN, not sorted(1)") {
    // pace-degraded + warm-truncated: first pass is cold codegen
    assert(Bench.medianOf(Seq(6.0, 1.2), 2) == 1.2)
  }

  test("medianOf: 2 survivors of 3 requested keeps the order statistic") {
    // one of 3 passes errored — both survivors are warm, so the min rule
    // would bias low instead of discarding a cold outlier
    assert(Bench.medianOf(Seq(1.0, 1.4), 3) == 1.4)
  }

  test("medianOf: 1 pass is the value; empty is the -1 failure sentinel") {
    assert(Bench.medianOf(Seq(2.5), 1) == 2.5)
    assert(Bench.medianOf(Nil, 3) == -1.0)
  }

  // flagRule(med, relSpread, base, w) — the vs-baseline flag predicate

  test("flagRule: round-12 q32 shape no longer slips under a 0.4 s floor") {
    // 0.32 s vs 0.099 record in 1.54x weather: adjusted 2.09, excess
    // 0.168 s over a tight-spread run -> must flag (r12 shipped it
    // silently because med < 0.4)
    assert(Bench.flagRule(0.32, 0.1, 0.099, 1.54))
  }

  test("flagRule: same reading inside its own pass spread is noise") {
    // r12's actual q32 pass spread was 0.167 s absolute = 0.52 relative
    // at med 0.32 -> excess 0.168 barely exceeds; at 0.55 relative the
    // spread covers the excess and the flag stays down
    assert(!Bench.flagRule(0.32, 0.55, 0.099, 1.54))
  }

  test("flagRule: adjusted ratio under 2x never flags") {
    assert(!Bench.flagRule(1.9, 0.0, 1.0, 1.0))
    assert(!Bench.flagRule(3.0, 0.0, 1.0, 1.6)) // weather absorbs it
  }

  test("flagRule: material slow query with solid spread flags") {
    assert(Bench.flagRule(2.4, 0.05, 1.0, 1.0))
  }

  test("flagRule: degenerate inputs never flag; -1 spread reads as zero") {
    assert(!Bench.flagRule(-1.0, 0.0, 1.0, 1.0)) // failed query sentinel
    assert(!Bench.flagRule(2.4, 0.0, 0.0, 1.0))  // no baseline entry
    assert(Bench.flagRule(2.4, -1.0, 1.0, 1.0))  // spread sentinel -> 0
  }

  // Baseline.binds(sfDir, cpus) — the record binds only a run like itself

  private lazy val record = Bench.baselineRecord()

  test("baseline: a 32-core sf0.1 run binds the committed record") {
    record.cpus shouldBe Some(32)
    assert(record.binds("testdata/sf0.1", 32))
  }

  test("baseline: an 8-core run or an sf0.01 run does not bind") {
    assert(!record.binds("testdata/sf0.1", 8))
    assert(!record.binds("testdata/sf0.01", 32))
  }

  test("baseline: a record without cpus binds no run") {
    val f = java.nio.file.Files.createTempFile("baseline", ".json")
    java.nio.file.Files.writeString(f, """{"same_surface_record": {"sf": 0.1,
      |"queries_s": {"q01_agg": 0.2}, "canary_s": [0.3]}}""".stripMargin)
    val noCpus = Bench.baselineRecord(f.toString)
    noCpus shouldBe Bench.Baseline(Map("q01_agg" -> 0.2), 0.3, "sf0.1", None,
      f.toAbsolutePath.toString)
    assert(!noCpus.binds("testdata/sf0.1", 32))
  }

  // Baseline.unbound — the reason vs_baseline records when it does not bind

  test("unbound: a baseline file that is not there names its absolute path") {
    val missing = Bench.baselineRecord("no-such-dir/BASELINE.json")
    val abs = new java.io.File("no-such-dir/BASELINE.json").getAbsolutePath
    missing.unbound("testdata/sf0.1", 32) shouldBe
      Some(s"baseline not found: $abs")
  }

  test("unbound: a run at another scale factor says the sf differs") {
    record.unbound("testdata/sf0.01", 32) shouldBe
      Some("sf differs: record sf0.1, run sf0.01")
  }

  test("unbound: a run on another core count says the cpus differ") {
    record.unbound("testdata/sf0.1", 8) shouldBe
      Some("cpus differ: record 32, run 8")
    record.unbound("testdata/sf0.1", 32) shouldBe None
  }

  test("unbound: a record without cpus says so") {
    val f = java.nio.file.Files.createTempFile("baseline", ".json")
    java.nio.file.Files.writeString(f, """{"same_surface_record": {"sf": 0.1,
      |"queries_s": {"q01_agg": 0.2}, "canary_s": [0.3]}}""".stripMargin)
    Bench.baselineRecord(f.toString).unbound("testdata/sf0.1", 32) shouldBe
      Some("record has no cpus")
  }
}
