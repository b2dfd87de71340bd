package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Drift gate for QUERIES.md: the committed index must equal what
  * [[QueriesIndex.generate]] produces from the CURRENT declared map —
  * a new, renamed, re-described or re-homed query without a regenerated
  * index fails here, so the navigation surface can never silently rot.
  * The index carries no line numbers, so moving a declaration within
  * its file is not drift.
  */
class QueriesIndexSpec extends AnyFunSuite with Matchers {

  test("QUERIES.md matches the declared query surface (no drift)") {
    val expected = QueriesIndex.generate()
    val path = Paths.get("QUERIES.md")
    assert(Files.exists(path),
      "QUERIES.md missing — generate with: sbt \"runMain graft.QueriesIndex\"")
    val actual = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    assert(actual == expected,
      "QUERIES.md drifted from SparkEntry.queries — regenerate with: " +
        "sbt \"runMain graft.QueriesIndex\"")
  }

  test("every declared query has a declaration site and an oracle") {
    val decls = QueriesIndex.scanDecls()
    val names = SparkEntry.queries.keySet
    (names -- decls.keySet) shouldBe empty
    (names -- SparkEntry.oracleSql.keySet) shouldBe empty
    // and the index's summaries are non-trivial (a declaration without
    // its leading comment would index as an empty string)
    val blank = names.filter(n => decls(n).summary.isEmpty)
    assert(blank.isEmpty, s"declarations missing a leading comment: $blank")
  }
}
