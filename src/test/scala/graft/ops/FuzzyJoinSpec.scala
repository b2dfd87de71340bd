package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Cached, SparkSpec}

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def names: DataFrame = Seq(
    (1L, "johnson"),
    (2L, "jonson"),   // 1 deletion from johnson
    (3L, "johnsen"),  // 1 substitution from johnson
    (4L, "jahnsen"),  // 2 subs from johnson, 1 from johnsen
    (5L, "smith"),
    (6L, "smyth"),    // 1 substitution
    (7L, "smythe"),   // 1 insertion over smyth
    (8L, "completely different"),
    (9L, "smith")     // exact duplicate of 5
  ).toDF("id", "name")

  /** Naive oracle: all pairs, exact levenshtein. */
  private def naivePairs(d: Int): Seq[(Long, Long, Int)] = {
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1)))
    (for {
      (ia, ka) <- rows; (ib, kb) <- rows
      if ia < ib
      dist = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(ka, kb).intValue
      if dist <= d
    } yield (ia, ib, dist)).toSeq.sorted
  }

  private def got(d: Int): Seq[(Long, Long, Int)] =
    FuzzyJoin.selfJoin(names, "id", "name", d)
      .as[(Long, Long, Int)].collect().toSeq.sorted

  test("Cached.scope: selfJoin matches the bare form and leaves no cache entry") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val scoped = Cached.scope {
      FuzzyJoin.selfJoin(names, "id", "name", 1)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    }
    scoped shouldBe naivePairs(1)
    assert(cm.isEmpty, "the key-group table outlived the scoped call")
    intercept[RuntimeException] {
      Cached.scope {
        FuzzyJoin.selfJoin(names, "id", "name", 1).count()
        throw new RuntimeException("boom")
      }
    }
    assert(cm.isEmpty)
  }

  test("self join at maxDist=1 equals the naive all-pairs definition") {
    got(1) shouldBe naivePairs(1)
  }

  test("self join at maxDist=2 equals the naive all-pairs definition") {
    got(2) shouldBe naivePairs(2)
  }

  test("two-sided join finds cross-table matches with exact distances") {
    val left = Seq((10L, "acme corp"), (11L, "zzz")).toDF("lid", "lname")
    val right = Seq((20L, "acme corp."), (21L, "acme co"), (22L, "beta"))
      .toDF("rid", "rname")
    val out = FuzzyJoin.join(left, "lid", "lname", right, "rid", "rname", 2)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    out shouldBe Seq((10L, 20L, 1), (10L, 21L, 2))
  }

  test("null keys are dropped, not matched") {
    val df = Seq((1L, Some("abc")), (2L, None), (3L, Some("abd")))
      .toDF("id", "k")
    val out = FuzzyJoin.selfJoin(df, "id", "k", 1)
      .as[(Long, Long, Int)].collect().toSeq
    out shouldBe Seq((1L, 3L, 1))
  }

  test("exact duplicates surface at distance 0") {
    got(1) should contain ((5L, 9L, 0))
  }

  test("maxDist outside 1..2 is rejected") {
    an[IllegalArgumentException] should be thrownBy
      FuzzyJoin.selfJoin(names, "id", "name", 3)
  }
}
