package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Cached, SparkSpec}
import graft.ext.Shingles._

class DedupSpec extends SparkSpec {

  // A tiny corpus with planted duplicates:
  //  1/2 exact dups (modulo whitespace/case), 3 a near-dup of 1 (one word
  //  changed), 4 a reordering of 1, 5 unrelated.
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "  the quick  brown fox jumps over the lazy dog near the river bank today "),
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (4L, "today bank river the near dog lazy the over jumps fox brown quick the"),
    (5L, "completely different text about spark query engines and distributed joins"))

  private def df = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  test("x1 exact dedup groups normalized duplicates, keeps min id") {
    import spark.implicits._
    val out = Dedup.dedupExact(df, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(out.length === 4) // 1+2 collapse
    val dupGroup = out.filter(_._3 == 2L)
    assert(dupGroup.length === 1)
    assert(dupGroup.head._2 === 1L) // deterministic keeper: smallest id
  }

  test("x2 minhash LSH finds the planted near-dup pairs") {
    import spark.implicits._
    val pairs = Dedup.nearDuplicatesMinhash(df, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical token sets
    assert(pairs.contains((1L, 3L))) // 1-word edit
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated stays out
  }

  test("x2 emits ordered pairs with jaccard in [threshold, 1]") {
    import spark.implicits._
    val rows = Dedup.nearDuplicatesMinhash(df, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
    rows.foreach { case (a, b, j) =>
      assert(a < b)
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("Cached.scope: nearDuplicatesMinhash leaves no cache entry, twice over") {
    import spark.implicits._
    // earlier tests use the unscoped form, whose cache is caller-managed
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    (1 to 2).foreach { _ =>
      val pairs = Cached.scope {
        Dedup.nearDuplicatesMinhash(df, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      }
      assert(pairs.contains((1L, 2L)))
      assert(cm.isEmpty, "cache entry outlived the scoped dedup call")
    }
  }

  test("Cached.scope: nearDuplicatesMinhash releases when the body throws") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    intercept[RuntimeException] {
      Cached.scope {
        Dedup.nearDuplicatesMinhash(df, "doc_id", "text", 0.5).count()
        throw new RuntimeException("boom")
      }
    }
    assert(cm.isEmpty)
  }

  test("Cached.scope: nearDuplicatesAgainstIndex releases both collapsed frames") {
    import spark.implicits._
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val corpus = df.filter(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (8L, "unrelated content on columnar storage formats and shuffle services"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    val pairs = Cached.scope {
      Dedup.nearDuplicatesAgainstIndex(idx, batch, "doc_id", "text",
          threshold = 0.5)
        .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    }
    assert(pairs.contains((1L, 6L)))
    assert(cm.isEmpty, "a collapsed frame outlived the scoped call")
    intercept[RuntimeException] {
      Cached.scope {
        Dedup.nearDuplicatesAgainstIndex(idx, batch, "doc_id", "text", 0.5)
          .count()
        throw new RuntimeException("boom")
      }
    }
    assert(cm.isEmpty)
  }

  test("Cached.scope: a caller-cached index survives the against-index plan") {
    import spark.implicits._
    spark.catalog.clearCache()
    val corpus = df.filter(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val index =
      Dedup.collapseIndex(Dedup.minhashIndex(corpus, "doc_id", "text")).cache()
    index.count()
    val pairs = Cached.scope {
      Dedup.nearDuplicatesAgainstIndex(index, batch, "doc_id", "text",
          threshold = 0.5, indexPreCollapsed = true)
        .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    }
    assert(pairs.contains((1L, 6L)))
    assert(index.storageLevel != StorageLevel.NONE,
      "the scope released the caller's own index cache")
    index.unpersist(blocking = true)
  }

  test("Cached.scope: nearDuplicateComponents releases the group table") {
    import spark.implicits._
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val clusters = Cached.scope {
      Dedup.nearDuplicateComponents(df, "doc_id", "text", threshold = 0.5)
        .as[(Long, Long)].collect().toMap
    }
    assert(clusters(1L) === clusters(2L)) // exact set-dups share a cluster
    assert(cm.isEmpty, "the group table outlived the scoped call")
  }

  test("x3 simhash: identical token sets at hamming 0; unrelated text apart") {
    import spark.implicits._
    val pairs = Dedup.nearDuplicatesSimhash(df, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    val h12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(h12.exists(_._3 == 0L)) // same token set -> same signature
    // reordering keeps the token set -> also hamming 0 vs doc 1
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
    assert(!pairs.exists(p => p._2 == 5L || p._1 == 5L))
  }

  test("x4 char-ngram blocked dedup respects blocking columns") {
    import spark.implicits._
    val blocked = df.withColumn("lang", lit("en"))
    val pairs = Dedup.nearDuplicatesNgram(
        blocked, "doc_id", "text", Seq("lang"), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
    // different blocking value -> no pairs cross the block
    val split = df.withColumn("lang",
      when(col("doc_id") === 1L, "en").otherwise("de"))
    val crossPairs = Dedup.nearDuplicatesNgram(
        split, "doc_id", "text", Seq("lang"), threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!crossPairs.exists(p => p._1 == 1L || p._2 == 1L))
  }

  test("incremental: index + batch finds exactly the cross-split exact-Jaccard pairs") {
    import spark.implicits._
    // corpus = docs 1-3, batch = docs 6-8 (6 ~ 1 exact set-dup, 7 ~ 3 near,
    // 8 unrelated); ground truth = brute-force exact Jaccard across splits
    val corpus = df.filter(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "the quick brown fox jumps over a lazy cat near the river bank today"),
      (8L, "unrelated content on columnar storage formats and shuffle services"))
      .toDF("doc_id", "text")

    val idx = Dedup.minhashIndex(corpus, "doc_id", "text",
      numHashes = 128, bands = 32)
    val got = Dedup.nearDuplicatesAgainstIndex(idx, batch, "doc_id", "text",
      threshold = 0.5, numHashes = 128, bands = 32)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet

    // mirrors Shingles.tokenSet: trim + whitespace split, NO lowercasing
    val ts = (d: String) => d.trim.split("\\s+").toSet
    val want = (for {
      (cid, ctext) <- docs.filter(_._1 <= 3)
      (nid, ntext) <- Seq(
        6L -> "the quick brown fox jumps over the lazy dog near the river bank today",
        7L -> "the quick brown fox jumps over a lazy cat near the river bank today",
        8L -> "unrelated content on columnar storage formats and shuffle services")
      a = ts(ctext); b = ts(ntext)
      j = a.intersect(b).size.toDouble / a.union(b).size
      if j >= 0.5
    } yield (cid, nid)).toSet
    assert(got === want)
    assert(want.contains((1L, 6L)) && want.contains((3L, 7L))) // non-trivial
  }

  test("incremental: index survives a parquet roundtrip; preIndexedBatch agrees") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    val corpus = df.filter(col("doc_id") <= 4)
    val batch = df.filter(col("doc_id") === 5)
      .unionByName(Seq((9L, "the quick brown fox jumps over the lazy dog near the river bank now"))
        .toDF("doc_id", "text"))

    Dedup.minhashIndex(corpus, "doc_id", "text").write.parquet(s"$dir/idx")
    val idx = spark.read.parquet(s"$dir/idx")
    val direct = Dedup.nearDuplicatesAgainstIndex(
      idx, batch, "doc_id", "text", threshold = 0.5)
      .select("corpus_id", "new_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(direct.nonEmpty) // 9 is a near-dup of 1/2/4
    direct.foreach { case (_, _, j) => assert(j >= 0.5 && j <= 1.0) }
  }

  test("jaccard is within [0,1] and 1 for identical sets (property)") {
    import spark.implicits._
    assert(graft.Check.holds2 { (xs: List[String], ys: List[String]) =>
      val d = Seq((xs, ys)).toDF("a", "b")
      val j = d.select(jaccard(col("a"), col("b")).as("j"))
        .as[Double].head()
      j >= 0.0 && j <= 1.0
    })
    val same = Seq((Seq("a", "b"), Seq("b", "a", "a"))).toDF("a", "b")
    assert(same.select(jaccard(col("a"), col("b"))).as[Double].head() === 1.0)
  }

  test("wordNGrams: n>len gives empty, bigrams slide correctly") {
    import spark.implicits._
    val d = Seq("one two three").toDF("t")
    val bi = d.select(wordNGrams(col("t"), 2)).as[Seq[String]].head()
    assert(bi.toSet === Set("one two", "two three"))
    val five = d.select(wordNGrams(col("t"), 5)).as[Seq[String]].head()
    assert(five === Nil)
  }

  test("charNGrams of short strings guard the negative-range case") {
    import spark.implicits._
    val d = Seq("ab").toDF("t")
    assert(d.select(charNGrams(col("t"), 3)).as[Seq[String]].head() === Nil)
    assert(d.select(charNGrams(col("t"), 2)).as[Seq[String]].head() === Seq("ab"))
  }

  // an excerpt (10) fully inside a long host (11): containment 1.0 but
  // Jaccard far below any LSH threshold — the case minhash cannot find
  private val containDocs = Seq(
    (10L, "alpha beta gamma delta"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"),
    (12L, "alpha beta gamma delta"),          // exact copy of 10
    (13L, "totally unrelated words here now"))

  test("x11 containment finds the low-jaccard excerpt minhash misses") {
    import spark.implicits._
    val d = containDocs.toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text", 0.9)
      .select("id", "container_id", "containment")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // 10 and 12 each contained in 11 AND in each other (exact copies)
    pairs.keySet shouldBe Set(
      (10L, 11L), (12L, 11L), (10L, 12L), (12L, 10L))
    pairs.values.foreach(_ shouldBe 1.0)
    // minhash at the same stringency finds only the exact pair
    Dedup.nearDuplicatesMinhash(d, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe
      Set((10L, 12L))
  }

  test("x11 threshold is a true lower bound (partial overlap)") {
    import spark.implicits._
    // 20 shares 3 of its 4 shingles with 21 -> containment 0.75
    val d = Seq(
      (20L, "alpha beta gamma delta"),
      (21L, "alpha beta gamma zeta eta theta iota kappa")).toDF("doc_id", "text")
    Dedup.containmentPairs(d, "doc_id", "text", 0.75)
      .select("id", "container_id", "containment")
      .as[(Long, Long, Double)].collect().toSet shouldBe
      Set((20L, 21L, 0.75))
    Dedup.containmentPairs(d, "doc_id", "text", 0.8).count() shouldBe 0L
  }

  test("dropContained removes subsumed docs but keeps one copy of mutual pairs") {
    import spark.implicits._
    val d = containDocs.toDF("doc_id", "text")
    Dedup.dropContained(d, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(11L, 13L)
  }

  test("dropContained keeps a representative of a non-transitive mutual chain") {
    import spark.implicits._
    // at t=0.75: 1~2 mutual (4/4, 4/5), 2~3 mutual (4/5 both ways), and
    // 1⊆3 one-directionally (3/4 vs 3/5) — the advisor's chain where a
    // pairwise keep-the-smaller-id rule dropped ALL three documents; the
    // mutual-component rule keeps the component minimum.
    val d = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb cc dd ee"),
      (3L, "aa bb cc ee ff")).toDF("doc_id", "text")
    Dedup.dropContained(d, "doc_id", "text", 0.75)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L)
  }
}
