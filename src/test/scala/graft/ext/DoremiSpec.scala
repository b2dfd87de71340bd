package graft.ext

import org.apache.spark.sql.functions._

import graft.{Cached, SparkSpec}

class DoremiSpec extends SparkSpec {

  // Three domains over a SHARED prefix space ("th..."): `a` and `c` are
  // near-identical dialects, `b` diverges in its continuations. The
  // mixture model therefore averages 2:1 against b's continuations, so
  // b carries the largest clipped excess loss and must gain weight —
  // the DoReMi dynamic (minority dialect with headroom is upweighted).
  private def corpus = {
    import spark.implicits._
    val common = Seq(
      "the theme thematic theory there brother the theme",
      "there the theory thematic theme the brother there",
      "thematic theory the theme there the brother theme")
    val minority = Seq(
      "thy thyme rhythm myth thyroid thy rhythm thyme",
      "rhythm thy myth thyme thyroid rhythm thy myth",
      "myth thyroid thy rhythm thyme myth thy thyroid")
    val rows = (0 until 18).map { i =>
      val dom = Seq("a", "b", "c")(i % 3)
      val text =
        if (dom == "b") minority(i / 3 % 3) + s" x$i"
        else common(i / 3 % 3) + s" x$i"
      (i.toLong, dom, text)
    }
    rows.toDF("doc_id", "source", "text")
  }

  test("domainWeights covers every domain and weights sum to ~1") {
    val w = Doremi.domainWeights(corpus, "doc_id", "text", "source",
      addK = 0.01, salt = "spec")
    val rows = w.orderBy("source").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(rows.map(_.getLong(1)).toSeq === Seq(6L, 6L, 6L))
    val wsum = rows.map(_.getDouble(4)).sum
    assert(math.abs(wsum - 1.0) < 1e-6, s"weights sum $wsum")
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0) // rate
      assert(r.getDouble(3) >= 0.0) // clipped excess
    }
  }

  test("the divergent minority dialect gains weight") {
    val w = Doremi.domainWeights(corpus, "doc_id", "text", "source",
      addK = 0.01, salt = "spec")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(w("b") > w("a"), s"expected b > a, got $w")
    assert(w("b") > w("c"), s"expected b > c, got $w")
  }

  test("n_kept equals the resample row count per domain") {
    val weights = Doremi.domainWeights(corpus, "doc_id", "text", "source",
      addK = 0.01, salt = "spec")
    val kept = Doremi.resample(corpus, "doc_id", "source", weights,
        salt = "spec")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    weights.collect().foreach { r =>
      assert(kept.getOrElse(r.getString(0), 0L) === r.getLong(6),
        s"domain ${r.getString(0)}")
    }
  }

  test("unscoreable domain rides the smoothing floor, still resamples") {
    import spark.implicits._
    val withShort = corpus.union(
      Seq((100L, "z", "ab"), (101L, "z", ""))
        .toDF("doc_id", "source", "text"))
    val w = Doremi.domainWeights(withShort, "doc_id", "text", "source",
      addK = 0.01, salt = "spec")
    val z = w.filter(col("source") === "z").collect().head
    assert(z.getLong(1) === 2L)
    assert(z.getDouble(3) === 0.0) // no grams -> excess 0
    assert(z.getDouble(4) > 0.0) // uniform smoothing keeps it alive
  }

  test("domainWeights is invariant to input partitioning and row order") {
    // pins the round-16 carrier: per-doc sums run over SORTED gram
    // vectors and the per-step model arithmetic runs in sorted-domain /
    // sorted-gram order on the driver — so a reshuffled, reordered input
    // must reproduce every weight, excess and n_kept bit-for-bit
    val base = Doremi.domainWeights(corpus, "doc_id", "text", "source",
      addK = 0.01, salt = "spec").orderBy("source").collect().toSeq
    val shuffled = Doremi.domainWeights(
      corpus.repartition(7).sortWithinPartitions(col("doc_id").desc),
      "doc_id", "text", "source", addK = 0.01, salt = "spec")
      .orderBy("source").collect().toSeq
    assert(shuffled === base)
  }

  test("Cached.scope: domainWeights matches the bare form and releases caches") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val bare = Doremi.domainWeights(corpus, "doc_id", "text", "source",
      addK = 0.01, salt = "spec").orderBy("source").collect().toSeq
    spark.catalog.clearCache() // the bare form's cache is caller-managed
    val scoped = Cached.scope {
      Doremi.domainWeights(corpus, "doc_id", "text", "source", addK = 0.01,
        salt = "spec").orderBy("source").collect().toSeq
    }
    assert(scoped === bare)
    assert(cm.isEmpty, "doremi caches outlived the scoped call")
    intercept[RuntimeException] {
      Cached.scope {
        Doremi.domainWeights(corpus, "doc_id", "text", "source",
          addK = 0.01, salt = "spec").count()
        throw new RuntimeException("boom")
      }
    }
    assert(cm.isEmpty)
  }
}
