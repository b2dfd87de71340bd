package graft.ext

import org.apache.spark.sql.functions._

import graft.{Cached, SparkSpec}

class DsirSpec extends SparkSpec {

  // Two dialects: "math" docs (the target's look) and "sports" docs.
  // DSIR against a math target must prefer math-flavoured raw docs.
  private def corpus = {
    import spark.implicits._
    val math = Seq("theorem proof lemma algebra integral",
      "proof by induction over the integral lemma",
      "algebra of the theorem and its lemma")
    val sports = Seq("goal striker penalty referee stadium",
      "the striker scored a late penalty goal",
      "referee waved play on at the stadium")
    val rows =
      (0 until 30).map { i =>
        (i.toLong, if (i % 2 == 0) math(i % 3) + s" v$i"
                   else sports(i % 3) + s" v$i")
      }
    rows.toDF("doc_id", "text")
  }

  test("hashedGramBuckets emits unigrams + bigrams with multiplicity") {
    import spark.implicits._
    val df = Seq((1L, "a b a")).toDF("doc_id", "text")
    val n = Dsir.hashedGramBuckets(df, "doc_id", "text", buckets = 64).count()
    // 3 unigrams + 2 bigrams
    assert(n === 5L)
    val empty = Seq((2L, "  "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dsir.hashedGramBuckets(
      empty, "doc_id", "text", buckets = 64).count() === 0L)
  }

  test("logRatios covers every bucket and favours target-only grams") {
    import spark.implicits._
    val target = Seq((1L, "theorem proof lemma")).toDF("doc_id", "text")
    val raw = Seq((2L, "goal striker penalty")).toDF("doc_id", "text")
    val buckets = 256
    val lam = Dsir.logRatios(
      Dsir.hashedGramBuckets(target, "doc_id", "text", buckets),
      Dsir.hashedGramBuckets(raw, "doc_id", "text", buckets),
      buckets)
    assert(lam.count() === buckets.toLong)
    // a bucket seen only in the target must score above the unseen floor,
    // which must score above a raw-only bucket
    val byCount = lam.join(
        Dsir.hashedGramBuckets(target, "doc_id", "text", buckets)
          .groupBy("bucket").count(), Seq("bucket"), "left")
      .select(col("lam"), coalesce(col("count"), lit(0L)).as("tc"))
      .as[(Double, Long)].collect()
    val targetSeen = byCount.filter(_._2 > 0).map(_._1)
    val rest = byCount.filter(_._2 == 0).map(_._1)
    assert(targetSeen.min > rest.max)
  }

  test("select prefers raw docs that look like the target") {
    val target = corpus.filter(col("doc_id") % 2 === 0)
    val raw = corpus.filter(col("doc_id") % 2 =!= 0)
      .union(corpus.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 100L))
    val picked = Dsir.select(raw, target, "doc_id", "text",
      buckets = 512, k = 10)
    val ids = picked.select("doc_id").collect().map(_.getLong(0))
    assert(ids.length === 10)
    // the 15 math-flavoured raw docs (ids >= 100) should dominate the top-10
    assert(ids.count(_ >= 100L) >= 8,
      s"expected math-flavoured docs to dominate, got ${ids.mkString(",")}")
  }

  test("Cached.scope: select matches the bare form and releases the count cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val target = corpus.filter(col("doc_id") % 2 === 0)
    val raw = corpus.filter(col("doc_id") % 2 =!= 0)
    val bare = Dsir.select(raw, target, "doc_id", "text",
      buckets = 512, k = 8).as[(Long, Int, Double)].collect().toSeq
    spark.catalog.clearCache() // the bare form's cache is caller-managed
    val scoped = Cached.scope {
      Dsir.select(raw, target, "doc_id", "text", buckets = 512, k = 8)
        .as[(Long, Int, Double)].collect().toSeq
    }
    assert(scoped === bare)
    assert(cm.isEmpty, "rawCounts cache outlived the scoped selection")
    intercept[RuntimeException] {
      Cached.scope {
        Dsir.select(raw, target, "doc_id", "text", buckets = 512, k = 8)
          .count()
        throw new RuntimeException("boom")
      }
    }
    assert(cm.isEmpty)
  }

  test("fit -> parquet -> selectWithModel equals the fused select") {
    import spark.implicits._
    val target = corpus.filter(col("doc_id") % 2 === 0)
    val raw = corpus.filter(col("doc_id") % 2 =!= 0)
    val fused = Dsir.select(raw, target, "doc_id", "text",
      buckets = 512, k = 8).as[(Long, Int, Double)].collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("dsir-model").toString
    Dsir.fit(target, raw, "doc_id", "text", buckets = 512)
      .write.mode("overwrite").parquet(s"$tmp/lam")
    val served = Dsir.selectWithModel(raw,
        spark.read.parquet(s"$tmp/lam"), "doc_id", "text",
        buckets = 512, k = 8)
      .as[(Long, Int, Double)].collect().toSeq
    assert(served === fused)
  }

  test("select is deterministic and ranks on (score desc, id)") {
    import spark.implicits._
    val target = corpus.filter(col("doc_id") % 2 === 0)
    val raw = corpus.filter(col("doc_id") % 2 =!= 0)
    val a = Dsir.select(raw, target, "doc_id", "text", buckets = 512, k = 5)
      .as[(Long, Int, Double)].collect()
    val b = Dsir.select(raw, target, "doc_id", "text", buckets = 512, k = 5)
      .as[(Long, Int, Double)].collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._2).toSeq === (1 to 5))
    val sorted = a.sortBy(r => (-r._3, r._1)).map(_._1).toSeq
    assert(a.map(_._1).toSeq === sorted)
  }
}
