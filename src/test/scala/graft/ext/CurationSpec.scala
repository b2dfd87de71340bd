package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {

  test("leakageSafeSplit: near-dup clusters never straddle splits; " +
      "partition stays disjoint and exhaustive") {
    import spark.implicits._
    // two chains (1-2-3 transitively, 10-11) and singletons 20, 21
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Curation.leakageSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 10L, 11L, 20L, 21L)
    // every member of a component carries ONE label — the leakage guard
    Set(out(1L), out(2L), out(3L)).size shouldBe 1
    Set(out(10L), out(11L)).size shouldBe 1
    // a cluster's label is assignSplit's decision on its min-id; a
    // singleton's is assignSplit on its own id — the same coin q75 pins
    def coin(id: Long) = Curation.assignSplit(
      Seq(id).toDF("g"), "g",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .select("split").as[String].head()
    out(3L) shouldBe coin(1L)
    out(11L) shouldBe coin(10L)
    out(20L) shouldBe coin(20L)
    out(21L) shouldBe coin(21L)
  }

  test("packTokenBudget matches a sequential reference on a random corpus") {
    import spark.implicits._
    val rng = new scala.util.Random(graft.Check.PinnedSeed)
    val docs = (0L until 500L).map { id =>
      (id, Seq.fill(1 + rng.nextInt(40))("w").mkString(" "))
    }
    val out = Curation.packTokenBudget(
      docs.toDF("doc_id", "text"), "doc_id", "text", budgetTokens = 100)
      .as[(Long, Long, Long)].collect().sortBy(_._1)

    var prefix = 0L
    docs.foreach { case (id, text) =>
      val n = text.split("\\s+").length.toLong
      val expectedBin = prefix / 100
      val row = out.find(_._1 == id).get
      assert(row._2 === n, s"token count for $id")
      assert(row._3 === expectedBin, s"bin for $id")
      prefix += n
    }
  }

  test("packTokenBudget bins are invariant to input partitioning") {
    import spark.implicits._
    val docs = (0L until 300L).map(id => (id, ("tok " * (1 + (id % 37).toInt)).trim))
    val df = docs.toDF("doc_id", "text")
    def bins(d: org.apache.spark.sql.DataFrame) =
      Curation.packTokenBudget(d, "doc_id", "text", 64)
        .as[(Long, Long, Long)].collect().toSet
    assert(bins(df.repartition(1)) === bins(df.repartition(7)))
  }

  test("stratifiedSample is deterministic, respects strata, ~hits fractions") {
    import spark.implicits._
    val rows = (0L until 4000L)
      .map(id => (id, Seq("en", "de", "fr", "zh")((id % 4).toInt)))
    val df = rows.toDF("doc_id", "lang")
    val fr = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.0)
    def sample() = Curation.stratifiedSample(df, "doc_id", "lang", fr)
      .as[(Long, String)].collect().toSet
    val s1 = sample()
    assert(s1 === sample()) // bit-for-bit reproducible
    assert(!s1.exists(_._2 == "fr")) // fraction 0
    assert(!s1.exists(_._2 == "zh")) // stratum not in the map
    val en = s1.count(_._2 == "en").toDouble / 1000
    val de = s1.count(_._2 == "de").toDouble / 1000
    assert(math.abs(en - 0.5) < 0.05, s"en rate $en")
    assert(math.abs(de - 0.25) < 0.05, s"de rate $de")
  }

  test("keepThresholdHex edges: 0 keeps nothing, 1 keeps everything") {
    import spark.implicits._
    val df = (0L until 200L).map((_, "en")).toDF("doc_id", "lang")
    assert(Curation.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0.0)).count() === 0L)
    assert(Curation.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 1.0)).count() === 200L)
  }

  test("contamination flags shared n-grams, counts grams and eval docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = eval 10
      (2L, "a b quick brown fox jumps c d"), // shares one 5-gram with eval 10
      (3L, "completely different text with no overlap at all"),
      (4L, "the quick brown fox jumps over the lazy dog today") // 2 hits
    ).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "over the lazy dog today and tomorrow x")
    ).toDF("eval_id", "text")
    val out = Curation.contamination(
      docs, "doc_id", "text", eval, "eval_id", "text", n = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1 == eval 10: all 5 of its 5-grams hit, one eval doc
    // doc 2: only 4 consecutive eval tokens survive ("quick brown fox
    //   jumps"), never 5 — clean, so absent from the result
    // doc 4: doc 1 plus "today" — its 6 grams hit eval 10 (first five)
    //   and eval 11 ("over the lazy dog today"), so 2 eval docs
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === 5L && byId(1L)._3 === 1L)
    assert(!byId.contains(2L))
    assert(!byId.contains(3L))
    assert(byId(4L)._2 === 6L && byId(4L)._3 === 2L)

    // shuffle-join path returns the identical result
    val wide = Curation.contamination(
      docs, "doc_id", "text", eval, "eval_id", "text", n = 5,
      broadcastEval = false)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(wide === out)
  }

  test("capPerKey equals the naive single-window cap (exactness)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // skewed: key "big" has 500 rows, others 1..20
    val rows = (1 to 500).map(i => ("big", i.toLong)) ++
      (1 to 19).flatMap(k => (1 to k).map(i => (s"k$k", (1000 * k + i).toLong)))
    val df = rnd.shuffle(rows).toDF("src", "id").repartition(7)
    val order = Seq(md5(col("id").cast("string")), col("id"))

    val capped = Curation.capPerKey(df, "src", 5, order, saltBuckets = 4)
      .select("src", "id").as[(String, Long)].collect().toSet
    val naive = df
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(order: _*)))
      .filter(col("rn") <= 5).select("src", "id")
      .as[(String, Long)].collect().toSet
    capped shouldBe naive
    // the cap binds: big contributes exactly 5, small keys keep all rows
    capped.count(_._1 == "big") shouldBe 5
    capped.count(_._1 == "k3") shouldBe 3
  }

  test("chunkDocuments: coverage, overlap, and edge lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"), // 10 chars
      (2L, "abcd"),       // exactly one chunk
      (3L, "a"),          // shorter than the overlap: still one chunk
      (4L, ""),           // empty: no chunks
      (5L, null)          // null: no chunks
    ).toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, "doc_id", "text",
      chunkChars = 4, overlapChars = 1)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, String)].collect().toSeq
    got shouldBe Seq(
      (1L, 0, "abcd"), (1L, 1, "defg"), (1L, 2, "ghij"),
      (2L, 0, "abcd"),
      (3L, 0, "a"))
    // consecutive chunks share exactly the overlap
    got.filter(_._1 == 1L).sliding(2).foreach {
      case Seq((_, _, a), (_, _, b)) => a.takeRight(1) shouldBe b.take(1)
      case _ =>
    }
  }

  test("chunkDocuments with zero overlap tiles the document exactly") {
    import spark.implicits._
    val doc = (1L, "x" * 1003)
    val got = Curation.chunkDocuments(Seq(doc).toDF("doc_id", "text"),
      "doc_id", "text", chunkChars = 100)
      .agg(count(lit(1)), sum(expr("length(chunk)"))).head()
    got.getLong(0) shouldBe 11L   // ceil(1003/100)
    got.getLong(1) shouldBe 1003L // no char duplicated, none lost
  }

  test("weightedSample: cap always kept, zero never, rate tracks weight") {
    import spark.implicits._
    val df = (1L to 4000L).map { i =>
      (i, if (i % 4 == 0) 0L else if (i % 4 == 1) 400L else if (i % 4 == 2) 100L else 200L)
    }.toDF("id", "w")
    val kept = Curation.weightedSample(df, "id", "w", capWeight = 400L)
      .as[(Long, Long)].collect().toSeq
    // weight >= cap: kept with certainty; weight <= 0: dropped with certainty
    kept.count(_._2 == 400L) shouldBe 1000
    kept.count(_._2 == 0L) shouldBe 0
    // thinned strata keep ~w/400 of their 1000 rows (md5-uniform; ±5σ)
    kept.count(_._2 == 100L).toDouble shouldBe 250.0 +- 70.0
    kept.count(_._2 == 200L).toDouble shouldBe 500.0 +- 80.0
  }

  test("negativeSample: k per anchor, never self, corpus-bounded, deterministic") {
    import spark.implicits._
    val df = (1L to 200L).map(i => Tuple1(i)).toDF("id")
    val out = Curation.negativeSample(df, "id", k = 3, salt = "s")
      .as[(Long, Int, Long)].collect().toSeq
    out.size shouldBe 600
    out.groupBy(_._1).foreach { case (_, rows) =>
      rows.map(_._2).sorted shouldBe Seq(1, 2, 3)
    }
    out.foreach { case (a, _, neg) =>
      neg should not be a
      neg should (be >= 1L and be <= 200L)
    }
    val again = Curation.negativeSample(df, "id", k = 3, salt = "s")
      .as[(Long, Int, Long)].collect().toSeq
    again.toSet shouldBe out.toSet
    val other = Curation.negativeSample(df, "id", k = 3, salt = "t")
      .as[(Long, Int, Long)].collect().toSeq
    other.toSet should not be out.toSet
  }

  test("weightedSample is deterministic and salt-sensitive") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, i)).toDF("id", "w")
    val a = Curation.weightedSample(df, "id", "w", 500L, salt = "s1")
      .as[(Long, Long)].collect().toSet
    val b = Curation.weightedSample(df, "id", "w", 500L, salt = "s1")
      .as[(Long, Long)].collect().toSet
    val c = Curation.weightedSample(df, "id", "w", 500L, salt = "s2")
      .as[(Long, Long)].collect().toSet
    a shouldBe b
    a should not be c
  }

  test("temperatureSample: smallest source kept whole, shares flatten to p^alpha") {
    import spark.implicits._
    // 8000 "en", 2000 "de", 250 "sw" — a 32:8:1 imbalance
    val df = ((1L to 8000L).map((_, "en")) ++
      (8001L to 10000L).map((_, "de")) ++
      (10001L to 10250L).map((_, "sw"))).toDF("id", "src")
    val out = Curation.temperatureSample(df, "id", "src", alpha = 0.5)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    // rate_i = (n_i/n_min)^(-0.5): sw 1.0, de 1/sqrt(8), en 1/sqrt(32)
    out("sw") shouldBe 250L // rate 1 keeps every row
    out("de").toDouble shouldBe (2000 / math.sqrt(8)) +- 80.0
    out("en").toDouble shouldBe (8000 / math.sqrt(32)) +- 120.0
    // surviving shares are ~proportional to sqrt(n): 2*sqrt(2) : sqrt(2)*2...
    val exp = Map("en" -> math.sqrt(8000.0), "de" -> math.sqrt(2000.0),
      "sw" -> math.sqrt(250.0))
    val scale = out("sw") / exp("sw")
    Seq("en", "de").foreach { s =>
      (out(s) / exp(s)) shouldBe scale +- scale * 0.15
    }
  }

  test("temperatureSample: alpha=1 keeps everything; deterministic by salt") {
    import spark.implicits._
    val df = ((1L to 900L).map((_, "a")) ++ (901L to 1000L).map((_, "b")))
      .toDF("id", "src")
    Curation.temperatureSample(df, "id", "src", alpha = 1.0)
      .count() shouldBe 1000L
    val a = Curation.temperatureSample(df, "id", "src", 0.3, salt = "x")
      .select("id").as[Long].collect().toSet
    val b = Curation.temperatureSample(df, "id", "src", 0.3, salt = "x")
      .select("id").as[Long].collect().toSet
    a shouldBe b
    a should not be Curation.temperatureSample(df, "id", "src", 0.3,
      salt = "y").select("id").as[Long].collect().toSet
  }

  test("temperatureSample: corpus never shuffles — broadcast rates only") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "src")
    val plan = Curation.temperatureSample(df, "id", "src", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("assignSplit: disjoint, exhaustive, near-target shares, stable") {
    import spark.implicits._
    val df = (1L to 10000L).map(Tuple1(_)).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Curation.assignSplit(df, "id", splits, salt = "s")
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    counts.values.sum shouldBe 10000L // exhaustive, one label per row
    counts("train").toDouble shouldBe 8000.0 +- 200.0
    counts("val").toDouble shouldBe 1000.0 +- 120.0
    counts("test").toDouble shouldBe 1000.0 +- 120.0
    // growth stability: the same rows keep their split inside a superset
    val bigger = Curation.assignSplit(
      (1L to 20000L).map(Tuple1(_)).toDF("id"), "id", splits, salt = "s")
    val small = out.as[(Long, String)].collect().toMap
    bigger.filter($"id" <= 10000).as[(Long, String)].collect()
      .foreach { case (id, sp) => sp shouldBe small(id) }
  }

  test("assignSplit on a group key keeps whole groups together") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i, s"domain${i % 30}"))
      .toDF("id", "grp")
    val out = Curation.assignSplit(df, "grp",
      Seq("train" -> 0.5, "test" -> 0.5))
    out.groupBy("grp").agg(countDistinct("split").as("n"))
      .filter($"n" > 1).count() shouldBe 0L
  }

  test("dropBoilerplateLines: template lines vanish, order survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nunique beta"),
      (2L, "COOKIE BANNER\nother gamma"),
      (3L, "COOKIE BANNER\nmore delta"),
      (4L, "COOKIE BANNER")) // all-boilerplate doc -> empty clean
      .toDF("id", "text")
    val out = Curation.dropBoilerplateLines(docs, "id", "text",
      maxDocsPerLine = 2).orderBy("id").collect()
    out.map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3))) shouldBe Array(
      (1L, "unique alpha\nunique beta", 2L, 1L),
      (2L, "other gamma", 1L, 1L),
      (3L, "more delta", 1L, 1L),
      (4L, "", 0L, 1L))
  }

  test("dropBoilerplateLines: under-threshold repeats stay put") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared line\nown one"),
      (2L, "shared line\nown two")).toDF("id", "text")
    Curation.dropBoilerplateLines(docs, "id", "text", maxDocsPerLine = 2)
      .filter($"clean".contains("shared line")).count() shouldBe 2L
  }

  test("assembleSequences: ordered, truncated, untruncated count kept") {
    import spark.implicits._
    val ev = Seq(
      ("u1", "2024-01-01 00:00:03", 3L, "c"),
      ("u1", "2024-01-01 00:00:01", 1L, "a"),
      ("u1", "2024-01-01 00:00:02", 2L, "b"),
      ("u2", "2024-01-01 00:00:09", 9L, "z"))
      .toDF("u", "ts", "eid", "et")
    val out = Curation.assembleSequences(ev, "u",
      org.apache.spark.sql.functions.struct($"ts", $"eid", $"et"),
      maxLen = 2).orderBy("u").collect()
    out.map(_.getLong(1)) shouldBe Array(3L, 1L)
    val seq1 = out(0).getSeq[org.apache.spark.sql.Row](2)
    seq1.map(_.getLong(1)) shouldBe Seq(1L, 2L) // sorted, clipped at 2
    out(1).getSeq[org.apache.spark.sql.Row](2).map(_.getLong(1)) shouldBe
      Seq(9L)
  }

  test("unimaxAllocation: waterfill matches hand math, caps bind " +
      "smallest-first, sample count equals n_virtual") {
    import spark.implicits._
    // sizes 10 / 20 / 100 chars; budget = 1.0x total = 130, cap 2.
    // lo: 2x10=20 <= 130/3 -> capped; mid: 2x20=40 <= (130-20)/2=55 ->
    // capped; hi: equal share (130-60)/1 = 70 -> 0.7 epochs.
    val docs = Seq(
      (1L, "lo", "a" * 10),
      (2L, "mid", "b" * 20),
      (3L, "hi", "c" * 50), (4L, "hi", "d" * 50))
      .toDF("doc_id", "lang", "text")
    val alloc = Curation.unimaxAllocation(docs, "doc_id", "text", "lang",
      epochCap = 2.0, budgetFraction = 1.0, salt = "spec")
    val byLang = alloc.collect().map(r => r.getString(0) -> r).toMap
    assert(byLang("lo").getDouble(3) === 20.0) // alloc = 2 epochs x 10
    assert(byLang("lo").getDouble(4) === 2.0)
    assert(byLang("mid").getDouble(3) === 40.0)
    assert(byLang("mid").getDouble(4) === 2.0)
    assert(byLang("hi").getDouble(3) === 70.0) // the equal-share rest
    assert(byLang("hi").getDouble(4) === 0.7)
    // the exact integer grids the oracle compares on (BigInt rationals;
    // doubles above are derived from these)
    assert(byLang("lo").getLong(7) === 20000000L)  // alloc_micro
    assert(byLang("lo").getLong(8) === 2000000L)   // epochs_micro
    assert(byLang("hi").getLong(7) === 70000000L)
    assert(byLang("hi").getLong(8) === 700000L)
    // p_nano = round_half_up(b/B · 1e9): lo 20/130, hi 70/130
    assert(byLang("lo").getLong(9) === 153846154L)
    assert(byLang("hi").getLong(9) === 538461538L)
    // materialized corpus: per-lang row count equals n_virtual, epoch
    // index never exceeds the cap's ceiling
    val sample = Curation.unimaxSample(docs, "doc_id", "lang", alloc,
      salt = "spec")
    val counts = sample.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    alloc.collect().foreach { r =>
      assert(counts.getOrElse(r.getString(0), 0L) === r.getLong(6),
        s"lang ${r.getString(0)}")
    }
    assert(sample.agg(max("epoch")).head().getLong(0) <= 2L)
    // capped languages materialize exactly cap x n_docs rows
    assert(counts("lo") === 2L && counts("mid") === 2L)
  }

  test("exactContamination: verbatim probe flags, duplicates counted, " +
      "short eval items carry no probe; filter form drops exactly hits") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "clean page about gardening tips"),
      (2L, "quoted: what is 7 plus 5 end"),     // contains probe once
      (3L, "what is 7 plus 5 and what is 7 plus 5"), // probes 100+101
      (4L, "short page")).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "what is 7 plus 5"),               // 16-char probe
      (101L, "what is 7 plus 5"),               // duplicate probe
      (102L, "tiny")                            // < probeLen: no probe
    ).toDF("doc_id", "text")
    val rep = Curation.exactContamination(corpus, evalSet,
        "doc_id", "text", "text", probeLen = 16)
      .orderBy("doc_id").collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 0L), (2L, 2L), (3L, 2L), (4L, 0L)))
    val kept = Curation.exactDecontaminate(corpus, evalSet,
        "doc_id", "text", "text", probeLen = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("exactContamination: an eval set past maxProbes fails naming the bound") {
    import spark.implicits._
    val corpus = Seq((1L, "a page")).toDF("doc_id", "text")
    val evalSet = (1 to 4).map(i => (i.toLong, s"probe number $i ok"))
      .toDF("doc_id", "text").repartition(2)
    val e = intercept[IllegalArgumentException] {
      Curation.exactContamination(corpus, evalSet, "doc_id", "text", "text",
        probeLen = 8, maxProbes = 3)
    }
    e.getMessage should include("maxProbes")
    Curation.exactContamination(corpus, evalSet, "doc_id", "text", "text",
      probeLen = 8, maxProbes = 4).count() shouldBe 1L
  }

  test("semantic decontamination: report flags the planted eval neighbor; " +
      "the filter form equals report.filter(!contaminated)") {
    import spark.implicits._
    val dims = 8
    def vec(axis: Int, seed: Int, noise: Float): Seq[Float] = {
      val rng = new scala.util.Random(seed)
      Seq.tabulate(dims)(i =>
        (if (i == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * noise)
    }
    // corpus doc 0 is a near-copy of eval doc 100 (same seed, tiny
    // noise); the rest of the corpus sits on the other axis
    val corpus = (Seq((0L, vec(0, 7, 0.05f))) ++
      (1L to 5L).map(i => (i, vec(1, i.toInt, 0.4f)))).toDF(
      "vec_id", "embedding")
    val evalSet = Seq((100L, vec(0, 7, 0.0f))).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 2, iterations = 3,
      sampleSize = 16, seed = 42L)
    val report = Curation.semanticContaminationReport(corpus, evalSet,
      "vec_id", "embedding", minCosine = 0.9, cents, nprobe = 2)
    val rows = report.orderBy("vec_id").collect()
    assert(rows.length === 6) // one verdict row per corpus doc
    assert(rows.head.getLong(0) === 0L && rows.head.getBoolean(3),
      "planted near-copy not flagged")
    assert(rows.head.getLong(1) === 1L && rows.head.getDouble(2) > 0.9)
    assert(rows.tail.forall(r => !r.getBoolean(3) && r.isNullAt(2)))
    val survivors = Curation.semanticDecontaminate(corpus, evalSet,
        "vec_id", "embedding", minCosine = 0.9, cents, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    val fromReport = report.filter(!col("contaminated"))
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === fromReport)
    assert(survivors === (1L to 5L).toSet)
  }
}
