package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions._

class SimilaritySpec extends SparkSpec {

  // Deterministic synthetic vectors: cluster A around (1,0,0,...), cluster B
  // around (0,1,0,...), plus an exact duplicate pair inside cluster A.
  private def vectors = {
    import spark.implicits._
    val dims = 8
    // noise 0.6 keeps intra-cluster cosine well below the 0.99 dup
    // threshold while inter-cluster cosine stays far lower still
    def vec(axis: Int, noiseSeed: Int, noise: Float): Seq[Float] = {
      val rng = new scala.util.Random(noiseSeed)
      Seq.tabulate(dims)(i =>
        (if (i == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * noise)
    }
    (Seq(
      (0L, vec(0, 1, 0.6f)), (1L, vec(0, 2, 0.6f)), (2L, vec(0, 3, 0.6f)),
      (3L, vec(1, 4, 0.6f)), (4L, vec(1, 5, 0.6f)), (5L, vec(1, 6, 0.6f)),
      (6L, vec(0, 1, 0.6f)) // exact dup of id 0
    )).toDF("vec_id", "embedding")
  }

  test("vector_dot and vector_norm agree with hand math") {
    import spark.implicits._
    val d = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    assert(d.select(vector_dot(col("a"), col("b"))).as[Double].head() === 32.0)
    assert(math.abs(d.select(vector_norm(col("a"))).as[Double].head()
      - math.sqrt(14.0)) < 1e-9)
  }

  test("vector_cosine is 1 for parallel, 0 for orthogonal vectors") {
    import spark.implicits._
    val d = Seq(
      (Seq(1f, 0f), Seq(2f, 0f), "parallel"),
      (Seq(1f, 0f), Seq(0f, 3f), "orthogonal")).toDF("a", "b", "case")
    val m = d.select(col("case"), vector_cosine(col("a"), col("b")).as("c"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(m("parallel") - 1.0) < 1e-9)
    assert(math.abs(m("orthogonal")) < 1e-9)
  }

  test("y1 brute-force top-k ranks the exact duplicate first") {
    import spark.implicits._
    val out = Similarity.topKBruteForce(
      vectors.filter($"vec_id" === 0L), vectors, "vec_id", "embedding", k = 3)
    val rows = out.as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(rows.head._2 === 6L) // the exact dup
    assert(math.abs(rows.head._4 - 1.0) < 1e-9)
    // all top-3 of a cluster-A query are cluster-A members
    assert(rows.forall(r => Set(1L, 2L, 6L).contains(r._2)))
  }

  test("y2 LSH top-k achieves full recall on separated clusters") {
    import spark.implicits._
    val exact = Similarity.topKBruteForce(
        vectors, vectors, "vec_id", "embedding", k = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.topKLsh(
        vectors, "vec_id", "embedding", k = 2, bands = 8, planesPerBand = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low; exact=$exact approx=$approx")
  }

  test("x5/x6 embedding near-dup: exact finds the planted pair, LSH agrees") {
    import spark.implicits._
    val exact = Dedup.nearDuplicatesEmbeddingExact(
        vectors, "vec_id", "embedding", minCosine = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((0L, 6L)))
    val lsh = Dedup.nearDuplicatesEmbedding(
        vectors, "vec_id", "embedding", minCosine = 0.99,
        bands = 8, planesPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
  }

  test("x10 semantic (IVF-cell) near-dup finds the planted pair exactly once") {
    import spark.implicits._
    val sem = Dedup.nearDuplicatesSemantic(
      vectors, "vec_id", "embedding", minCosine = 0.99,
      nlist = 4, nprobe = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(sem.length === sem.distinct.length)
    sem.foreach { case (a, b) => assert(a < b) }
    assert(sem.toSet === Set((0L, 6L)))
  }

  test("cosinePairsIvf with a persisted codebook matches the trained run") {
    import spark.implicits._
    val cb = Similarity.trainCentroids(
      vectors, "vec_id", "embedding", nlist = 4, iterations = 5,
      sampleSize = 16, seed = 42L)
    val roundTrip = Similarity.centroidsFromDF(
      Similarity.centroidsToDF(spark, cb))
    def run(c: Option[Seq[Array[Float]]]) = Similarity.cosinePairsIvf(
      vectors, "vec_id", "embedding", minCosine = 0.5,
      nlist = 4, nprobe = 2, centroids = c)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(run(Some(roundTrip)) === run(None))
  }

  test("cosinePairsLsh emits each pair at most once") {
    import spark.implicits._
    val pairs = Similarity.cosinePairsLsh(
      vectors, "vec_id", "embedding", bands = 8, planesPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length === pairs.distinct.length)
    pairs.foreach { case (a, b) => assert(a < b) }
  }

  test("cosinePairsLsh drops zero-norm vectors (null cosine) under minCosine") {
    // A zero-norm vector's cosine divides by zero: under Spark 4's default
    // ANSI mode a raw `/` FAILS the whole query (DIVIDE_BY_ZERO, observed),
    // and under legacy mode it yields NaN — which Spark ranks ABOVE every
    // double, so a bare `>= minCosine` would emit the zero vector as a
    // near-dup of every band collision partner. The operator scores with
    // try_divide (null in both modes) and filters nulls explicitly.
    import spark.implicits._
    val dims = 4
    // two identical unit vectors (a real near-dup pair) + a zero vector
    val rows = Seq(
      (0L, Seq.fill(dims)(1.0f)),
      (1L, Seq.fill(dims)(1.0f)),
      (2L, Seq.fill(dims)(0.0f))) // zero norm -> NaN cosine with everything
    val df = rows.toDF("vec_id", "embedding")
    // one band of zero planes would be ideal to force collision; with
    // seeded planes the zero vector's dot products are all 0 -> sign bits
    // all 0 -> it lands in SOME bucket; brute-force the band space by
    // using 1 plane per band so buckets are coarse (2 buckets/band) and
    // collisions with the real vectors are guaranteed in at least one band
    val pairs = Similarity.cosinePairsLsh(
        df, "vec_id", "embedding", bands = 8, planesPerBand = 1,
        minCosine = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L))) // the zero vector appears in NO pair
  }

  test("y3 IVF top-k: high recall vs brute force, deterministic") {
    import spark.implicits._
    val exact = Similarity.topKBruteForce(
        vectors, vectors, "vec_id", "embedding", k = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.topKIvf(
        vectors, "vec_id", "embedding", k = 2, nlist = 2, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall; exact=$exact ivf=$ivf")
    val again = Similarity.topKIvf(
        vectors, "vec_id", "embedding", k = 2, nlist = 2, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again === ivf) // seeded training: reproducible run-to-run
  }

  test("searchIvf: batch-vs-corpus serve matches brute force and excludes " +
      "the batch from candidates") {
    import spark.implicits._
    val corpus = vectors.filter($"vec_id" =!= 0L)
    val batch = vectors.filter($"vec_id" === 0L)
    val cents = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 2, iterations = 3,
      sampleSize = 16, seed = 42L)
    val served = Similarity.searchIvf(
        batch, corpus, "vec_id", "embedding", k = 3, cents, nprobe = 2)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    // nprobe = nlist ⇒ every corpus vector is a candidate ⇒ exact top-3
    val exact = Similarity.topKBruteForce(
        batch, corpus, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(served.toSeq === exact.toSeq)
    assert(served.head._2 === 6L) // the planted exact dup ranks first
    assert(served.forall(_._1 === 0L)) // only batch ids query
    // self-search special case: topKIvfWithCentroids(df) ≡ searchIvf(df, df)
    val self = Similarity.topKIvfWithCentroids(
        vectors, "vec_id", "embedding", k = 2, cents, nprobe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    val both = Similarity.searchIvf(
        vectors, vectors, "vec_id", "embedding", k = 2, cents, nprobe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(self === both)
  }

  test("crossPairsIvf at full probe equals the brute-force threshold " +
      "cross join; each pair surfaces once") {
    import spark.implicits._
    val corpus = vectors.filter($"vec_id" % 2 === 0L)
    val queries = vectors.filter($"vec_id" % 2 === 1L)
    val cents = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 2, iterations = 3,
      sampleSize = 16, seed = 42L)
    // nprobe = nlist ⇒ complete candidate coverage ⇒ exact pair set
    val got = Similarity.crossPairsIvf(queries, corpus,
        "vec_id", "embedding", minCosine = 0.3, cents, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.size === got.map(p => (p._1, p._2)).distinct.size,
      "a pair surfaced more than once")
    val brute = queries.select($"vec_id".as("query_id"), $"embedding".as("q"))
      .crossJoin(corpus.select($"vec_id".as("corpus_id"), $"embedding".as("c")))
      .select($"query_id", $"corpus_id",
        vector_cosine($"q", $"c").as("cosine"))
      .filter($"cosine" >= 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.toSet === brute.toSet)
    assert(got.nonEmpty) // clusters guarantee some cross-split pairs
  }

  test("suggestPlanesPerBand pins expected bucket population near sqrt(n)") {
    // n / 2^p ≈ √n  ⇔  p ≈ log2(n)/2
    Similarity.suggestPlanesPerBand(0L) shouldBe 1
    Similarity.suggestPlanesPerBand(3L) shouldBe 1
    Similarity.suggestPlanesPerBand(16L) shouldBe 2
    Similarity.suggestPlanesPerBand(5000L) shouldBe 6 // log2(5000)/2 = 6.14
    Similarity.suggestPlanesPerBand(1000000L) shouldBe 10
    // the invariant, not just the spots: bucket population within
    // [√n/2, 2√n] across six orders of magnitude
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L, 10000000L)) {
      val p = Similarity.suggestPlanesPerBand(n)
      val bucket = n.toDouble / math.pow(2.0, p)
      val root = math.sqrt(n.toDouble)
      assert(bucket >= root / 2 && bucket <= root * 2,
        s"n=$n p=$p bucket=$bucket sqrt=$root")
    }
  }

  test("IVF codebook persists: parquet round-trip gives identical results") {
    import spark.implicits._
    // build-once/reuse: a pipeline trains per corpus snapshot, persists
    // the codebook, and later query runs must behave as if freshly trained
    val trained = Similarity.trainCentroids(
      vectors, "vec_id", "embedding", nlist = 2, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-").toString
    Similarity.centroidsToDF(spark, trained).write.mode("overwrite").parquet(dir)
    val loaded = Similarity.centroidsFromDF(spark.read.parquet(dir))

    assert(loaded.length === trained.length)
    loaded.zip(trained).foreach { case (l, t) => assert(l.toSeq === t.toSeq) }

    def run(cb: Seq[Array[Float]]) = Similarity.topKIvfWithCentroids(
        vectors, "vec_id", "embedding", k = 2, cb, nprobe = 1)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(run(loaded) === run(trained))
    // and the one-shot API is exactly train + search with the same params
    assert(run(trained) === Similarity.topKIvf(
        vectors, "vec_id", "embedding", k = 2, nlist = 2, nprobe = 1)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet)
  }

  test("int8 quantization kernels: round-trip error, scale, zero vector") {
    import spark.implicits._
    val rows = Seq(
      Seq(1.0f, -0.5f, 0.25f, 0.0f),
      Seq(0.0f, 0.0f, 0.0f, 0.0f),
      Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    val got = rows.toDF("v")
      .select(
        vector_quantize_int8(col("v")).as("qb"),
        vector_max_abs(col("v")).as("m"))
      .collect()
    // maxabs
    got.map(_.getDouble(1)) shouldBe Array(1.0, 0.0, 2.0)
    // component-wise: round(v * 127 / maxabs), Math.round half-up
    // (-63.5 -> -63)
    got(0).getAs[Array[Byte]](0) shouldBe Array[Byte](127, -63, 32, 0)
    got(1).getAs[Array[Byte]](0) shouldBe Array[Byte](0, 0, 0, 0)
    got(2).getAs[Array[Byte]](0) shouldBe Array[Byte](-127, 127, 64, -63)
    // integer dot of the quantized forms
    val dot = rows.take(1).map(_ => (rows(0), rows(2))).toDF("a", "b")
      .select(vector_int8_dot(
        vector_quantize_int8(col("a")), vector_quantize_int8(col("b"))))
      .head().getLong(0)
    dot shouldBe (127L * -127 + -63L * 127 + 32L * 64 + 0)
  }

  test("pq: codebooks that cover every point make ADC dot exact") {
    import spark.implicits._
    import graft.functions.PqFunctions.{pq_adc_dot, pq_encode}
    // ksub >= sample size: Lloyd's init seeds each centroid with a sample
    // point, every point becomes its own centroid, so encode->ADC must
    // reproduce the float dot product bit-for-bit (7 points, ksub = 8)
    val pq = Similarity.trainPq(
      vectors, "vec_id", "embedding", m = 2, ksub = 8,
      iterations = 3, sampleSize = 1024, seed = 1L)
    pq.length shouldBe 2
    pq.head.length shouldBe 8
    val q = vectors.select(col("vec_id"), col("embedding").as("q"))
    val c = vectors.select(col("vec_id").as("cid"),
      col("embedding").as("cv"),
      pq_encode(col("embedding"), pq).as("codes"))
    val diffs = q.crossJoin(c)
      .select(abs(pq_adc_dot(col("q"), col("codes"), pq) -
        vector_dot(col("q"), col("cv"))).as("d"))
      .agg(max("d")).as[Double].head()
    diffs should be < 1e-6
  }

  test("pq codebooks round-trip through their DataFrame form") {
    val pq = Similarity.trainPq(
      vectors, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val back = Similarity.pqFromDF(Similarity.pqToDF(spark, pq))
    back shouldBe pq
  }

  test("y5 ivf-pq top-k matches the float brute force here") {
    import spark.implicits._
    val exact = Similarity.topKBruteForce(
      vectors, vectors, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // one cell + exhaustive probe + exact-reconstruction codebooks: the
    // candidate stage cannot miss, and the final ranking is exact cosine
    val ivfpq = Similarity.topKIvfPq(
      vectors, vectors, "vec_id", "embedding", k = 3,
      nlist = 2, nprobe = 2, m = 2, ksub = 8, rescoreFactor = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    ivfpq shouldBe exact
  }

  test("y4 two-stage int8 top-k matches the float brute force here") {
    import spark.implicits._
    val exact = Similarity.topKBruteForce(
      vectors, vectors, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val quant = Similarity.topKQuantized(
      vectors, vectors, "vec_id", "embedding", k = 3, rescoreFactor = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // final ranking is by EXACT cosine, so on this small set (where the
    // widened candidate stage cannot miss) the results are identical
    quant shouldBe exact
  }

  test("IVF-PQ models persist end-to-end: train -> parquet -> load -> " +
      "search gives bit-identical codes and identical top-k") {
    import spark.implicits._
    import graft.functions.PqFunctions.pq_encode
    val coarse = Similarity.trainCentroids(
      vectors, "vec_id", "embedding", nlist = 2, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      vectors, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-")
    Similarity.centroidsToDF(spark, coarse)
      .write.mode("overwrite").parquet(s"$dir/coarse")
    Similarity.pqToDF(spark, pq)
      .write.mode("overwrite").parquet(s"$dir/pq")
    val coarseBack =
      Similarity.centroidsFromDF(spark.read.parquet(s"$dir/coarse"))
    val pqBack = Similarity.pqFromDF(spark.read.parquet(s"$dir/pq"))

    // model round-trip is lossless (floats survive parquet bit-for-bit)
    coarseBack.map(_.toSeq) shouldBe coarse.map(_.toSeq)
    pqBack shouldBe pq
    // corpus codes from the loaded books are bit-identical — the contract
    // that keeps a persisted PQ index comparable release-to-release
    def codes(books: Seq[Seq[Seq[Float]]]) = vectors
      .select(col("vec_id"), pq_encode(col("embedding"), books).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    codes(pqBack) shouldBe codes(pq)
    // and the search result is identical to the in-session models'
    def run(cb: Seq[Array[Float]], books: Seq[Seq[Seq[Float]]]) =
      Similarity.topKIvfPqWithModels(
        vectors, vectors, "vec_id", "embedding", k = 3,
        coarse = cb, pq = books, nprobe = 2, rescoreFactor = 3)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
    run(coarseBack, pqBack) shouldBe run(coarse, pq)
  }

  test("searchIvfPqIndex serves from a parquet'd index identically to " +
      "the one-shot path, and its plan reads corpus vectors only for " +
      "the rescore") {
    import spark.implicits._
    val coarse = Similarity.trainCentroids(
      vectors, "vec_id", "embedding", nlist = 2, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      vectors, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx-")
    Similarity.buildIvfPqIndex(vectors, "vec_id", "embedding", coarse, pq)
      .write.mode("overwrite").parquet(s"$dir/index")
    val loaded = spark.read.parquet(s"$dir/index")

    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    val served = Similarity.searchIvfPqIndex(
      vectors, loaded, vectors, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, nprobe = 2, rescoreFactor = 3)
    collect(served) shouldBe collect(Similarity.topKIvfPqWithModels(
      vectors, vectors, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, nprobe = 2, rescoreFactor = 3))
    // serving-plan contract: no PQ encode at query time (the index
    // carries the codes), so the corpus's vector column appears in the
    // plan only through the rescore joins. "pqencode" is the expression's
    // plan-string name (an earlier revision grepped "pq_encode", which
    // never appears in any plan — a vacuously-green assertion).
    val p = served.queryExecution.optimizedPlan.toString
    p should not include "pqencode"
  }

  test("appendToIvfPqIndex: fold of a delta equals a full rebuild, and " +
      "serving from the appended index matches the rebuilt one") {
    import spark.implicits._
    val coarse = Similarity.trainCentroids(
      vectors, "vec_id", "embedding", nlist = 2, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      vectors, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val old = vectors.filter(col("vec_id") % 3 =!= 0)
    val delta = vectors.filter(col("vec_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("cell"), col("codes"), col("cn"))
      .as[(Long, Int, Seq[Int], Double)].collect().toSet
    val appended = Similarity.appendToIvfPqIndex(
      Similarity.buildIvfPqIndex(old, "vec_id", "embedding", coarse, pq),
      delta, "vec_id", "embedding", coarse, pq)
    // fixed models make the fold arrival-order-free: the appended index
    // IS the full rebuild, row for row
    rows(appended) shouldBe rows(
      Similarity.buildIvfPqIndex(vectors, "vec_id", "embedding", coarse, pq))
    // and a query batch served from it cannot tell the difference
    def serve(idx: org.apache.spark.sql.DataFrame) = Similarity
      .searchIvfPqIndex(vectors.limit(6), idx, vectors, "vec_id",
        "embedding", k = 3, coarse = coarse, pq = pq, nprobe = 2,
        rescoreFactor = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    serve(appended) shouldBe serve(Similarity.buildIvfPqIndex(
      vectors, "vec_id", "embedding", coarse, pq))
  }

  test("quantizationErrorSummary: integer-grid sums match hand math") {
    import spark.implicits._
    // codebook {(0,0), (4,0)}; vectors at (0,0), (1,0), (3,0):
    // assignments cell0/cell0/cell1, d2 = 0, 1, 1 -> sum_micro 2e6, n=3.
    // (1,0) is d2=1 from cell0 vs 9 from cell1; (3,0) 9 vs 1 -> cell1.
    val coarse = Seq(Array(0f, 0f), Array(4f, 0f))
    val df = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(3f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizationErrorSummary(df, "embedding", coarse)
      .collect()(0)
    r.getLong(0) shouldBe 3L
    r.getLong(1) shouldBe 2000000L
  }

  test("suggestRebuild: drift and growth triggers fire independently") {
    // drift: delta quantizes 2x worse than the index
    assert(Similarity.suggestRebuild(1.0, 2.0, 1000, 100, 33))
    // in-distribution append under a right-sized codebook: keep going
    assert(!Similarity.suggestRebuild(1.0, 1.1, 1000, 100, 33))
    // growth: 1000 -> 4400 vectors means rule-nlist 66 >= 2 x 33
    assert(Similarity.suggestRebuild(1.0, 1.0, 1000, 3400, 33))
    // a zero-error index (degenerate) never divides by zero
    assert(!Similarity.suggestRebuild(0.0, 0.0, 1000, 100, 33))
  }

  test("indexStalenessReport: a planted shift flips the verdict the " +
      "in-distribution delta keeps down") {
    import spark.implicits._
    // exact geometry: two cells at (0,0)/(4,0), every index vector at
    // squared distance 0.25 from its centroid; the in-dist delta sits
    // at the same 0.25 ring (ratio 1.0), the drifted one is +5 away.
    // 8 + 2 vectors keep the √n rule at 3 < 2·nlist, so only the drift
    // trigger is in play.
    val coarse = Seq(Array(0f, 0f), Array(4f, 0f))
    val index = Seq(
      (1L, Seq(0.5f, 0f)), (2L, Seq(-0.5f, 0f)),
      (3L, Seq(0f, 0.5f)), (4L, Seq(0f, -0.5f)),
      (5L, Seq(4.5f, 0f)), (6L, Seq(3.5f, 0f)),
      (7L, Seq(4f, 0.5f)), (8L, Seq(4f, -0.5f)))
      .toDF("vec_id", "embedding")
    val delta = Seq((9L, Seq(0.5f, 0f)), (10L, Seq(4f, -0.5f)))
      .toDF("vec_id", "embedding")
    val inDist = Similarity.indexStalenessReport(
      index, delta, "embedding", coarse).collect()(0)
    inDist.getAs[Double]("qerr_ratio") shouldBe 1.0
    inDist.getAs[Boolean]("rebuild") shouldBe false
    inDist.getAs[Int]("nlist_rule") shouldBe 3
    val drifted = Similarity.indexStalenessReport(
      index,
      delta.select(col("vec_id"),
        transform(col("embedding"),
          x => (x + lit(5.0)).cast("float")).as("embedding")),
      "embedding", coarse).collect()(0)
    drifted.getAs[Boolean]("rebuild") shouldBe true
    drifted.getAs[Double]("qerr_ratio") should be > 10.0
  }

  test("md5Planes is the documented portable derivation and is stable") {
    // value-pinned: first component of band 0/plane 0 under salt "t" is
    // md5('hp|t|0|0|0') = 0x... -> first 8 hex chars as unsigned int u,
    // float(u / 2^31 - 1). Recomputed here independently of the library
    // path so a drive-by refactor of the key format cannot slip through
    // (persisted LSH models and the y2/x6 oracles both depend on it).
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("hp|t|0|0|0".getBytes("UTF-8"))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val expected = (u.toDouble / 2147483648.0 - 1.0).toFloat
    val planes = Similarity.md5Planes(2, 3, 4, "t")
    planes.length shouldBe 2
    planes.head.length shouldBe 3
    planes.head.head.length shouldBe 4
    planes.head.head.head shouldBe expected
    // deterministic across calls; distinct salts give distinct planes
    Similarity.md5Planes(2, 3, 4, "t") shouldBe planes
    assert(Similarity.md5Planes(2, 3, 4, "u") != planes)
  }

  test("topKLshWithPlanes on md5 planes: full recall on separated clusters") {
    import spark.implicits._
    val planes = Similarity.md5Planes(
      bands = 8, planesPerBand = 2, dims = 8, salt = "spec")
    val got = Similarity.topKLshWithPlanes(
      vectors, "vec_id", "embedding", k = 1, planes)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    // the exact duplicate pair must find each other as rank-1
    got(0L) shouldBe 6L
    got(6L) shouldBe 0L
  }

  test("topKLshWithPlanes: the scored-pair mirror emits both directions " +
      "with one cosine") {
    // pins the round-16 scoring shape: each unordered candidate pair is
    // scored once and mirrored, so whenever (q, n) is emitted and (n, q)
    // is also emitted, the two cosines must be the SAME double — and the
    // result must be invariant to input partitioning/order
    val planes = Similarity.md5Planes(
      bands = 8, planesPerBand = 2, dims = 8, salt = "spec")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.topKLshWithPlanes(df, "vec_id", "embedding", k = 3, planes)
        .orderBy("query_id", "rank").collect().toSeq
    val rows = run(vectors)
    val cos = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    val mirrored = cos.keys.filter { case (q, n) => cos.contains((n, q)) }
    assert(mirrored.nonEmpty, "fixture emitted no mirrored pairs")
    mirrored.foreach { case (q, n) =>
      assert(cos((q, n)) === cos((n, q)),
        s"asymmetric cosine for ($q, $n)")
    }
    assert(run(vectors.repartition(5)) === rows)
  }

  test("trainPqDeterministic: grid-rounded codebooks, reproducible, and " +
      "exact on a covering corpus") {
    import spark.implicits._
    // 4 distinct 4-dim vectors, m=2, ksub=4: every subvector becomes its
    // own centroid (after one refit each cell holds exactly one point), so
    // ADC reconstruction is the 1e-6-grid snap of the corpus itself
    val tiny = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 1f)),
      (2L, Seq(0f, 0f, 1f, 2f)), (3L, Seq(2f, 1f, 0f, 3f)))
      .toDF("vec_id", "embedding")
    val books = Similarity.trainPqDeterministic(
      tiny, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 1, roundDigits = 6, dims = 4)
    books.length shouldBe 2
    books.foreach(_.length shouldBe 4)
    // deterministic: a second training is bit-identical (no RNG anywhere)
    Similarity.trainPqDeterministic(
      tiny, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 1, roundDigits = 6, dims = 4) shouldBe books
    // each point's code reconstructs the point exactly (integer coords
    // are on the 1e-6 grid already)
    import graft.functions.PqFunctions.pq_encode
    val coded = tiny
      .select(col("vec_id"), pq_encode(col("embedding"), books).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    coded.values.toSet.size shouldBe 4 // distinct codes per distinct vector
    coded.foreach { case (id, c) =>
      val recon = c.zipWithIndex.flatMap { case (cell, j) => books(j)(cell) }
      val orig = tiny.filter(col("vec_id") === id)
        .select("embedding").as[Seq[Float]].head()
      recon shouldBe orig
    }
  }

  // ------------------------------------------------ nprobe calibration

  /** nClusters one-hot-axis clusters in 8 dims, perCluster members each,
    * seeded noise — tight at 0.4 (own-cluster neighbors dominate), id =
    * cluster*100 + member.
    */
  private def clusteredCorpus(
      nClusters: Int, perCluster: Int, noise: Float) = {
    import spark.implicits._
    val dims = 8
    (for { c <- 0 until nClusters; j <- 0 until perCluster } yield {
      val rng = new scala.util.Random(c * 1000 + j)
      (c.toLong * 100 + j, Seq.tabulate(dims)(i =>
        (if (i == c % dims) 1f else 0f) + (rng.nextFloat() - 0.5f) * noise))
    }).toDF("vec_id", "embedding")
  }

  test("calibrateNprobe: meets the SLO sub-exhaustively on a clustered " +
      "corpus, walks an ascending curve, and is deterministic") {
    val corpus = clusteredCorpus(8, 16, 0.4f)
    val coarse = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 8, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      corpus, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val index = Similarity.buildIvfPqIndex(
      corpus, "vec_id", "embedding", coarse, pq)
    val queries = corpus.filter(col("vec_id") % 100 < 2)

    val cal = Similarity.calibrateNprobe(
      queries, index, corpus, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, slo = 0.9, sampleQueries = 16,
      rescoreFactor = 8)
    // chosen point meets the SLO without probing every cell (the whole
    // reason the knob exists)
    assert(cal.met(0.9), s"calibration missed the SLO: ${cal.curve}")
    assert(cal.nprobe < coarse.size,
      s"calibration needed an exhaustive probe: ${cal.curve}")
    // the curve is the ascending walk that STOPS at the chosen point:
    // strictly increasing nprobe, every earlier point under the SLO
    cal.curve.last._1 shouldBe cal.nprobe
    cal.curve.map(_._1) shouldBe cal.curve.map(_._1).sorted
    cal.curve.dropRight(1).foreach { case (_, r) => assert(r < 0.9) }
    cal.nSample shouldBe 16
    // deterministic end to end (md5 sample, seeded models, no RNG)
    Similarity.calibrateNprobe(
      queries, index, corpus, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, slo = 0.9, sampleQueries = 16,
      rescoreFactor = 8) shouldBe cal
  }

  test("calibrateNprobe: full probe + covering rescore reaches recall " +
      "1.0, and an unreachable SLO reports met = false at nlist") {
    val corpus = clusteredCorpus(8, 16, 0.4f)
    val coarse = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 8, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      corpus, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    val index = Similarity.buildIvfPqIndex(
      corpus, "vec_id", "embedding", coarse, pq)
    val queries = corpus.filter(col("vec_id") % 100 < 2)

    // nprobe = nlist and k*rescoreFactor >= corpus: the ADC stage cannot
    // drop a true neighbor, and the exact rescore restores the exact
    // ranking — recall is 1.0 by construction
    val full = Similarity.calibrateNprobe(
      queries, index, corpus, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, slo = 1.0, sampleQueries = 16,
      rescoreFactor = 64, grid = Seq(coarse.size))
    full.recallAtChosen shouldBe 1.0
    full.nprobe shouldBe coarse.size

    // an SLO above what a starved candidate stage can reach: the walk
    // exhausts the grid, lands on nlist, and reports met = false —
    // the caller's signal to raise rescoreFactor, not nprobe
    val starved = Similarity.calibrateNprobe(
      queries, index, corpus, "vec_id", "embedding", k = 3,
      coarse = coarse, pq = pq, slo = 1.0, sampleQueries = 16,
      rescoreFactor = 1, grid = Seq(1, coarse.size))
    if (!starved.met(1.0)) {
      starved.nprobe shouldBe coarse.size
      starved.curve.size shouldBe 2
    }
  }

  test("calibrateNprobe: a grid point that throws leaves no cache entry") {
    spark.catalog.clearCache()
    val corpus = clusteredCorpus(8, 16, 0.4f)
    val coarse = Similarity.trainCentroids(
      corpus, "vec_id", "embedding", nlist = 8, iterations = 5,
      sampleSize = 1024, seed = 42L)
    val pq = Similarity.trainPq(
      corpus, "vec_id", "embedding", m = 2, ksub = 4,
      iterations = 3, sampleSize = 1024, seed = 7L)
    // the index is read only by the walk, after the sample and its exact
    // neighbours are cached: serving grid point 1 throws
    val boom = udf((c: Int) => {
      if (c >= 0) throw new IllegalStateException("boom"); c
    })
    val index = Similarity.buildIvfPqIndex(
        corpus, "vec_id", "embedding", coarse, pq)
      .withColumn("cell", boom(col("cell").cast("int")))
    val queries = corpus.filter(col("vec_id") % 100 < 2)
    intercept[Exception] {
      Similarity.calibrateNprobe(
        queries, index, corpus, "vec_id", "embedding", k = 3,
        coarse = coarse, pq = pq, slo = 0.9, sampleQueries = 16,
        rescoreFactor = 8, grid = Seq(1))
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the walk's caches outlived a throwing grid point")
  }
}
