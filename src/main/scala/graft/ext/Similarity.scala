package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{vector_dot, vector_norm}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`, SURVEY.md §7.5).
  *
  * Two tiers:
  *  - [[topKBruteForce]] — exact: broadcast the (small) query set against
  *    the corpus; embarrassingly parallel, one shuffle for the per-query
  *    top-k. The correctness baseline; also the right plan whenever
  *    |queries| is small, even on a 100 TB corpus.
  *  - [[hyperplaneBucket]] / [[topKLsh]] / [[cosinePairsLsh]] — random-
  *    hyperplane LSH (Charikar 2002): bucket by the sign pattern of dot
  *    products with `p` fixed pseudo-random hyperplanes; candidates come
  *    from an equi-join on bucket (multi-probe: 1-bit flips), so all-pairs
  *    similarity becomes near-linear. The scale path.
  *
  * All hyperplanes derive from a seeded deterministic generator — results
  * are reproducible run-to-run (no RNG at execution time).
  */
object Similarity {

  /** Deterministic unit-ish hyperplanes: dims × p doubles in [-1, 1). */
  private def hyperplanes(p: Int, dims: Int, seed: Long): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(p)(Seq.fill(dims)((rng.nextDouble() * 2 - 1).toFloat))
  }

  /** PORTABLE deterministic hyperplane tables: component (band b, plane p,
    * dim i) is derived from `md5("hp|salt|b|p|i")` — first 8 hex chars as
    * an unsigned int u, mapped to `float(u / 2^31 − 1) ∈ [-1, 1)`. Unlike
    * the JVM-`Random` default, every value is re-derivable in ANY engine
    * with md5 (DuckDB: `('0x' || substr(md5(k),1,8))::BIGINT`), which is
    * what lets the y2/x6 LSH declarations carry full value oracles instead
    * of recall-only companions. Statistically the components are the same
    * uniform[-1,1) the seeded generator gave — recall characteristics are
    * unchanged (and still MEASURED by the recall twins).
    */
  def md5Planes(
      bands: Int, planesPerBand: Int, dims: Int, salt: String): Seq[Seq[Seq[Float]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(key: String): Long = {
      val d = md.digest(key.getBytes("UTF-8"))
      // first 8 hex chars = first 4 bytes, big-endian unsigned
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    (0 until bands).map { b =>
      (0 until planesPerBand).map { p =>
        (0 until dims).map { i =>
          (u32(s"hp|$salt|$b|$p|$i").toDouble / 2147483648.0 - 1.0).toFloat
        }
      }
    }
  }

  /** Size LSH band DEPTH by the corpus — the banded-LSH analogue of
    * [[Clustering.suggestNlist]]'s √corpus rule for IVF. Expected bucket
    * population is n / 2^planesPerBand per band, so holding planesPerBand
    * fixed under a growing corpus grows every bucket — and the candidate
    * join — linearly with n (y2's measured 3.07× step on 4× vectors, the
    * same fixed-capacity law y3 demonstrates for nlist). This rule pins
    * the bucket population at ≈√n (planesPerBand = log2(n)/2), which
    * keeps per-band candidate volume ≈ n·√n — the same growth class as a
    * √corpus-sized IVF serve. Deeper bands cut recall per band; BANDS is
    * the recall knob (add bands as depth grows — the standard banding
    * trade), and the recall twins (y2r/x6r) stay the measurement.
    *
    * Measured caveat (this corpus, top-5 cosine ≈ 0.3): at sf0.1 the
    * rule gives p = 6, and top-5 recall reads 0.51 / 0.66 / 0.76 at
    * 12 / 18 / 24 bands vs (12, 3)'s ≥ 0.9 — on WEAKLY correlated
    * vectors, random-hyperplane collision probability decays too fast
    * with depth for band count to claw back affordably. The rule holds
    * its cost promise on any corpus; its recall is acceptable only on
    * clustered embeddings (where neighbor angles are small). For a
    * corpus like this one, the rule-sized production path is the
    * data-adaptive IVF quantizer ([[Clustering.suggestNlist]] — y7),
    * which earns sub-linear serving from the corpus's own structure
    * instead of from random planes.
    */
  def suggestPlanesPerBand(corpusCount: Long): Int = {
    require(corpusCount >= 0,
      s"suggestPlanesPerBand: negative count $corpusCount")
    if (corpusCount < 4) 1
    else math.max(1L,
      math.round(math.log(corpusCount.toDouble) / math.log(2.0) / 2.0)).toInt
  }

  /** Cosine similarity given precomputed norms (fast custom expressions).
    * `try_divide`, not `/`: a zero-norm vector has divisor 0, which under
    * Spark 4's default ANSI mode would FAIL the whole query
    * (DIVIDE_BY_ZERO) and under legacy mode yields NaN — which Spark ranks
    * ABOVE every double, turning the zero vector into a "near-dup" of every
    * candidate. `try_divide` gives null in both modes; every consumer
    * (threshold filters here, the [[graft.functions.TopKPairs]] heap)
    * skips null scores.
    */
  private def cosine(va: Column, na: Column, vb: Column, nb: Column): Column =
    try_divide(vector_dot(va, vb), na * nb)

  /** LSH bucket id: bit i = sign of dot(vec, plane_i). One compact
    * expression ([[graft.functions.HyperplaneBucketExpr]]) — the plane
    * matrix rides as a reference object, not planes × dims literals.
    */
  def hyperplaneBucket(vec: Column, planes: Int, dims: Int, seed: Long): Column =
    graft.functions.BucketFunctions.hyperplane_bucket(
      vec, hyperplanes(planes, dims, seed).map(_.toSeq))

  /** Exact top-k neighbors of each query vector in the corpus.
    * `queries` is broadcast (keep it small); output
    * `(query_id, neighbor_id, rank, cosine)`, self-matches excluded,
    * ties broken by neighbor id.
    */
  def topKBruteForce(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      vector_norm(col(vecCol)).as("cn"))

    // the corpus side carries the O(corpus x queries) dot-product work; a
    // small-file scan otherwise collapses it to ONE task (measured: a
    // single thread grinding 18+ CPU-minutes while 31 cores idled)
    Dedup.ensureParallelism(c).crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .transform(rankTopK(k))
  }

  /** Per-query top-k of `(query_id, neighbor_id, cosine)` candidates via
    * the native bounded-heap aggregate ([[graft.functions.TopKPairs]]) —
    * the partial phase collapses every partition to at most k entries per
    * query BEFORE the exchange, so the shuffle carries O(queries x k)
    * rows instead of every scored candidate, and nothing is sorted beyond
    * each group's k survivors. Same output contract as the
    * `row_number over (partitionBy query orderBy cosine desc, id)`
    * formulation it replaces: `(query_id, neighbor_id, rank, cosine)`,
    * ties to the smaller id.
    */
  private def rankTopK(k: Int)(scored: DataFrame): DataFrame =
    scored
      .groupBy("query_id")
      // dedupIds: a candidate may arrive once per colliding LSH band with
      // an identical (deterministic) cosine; deduping inside the bounded
      // heap lets callers feed the raw candidate stream with NO distinct()
      // exchange ahead of ranking. Harmless for already-unique streams
      // (brute force, IVF).
      .agg(graft.functions.TopKFunctions.top_k_pairs(
        struct(col("cosine"), col("neighbor_id")), k, dedupIds = true)
        .as("_top"))
      .select(col("query_id"), posexplode(col("_top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))

  /** Per-band (band, bucket) signatures: `bands` INDEPENDENT hyperplane
    * tables of `planesPerBand` planes each; two vectors are candidates when
    * they share the exact bucket in AT LEAST ONE band. Per-band collision
    * probability for cosine c is (1-θ/π)^b with θ = acos(c) (Charikar
    * 2002), so the OR over L bands gives recall 1-(1-p)^L — tunable to any
    * target by (b, L), unlike single-table bit-flip probing whose recall
    * is capped by the probe radius. Parameters must be matched to the
    * similarity threshold: near-dup work at cosine ≥ 0.9 wants narrow
    * buckets (b=8, L=8); moderate thresholds (≈0.3–0.5, e.g. ANN over
    * loosely-correlated embeddings) want wide buckets (b=3–4, L=12–20).
    *
    * `private[graft]`, not public: the signature layout is an internal LSH
    * detail; library callers use [[topKLsh]]/[[cosinePairsLsh]].
    */
  private[graft] def bandedBuckets(
      vec: Column, bands: Int, planesPerBand: Int, dims: Int, seed: Long): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        hyperplaneBucket(vec, planesPerBand, dims, seed + 1315423911L * b)
          .as("bucket"))
    }: _*)

  /** [[bandedBuckets]] against EXPLICIT per-band plane tables (one inner
    * Seq of planes per band) — the build-once/reuse shape for LSH models:
    * generate via [[md5Planes]] (portable) or persist any plane matrix and
    * reuse it run-to-run, pinning signatures the way
    * [[topKIvfWithCentroids]] pins cell assignments.
    */
  private[graft] def bandedBucketsFromPlanes(
      vec: Column, planes: Seq[Seq[Seq[Float]]]): Column =
    array(planes.zipWithIndex.map { case (tbl, b) =>
      struct(
        lit(b).as("band"),
        graft.functions.BucketFunctions.hyperplane_bucket(vec, tbl)
          .as("bucket"))
    }: _*)

  /** Approximate top-k via banded multi-table hyperplane LSH: candidates
    * come from an equi-join on (band, bucket) — never a cross join. Each
    * (query, neighbor) candidate pair is scored once (deduped across
    * bands) and ranked per query. Recall tunes with (bands,
    * planesPerBand); the defaults hit ≥0.9 recall@5 on loosely-correlated
    * (near-random) embeddings where top-5 cosine sits around 0.3.
    *
    * Default (12, 3) is the measured-recall sweep winner at that regime
    * (sf0.1, warm, best-of-2): it dominates the previous (18, 4) on both
    * axes — 2.68 s / recall 0.956 vs 2.88 s / 0.942 — and the per-pair
    * theory agrees (p_band = 0.597³ = 0.213 at c = 0.3 ⇒ recall 0.943 vs
    * 0.913 for (18, 4)). Tighter thresholds (true near-dups at c ≥ 0.9)
    * should RAISE planesPerBand — narrower buckets keep the candidate
    * volume sublinear as the corpus grows.
    */
  def topKLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bands: Int = 12,
      planesPerBand: Int = 3,
      seed: Long = 42L,
      dims: Int = InferDims): DataFrame = {
    val d = resolveDims(df, vecCol, dims)
    topKLshImpl(df, idCol, vecCol, k,
      bandedBuckets(_, bands, planesPerBand, d, seed))
  }

  /** [[topKLsh]] against an EXPLICIT plane model (e.g. [[md5Planes]]) —
    * the build-once/reuse shape: a persisted or portable plane matrix pins
    * bucket signatures across runs and engines, so the declared result can
    * carry a full value oracle (the y2 declaration re-derives these planes
    * and the whole search in DuckDB SQL).
    */
  def topKLshWithPlanes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Seq[Seq[Seq[Float]]]): DataFrame = {
    require(planes.nonEmpty, "topKLshWithPlanes: empty plane model")
    topKLshImpl(df, idCol, vecCol, k, bandedBucketsFromPlanes(_, planes))
  }

  private def topKLshImpl(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bucketsOf: Column => Column): DataFrame = {
    // Signatures carry IDS ONLY through the band join and the pair dedup —
    // the wide vectors attach once per UNIQUE candidate pair afterwards.
    // Unlike the thresholded pair path ([[cosinePairsLsh]]), top-k has no
    // selective filter to push below the dedup: every candidate must reach
    // the ranking aggregate, so deduping EARLY on two-long rows (codegen
    // hash aggregate) is cheaper than re-scoring each band collision and
    // pushing the duplicates through the non-codegen ranking aggregate —
    // measured both ways at sf0.1. The heap-side `dedupIds` in rankTopK
    // stays on as a structural invariant, not the dedup mechanism.
    val sig = df.select(
      col(idCol).as("id"),
      explode(bucketsOf(col(vecCol))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // UNORDERED pairs (a < b) through the join, the dedup, the vector
    // attach AND the scoring — half the band-join output, half the
    // distinct's shuffle, half the wide-vector join volume and half the
    // cosine work vs emitting both directions. Cosine is symmetric
    // BIT-EXACTLY here: vector_dot multiplies the same index positions
    // (IEEE multiply commutes per term, and the sum order over i is
    // unchanged) and `na * nb` commutes — so scoring (a, b) once and
    // mirroring the SCORED row is value-identical to scoring both
    // directions. The mirror is a generator (explode of a 2-element
    // struct array), not a union of two plan branches: the joins and the
    // cosine execute ONCE (a self-union only shares the exchange, not
    // the post-shuffle operators — it would have re-run them per branch).
    val half = sig.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(sig.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    val vecs = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      vector_norm(col(vecCol)).as("n"))

    half
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("n").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
      .select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
          col("cosine")),
        struct(col("id_b").as("query_id"), col("id_a").as("neighbor_id"),
          col("cosine")))).as("p"))
      .select(col("p.query_id"), col("p.neighbor_id"), col("p.cosine"))
      .transform(rankTopK(k))
  }

  /** All-pairs cosine via banded multi-table LSH buckets (for near-dup
    * filtering). Pairs surface once per shared (band, bucket); output is
    * deduped: `(id_a, id_b, cosine)`, `id_a < id_b`, one row per pair.
    * Same recall calculus as [[topKLsh]] — match (bands, planesPerBand) to
    * the cosine threshold.
    *
    * `minCosine` pushes the caller's threshold INSIDE the operator: pairs
    * are scored straight off the band join (once per colliding band — a
    * dims-wide dot product against broadcast-joined vectors) and filtered
    * BEFORE the dedup exchange, so the shuffle carries only surviving
    * near-dup pairs instead of the full candidate set. For a selective
    * threshold (the near-dup case: survivors are a sliver of candidates)
    * this removes the dominant shuffle; the duplicate scores it re-pays
    * are bounded by the band count. Zero-norm vectors score null (see
    * [[cosine]]) and are dropped explicitly — a bare `>= minCosine` over a
    * NaN-producing division would have emitted a zero-norm vector as a
    * near-dup of every band collision partner (Spark ranks NaN above every
    * double), or failed outright under ANSI mode.
    */
  def cosinePairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = 8,
      planesPerBand: Int = 8,
      seed: Long = 42L,
      dims: Int = InferDims,
      minCosine: Double = Double.NegativeInfinity): DataFrame = {
    val d = resolveDims(df, vecCol, dims)
    cosinePairsLshImpl(df, idCol, vecCol,
      bandedBuckets(_, bands, planesPerBand, d, seed), minCosine)
  }

  /** [[cosinePairsLsh]] against an EXPLICIT plane model ([[md5Planes]] or
    * any persisted matrix) — pins bucket signatures across runs/engines so
    * the x6 near-dup declaration can carry a full value oracle.
    */
  def cosinePairsLshWithPlanes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Seq[Seq[Float]]],
      minCosine: Double = Double.NegativeInfinity): DataFrame = {
    require(planes.nonEmpty, "cosinePairsLshWithPlanes: empty plane model")
    cosinePairsLshImpl(df, idCol, vecCol,
      bandedBucketsFromPlanes(_, planes), minCosine)
  }

  private def cosinePairsLshImpl(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bucketsOf: Column => Column,
      minCosine: Double): DataFrame = {
    val sig = df.select(
      col(idCol).as("id"),
      explode(bucketsOf(col(vecCol))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val cand = sig.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(sig.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")

    val vecs = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      vector_norm(col(vecCol)).as("n"))

    val scored = cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("n").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
    val thresholded =
      if (minCosine == Double.NegativeInfinity) scored
      else scored.filter(
        col("cosine").isNotNull && !isnan(col("cosine")) &&
          col("cosine") >= minCosine)
    // one row per pair; duplicates are exact replays (deterministic score)
    thresholded.dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------------------------ IVF

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * assigns every vector to its nearest centroid cell; each query probes
    * only the `nprobe` nearest cells. Complements [[topKLsh]]: IVF adapts
    * to the data's cluster structure (LSH is data-independent), typically
    * giving better recall/compute at the same candidate volume.
    *
    * Scale shape: training runs on a BOUNDED seeded sample collected to
    * the driver (explicitly capped — Lloyd iterations on `sampleSize`
    * points are trivial there); assignment and search are pure codegen'd
    * expressions + one equi-join on cell id. At 100 TB only the sample
    * collect touches the driver; everything else distributes.
    *
    * Sizing `nlist`: per-query candidate work is `nprobe × (corpus /
    * nlist)`, so a FIXED nlist makes search grow linearly with the
    * corpus — the cell POPULATION is what must stay constant, not the
    * cell count. The standard rule (Jégou et al., and what the measured
    * sf0.01→sf0.1 curve shows as y3's above-data-growth step) is
    * nlist ≈ √corpus, which keeps both the per-cell scan and the
    * centroid-ranking term at O(√n) per query. The tiny defaults here
    * fit the driver testdata; at snapshot scale pass nlist explicitly.
    */
  def topKIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iterations: Int = 5,
      sampleSize: Int = 1024,
      seed: Long = 42L): DataFrame =
    topKIvfWithCentroids(df, idCol, vecCol, k,
      trainCentroids(df, idCol, vecCol, nlist, iterations, sampleSize, seed),
      nprobe)

  /** [[topKIvf]] against a PREBUILT codebook — the build-once/reuse shape
    * (mirroring [[graft.ext.Dedup.minhashIndex]]): a production pipeline
    * trains centroids once per corpus snapshot ([[trainCentroids]]),
    * persists them ([[centroidsToDF]] → parquet), and every later query
    * run loads ([[centroidsFromDF]]) instead of re-running Lloyd's — which
    * also pins cell assignments across runs, so results stay comparable
    * release-to-release while the corpus is stable.
    */
  def topKIvfWithCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "topKIvfWithCentroids: empty codebook")
    searchIvf(df, df, idCol, vecCol, k, centroids, nprobe)
  }

  /** Serve a NEW query batch against a SEPARATE corpus through plain IVF
    * (no PQ): queries probe their `nprobe` nearest cells, candidates are
    * the corpus vectors homed there, exact cosine ranks the top `k`. The
    * batch-vs-corpus sibling of [[topKIvfWithCentroids]] (which is this
    * with queries = corpus) and the no-PQ sibling of
    * [[searchIvfPqIndex]] — the right serving shape when vectors are
    * short (tens of dims, e.g. [[Multimodal.imageFeatures]] histograms):
    * at that width the exact-cosine candidate scan IS cheap and a PQ
    * layer would add a second model for nothing.
    *
    * Scale shape: ids-only through the cell equi-join (vectors attach per
    * candidate afterwards); no pair dedup needed — every corpus vector
    * lives in exactly one home cell and a query's probe rows are
    * distinct cells, so a (query, neighbor) pair surfaces at most once.
    * Candidate volume per query is nprobe × corpus / nlist on evenly
    * spread cells — size nlist by [[Clustering.suggestNlist]]'s √corpus
    * rule as the corpus grows.
    */
  def searchIvf(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "searchIvf: empty codebook")

    val base = corpus.select(
      col(idCol).as("neighbor_id"),
      nearestCells(col(vecCol), centroids, 1).getItem(0).as("cell"))

    val probes = queries.select(
      col(idCol).as("query_id"),
      explode(nearestCells(col(vecCol), centroids, nprobe)).as("cell"))

    val qvecs = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))
    val cvecs = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      vector_norm(col(vecCol)).as("cn"))

    probes
      .join(base, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .join(qvecs, Seq("query_id"))
      .join(cvecs, Seq("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .transform(rankTopK(k))
  }

  /** SemDeDup-style semantic near-dup pairs: the IVF coarse quantizer
    * clusters the embedding space, and candidate pairs are vectors
    * meeting in a cell — each vector lives in its top-1 cell and
    * additionally PROBES its `nprobe` nearest cells (the boundary-straddle
    * mitigation: a pair split across adjacent cells still meets when
    * either side probes the other's home). Exact cosine then verifies
    * every candidate, so precision is exact and only recall is
    * approximate — measured, not asserted, by the x10r companion against
    * the brute-force twin.
    *
    * Complements [[cosinePairsLsh]] the same way [[topKIvf]] complements
    * [[topKLsh]]: the quantizer adapts to the corpus's cluster structure,
    * so at equal candidate volume the data-dependent cells catch more
    * true pairs on clustered embeddings (which real document embeddings
    * are — that clustering is the premise of SemDeDup).
    *
    * Scale shape: training is the same bounded driver sample as
    * [[topKIvf]] (or pass a persisted codebook via `centroids`);
    * candidates come from ONE equi-join on cell id carrying ids only;
    * vectors attach per surviving candidate. Duplicate candidate pairs
    * (both sides probing each other) are exact score replays, deduped
    * after the threshold filter — bounded by nprobe per vector.
    */
  def cosinePairsIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 2,
      iterations: Int = 5,
      sampleSize: Int = 1024,
      seed: Long = 42L,
      centroids: Option[Seq[Array[Float]]] = None): DataFrame = {
    require(nprobe >= 1, s"cosinePairsIvf: nprobe must be >= 1, got $nprobe")
    val cb = centroids.getOrElse(
      trainCentroids(df, idCol, vecCol, nlist, iterations, sampleSize, seed))

    val home = df.select(
      col(idCol).as("id"),
      nearestCells(col(vecCol), cb, 1).getItem(0).as("cell"))
    val probes = df.select(
      col(idCol).as("id"),
      explode(nearestCells(col(vecCol), cb, nprobe)).as("cell"))

    // normalize to id_a < id_b BEFORE scoring: a pair found through
    // either side's probe must land on one canonical ordering
    val cand = probes.select(col("id").as("pid"), col("cell"))
      .join(home.select(col("id").as("hid"), col("cell")), Seq("cell"))
      .filter(col("pid") =!= col("hid"))
      .select(least(col("pid"), col("hid")).as("id_a"),
        greatest(col("pid"), col("hid")).as("id_b"))

    val vecs = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      vector_norm(col(vecCol)).as("n"))

    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("n").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")) &&
        col("cosine") >= minCosine)
      .dropDuplicates("id_a", "id_b")
  }

  /** ALL cross-frame pairs above a cosine threshold, IVF-blocked: each
    * `queries` vector probes its `nprobe` nearest cells, candidates are
    * the `corpus` vectors HOMED there, exact cosine verifies every
    * candidate — the threshold sibling of [[searchIvf]] (which ranks
    * top-k instead) and the two-frame sibling of [[cosinePairsIvf]].
    * Built for eval-set decontamination
    * ([[Curation.semanticContaminationReport]]): queries = the bounded
    * eval/benchmark set, corpus = the training candidates.
    *
    * Output: `(query_id, corpus_id, cosine)`. A pair surfaces at most
    * once with no dedup pass — a corpus vector lives in exactly one home
    * cell and a query's probe cells are distinct. The two frames are
    * assumed id-disjoint (different tables); no self-pair filter runs.
    *
    * Scale shape: the probe side is O(queries × nprobe) rows and the
    * query vectors O(queries) — both broadcast, because eval sets are
    * bounded by nature (the q40 contamination assumption); the corpus
    * never shuffles before the narrow candidate join, and recall follows
    * the same home-vs-probe geometry x10r measures. For corpus-scale
    * "eval" sets, assign cells to both sides and shuffle on the cell
    * instead ([[cosinePairsIvf]] on the union is that plan).
    */
  def crossPairsIvf(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      centroids: Seq[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "crossPairsIvf: empty codebook")
    require(nprobe >= 1, s"crossPairsIvf: nprobe must be >= 1, got $nprobe")
    val base = corpus.select(
      col(idCol).as("corpus_id"),
      nearestCells(col(vecCol), centroids, 1).getItem(0).as("cell"))
    val probes = queries.select(
      col(idCol).as("query_id"),
      explode(nearestCells(col(vecCol), centroids, nprobe)).as("cell"))
    val qvecs = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))
    val cvecs = corpus.select(
      col(idCol).as("corpus_id"),
      col(vecCol).as("cv"),
      vector_norm(col(vecCol)).as("cn"))
    broadcast(probes)
      .join(base, Seq("cell"))
      .select("query_id", "corpus_id")
      .join(broadcast(qvecs), Seq("query_id"))
      .join(cvecs, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")) &&
        col("cosine") >= minCosine)
  }

  /** The `nprobe` nearest centroid ids for a vector, nearest first — a
    * single compact expression ([[graft.functions.NearestCells]]); the
    * codebook rides along as a reference object instead of nlist × dims
    * literals in generated code.
    */
  private def nearestCells(
      vec: Column, centroids: Seq[Array[Float]], nprobe: Int): Column =
    graft.functions.CellFunctions.nearest_cells(
      vec, centroids.map(_.toSeq), nprobe)

  /** The IVF codebook as a DataFrame `(cell:int, centroid:array<float>)`
    * — write it to parquet to persist a trained quantizer. The codebook is
    * nlist rows by construction, so this stays trivially small however
    * large the corpus that trained it.
    */
  def centroidsToDF(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
  }

  /** Load a codebook persisted via [[centroidsToDF]], in cell order. */
  def centroidsFromDF(df: DataFrame): Seq[Array[Float]] =
    graft.Driver.collect(df.select(col("cell"), col("centroid")),
      graft.Driver.MaxRows, "Similarity.centroidsFromDF (Driver.MaxRows)")
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)
      .toSeq

  /** Lloyd's algorithm on a bounded, deterministic sample (smallest ids —
    * reproducible run-to-run). Empty cells keep their previous centroid.
    * Public as the build-once half of [[topKIvfWithCentroids]].
    */
  def trainCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iterations: Int,
      sampleSize: Int,
      seed: Long): Seq[Array[Float]] = {
    val sample = collectSample(df, idCol, vecCol, sampleSize)
    lloyd(sample, nlist, iterations, seed).toSeq
  }

  /** Bounded, deterministic driver sample (smallest ids). */
  private def collectSample(
      df: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int): Array[Array[Float]] = {
    val sample = df.select(col(vecCol)).orderBy(col(idCol)).head(sampleSize)
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "centroid training: empty input")
    sample
  }

  /** Lloyd's iterations over a driver-local sample; empty cells keep
    * their previous centroid. Shared by the IVF coarse quantizer and the
    * per-subspace PQ codebooks.
    */
  private def lloyd(
      sample: Array[Array[Float]], k: Int, iterations: Int,
      seed: Long): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    var centroids = Array.tabulate(k)(i =>
      sample(if (i < sample.length) i else rng.nextInt(sample.length)).clone())

    // loops clamp to the shorter array (same policy as the NearestCells /
    // HyperplaneBucketExpr kernels) so ragged vector lengths degrade to
    // truncated math instead of an out-of-bounds crash on the driver
    def sqDist(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val dims = sample.head.length
    for (_ <- 0 until iterations) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val d = sqDist(v, centroids(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        val m = math.min(v.length, dims)
        while (i < m) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat))
    }
    centroids
  }

  /** Train product-quantization codebooks: `m` independent k-means runs
    * of `ksub` centroids each, one per d/m-dim subspace, on the same
    * bounded driver sample [[trainCentroids]] uses. O(m × ksub × d/m) =
    * O(ksub × d) model state — driver-sized by design.
    */
  def trainPq(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iterations: Int = 5,
      sampleSize: Int = 1024,
      seed: Long = 42L): Seq[Seq[Seq[Float]]] = {
    require(m >= 1 && ksub >= 1, s"trainPq: m=$m ksub=$ksub must be >= 1")
    val sample = collectSample(df, idCol, vecCol, sampleSize)
    val dims = sample.head.length
    require(dims % m == 0,
      s"trainPq: dims=$dims must be divisible by m=$m subspaces")
    val dsub = dims / m
    (0 until m).map { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, math.min(j * dsub, v.length),
          math.min((j + 1) * dsub, v.length)))
      lloyd(sub, ksub, iterations, seed + j)
        .map(_.toSeq).toSeq
    }
  }

  /** CROSS-ENGINE-REPRODUCIBLE PQ codebooks: per-subspace FULL-CORPUS
    * k-means via [[Clustering.kmeans]] — deterministic first-`ksub`-by-id
    * init, the `v·c − |c|²/2` assignment ranking (ties to the smaller
    * cell), refit centroids snapped to the `roundDigits` grid with the
    * floor form before the float cast, empty cells keeping their init
    * centroid. Every step is re-derivable in plain SQL (the y5 oracle
    * replays all m trainings, the corpus encode, ADC scoring and the
    * rescore in DuckDB), unlike [[trainPq]]'s seeded driver-sample Lloyd.
    *
    * Scale: m × (iterations + 1) aggregation passes over the corpus at
    * model-build time — a one-off per corpus snapshot (persist via
    * [[pqToDF]]); each pass's shuffle is the k-means refit's
    * O(ksub × dsub) partial-aggregated rows, never the vectors.
    */
  def trainPqDeterministic(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iterations: Int = 1,
      roundDigits: Int = 6,
      dims: Int = InferDims): Seq[Seq[Seq[Float]]] = {
    require(m >= 1 && ksub >= 1, s"trainPqDeterministic: m=$m ksub=$ksub")
    val d = resolveDims(df, vecCol, dims)
    require(d % m == 0,
      s"trainPqDeterministic: dims=$d must be divisible by m=$m subspaces")
    val dsub = d / m
    (0 until m).map { j =>
      Clustering.kmeans(
        df.select(col(idCol),
          slice(col(vecCol), j * dsub + 1, dsub).as("_sub")),
        idCol, "_sub", ksub, iterations, roundDigits)
        .centroids.map(_.toSeq).toSeq
    }
  }

  /** Largest input [[cosinePairsBruteForce]] accepts before failing fast —
    * ~1.25e9 candidate pairs, the edge of single-node-verification scope.
    */
  final val DefaultBruteForceMaxRows: Long = 50000L

  /** Exact all-pairs cosine — O(n²); verification scope only, enforced by
    * `maxRows`. The guard counts a LIMITed scan (maxRows+1 rows), so even
    * on an oversized table it never pays a full pass just to fail.
    */
  def cosinePairsBruteForce(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      maxRows: Long = DefaultBruteForceMaxRows): DataFrame = {
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    val rows = df.limit(cap + 1).count()
    require(rows <= cap,
      s"cosinePairsBruteForce: input exceeds maxRows=$maxRows " +
        "(O(n²) verification-only path; use cosinePairsLsh at scale)")
    val base = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      vector_norm(col(vecCol)).as("n"))
    // spread the O(n²) stream side across the executors — a small-file
    // scan otherwise leaves the whole quadratic loop on one task (the
    // other side auto-broadcasts under the BNLJ threshold either way)
    Dedup.ensureParallelism(base).as("x").crossJoin(base.as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("x.n"), col("y.v"), col("y.n")).as("cosine"))
  }

  /** Two-stage int8 retrieval: quantized first pass, exact float rescore.
    *
    * Stage 1 scores EVERY (query, candidate) pair on int8 vectors
    * ([[graft.functions.QuantizeInt8]] / [[graft.functions.Int8Dot]] —
    * 4× less memory bandwidth than float32, integer multiply-adds), and
    * keeps each query's top `k × rescoreFactor` by approximate cosine
    * (`int8dot · scaleQ · scaleC / (normQ · normC)`, with EXACT float
    * norms). Stage 2 rejoins float vectors for those O(queries × k ×
    * rescoreFactor) survivors only and re-ranks by exact cosine — so
    * quantization error can only cost recall at the candidate boundary,
    * never scoring precision of the final ranking. The y4r companion
    * measures that recall against the float brute force.
    *
    * At corpus scale the first stage is the only full scan, and it reads
    * a quarter of the bytes; the float column is touched for candidates
    * alone (ids travel, vectors rejoin once). Same output contract as
    * [[topKBruteForce]].
    */
  def topKQuantized(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rescoreFactor: Int = 4): DataFrame = {
    require(k >= 1 && rescoreFactor >= 1,
      s"k=$k rescoreFactor=$rescoreFactor must be >= 1")
    import graft.functions.VectorFunctions.{vector_int8_dot, vector_max_abs, vector_quantize_int8}
    val q = queries.select(
      col(idCol).as("query_id"),
      vector_quantize_int8(col(vecCol)).as("qb"),
      (vector_max_abs(col(vecCol)) / 127d).as("qs"),
      vector_norm(col(vecCol)).as("qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      vector_quantize_int8(col(vecCol)).as("cb"),
      (vector_max_abs(col(vecCol)) / 127d).as("cs"),
      vector_norm(col(vecCol)).as("cn"))
    val candidates = Dedup.ensureParallelism(c).crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        try_divide(
          vector_int8_dot(col("qb"), col("cb")) * col("qs") * col("cs"),
          col("qn") * col("cn")).as("cosine"))
      .transform(rankTopK(k * rescoreFactor))
      .select("query_id", "neighbor_id")
    // exact rescore: float vectors rejoin for the survivors only
    val qv = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))
    val cv = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vector_norm(col(vecCol)).as("cn"))
    candidates
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .select(
        col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .transform(rankTopK(k))
  }

  /** PQ codebooks as a DataFrame `(subspace:int, cell:int,
    * centroid:array<float>)` — the persistable form ([[centroidsToDF]]'s
    * contract extended with the subspace axis): train once per corpus
    * snapshot, write to parquet, and every later encode/search run loads
    * the same codebooks, so codes stay comparable release-to-release.
    */
  def pqToDF(
      spark: org.apache.spark.sql.SparkSession,
      codebooks: Seq[Seq[Seq[Float]]]): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent) }
    }.toDF("subspace", "cell", "centroid")
  }

  /** Load PQ codebooks persisted via [[pqToDF]], in (subspace, cell)
    * order.
    */
  def pqFromDF(df: DataFrame): Seq[Seq[Seq[Float]]] =
    graft.Driver.collect(df.select(col("subspace"), col("cell"), col("centroid")),
      graft.Driver.MaxRows, "Similarity.pqFromDF (Driver.MaxRows)")
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2)).toSeq
      }

  /** IVF-PQ retrieval of `queries` against `corpus` — the production ANN
    * layout at corpus scale (the [[topKQuantized]] two-frame shape): an
    * IVF coarse quantizer prunes candidates to `nprobe` cells, and
    * within them the CORPUS side is scored from its product-quantization
    * codes alone (ADC: [[graft.functions.PqAdcDot]]), so the big side of
    * the cell join ships `m` ints per vector instead of `d` floats (d=64,
    * m=8 → 8× less index bandwidth than even the float-IVF path, 32× less
    * than brute force). Stage 2 rejoins float vectors for each query's
    * top `k × rescoreFactor` survivors only and re-ranks by exact cosine
    * — the [[topKQuantized]] contract: quantization can only cost recall
    * at the candidate boundary, never final scoring precision (measured
    * by the y5r companion).
    *
    * Stage-1 ranking is ADC-dot / (exact query norm × exact candidate
    * norm) — the candidate's float norm is one double carried next to its
    * codes, the same "approximate numerator, exact denominators" stance
    * as the int8 path. PQ here codes RAW vectors (IVFFlat-style candidate
    * structure + PQ scoring); FAISS's residual encoding is the accuracy
    * refinement on top, not a different plan shape.
    */
  def topKIvfPq(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 256,
      rescoreFactor: Int = 4,
      iterations: Int = 5,
      sampleSize: Int = 1024,
      seed: Long = 42L): DataFrame = {
    require(k >= 1 && rescoreFactor >= 1,
      s"k=$k rescoreFactor=$rescoreFactor must be >= 1")
    val coarse = trainCentroids(
      corpus, idCol, vecCol, nlist, iterations, sampleSize, seed)
    val pq = trainPq(
      corpus, idCol, vecCol, m, ksub, iterations, sampleSize, seed)
    topKIvfPqWithModels(queries, corpus, idCol, vecCol, k, coarse, pq,
      nprobe, rescoreFactor)
  }

  /** [[topKIvfPq]] against PREBUILT models — the build-once/reuse shape
    * ([[topKIvfWithCentroids]]'s contract extended to the PQ layer):
    * train once per corpus snapshot ([[trainCentroids]]/[[trainPq]], or
    * the cross-engine-reproducible [[Clustering.kmeans]] +
    * [[trainPqDeterministic]] pair), persist via [[centroidsToDF]] /
    * [[pqToDF]], and every later search run loads the same models — codes
    * and cell assignments stay comparable release-to-release.
    */
  def topKIvfPqWithModels(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Seq[Array[Float]],
      pq: Seq[Seq[Seq[Float]]],
      nprobe: Int = 4,
      rescoreFactor: Int = 4): DataFrame = {
    require(coarse.nonEmpty, "topKIvfPqWithModels: empty coarse codebook")
    require(pq.nonEmpty && pq.forall(_.nonEmpty),
      "topKIvfPqWithModels: empty PQ codebooks")
    searchIvfPqIndex(queries,
      buildIvfPqIndex(corpus, idCol, vecCol, coarse, pq),
      corpus, idCol, vecCol, k, coarse, pq, nprobe, rescoreFactor)
  }

  /** The searchable IVF-PQ index of `corpus`: one row per vector —
    * `(id, cell, codes, norm)`, i.e. coarse cell + m PQ code ints + the
    * exact float norm, NEVER the vector. Write it to parquet next to the
    * [[centroidsToDF]]/[[pqToDF]] model artifacts and serve every later
    * query batch from the three files via [[searchIvfPqIndex]] — the
    * production shape: the corpus is scanned (and PQ-encoded) once per
    * snapshot, not once per query batch.
    */
  /** Size the coarse codebook by the √corpus rule (see [[topKIvf]]):
    * serving cost per query is nprobe × corpus / nlist, so the index's
    * nlist must grow with the snapshot for search to stay sub-linear.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Array[Float]],
      pq: Seq[Seq[Seq[Float]]]): DataFrame = {
    require(coarse.nonEmpty, "buildIvfPqIndex: empty coarse codebook")
    require(pq.nonEmpty && pq.forall(_.nonEmpty),
      "buildIvfPqIndex: empty PQ codebooks")
    import graft.functions.PqFunctions.pq_encode
    corpus.select(
      col(idCol).as("id"),
      nearestCells(col(vecCol), coarse, 1).getItem(0).as("cell"),
      pq_encode(col(vecCol), pq).as("codes"),
      vector_norm(col(vecCol)).as("cn"))
      // Repartition by cell — BOTH halves of the build contract:
      //  1. Physical layout: an IVF index is served by cell (the probe
      //     join's key); building it clustered by cell is what makes the
      //     parquet snapshot partition-prunable and the serving join
      //     co-located, which is the whole reason to build an index.
      //  2. Materialization barrier: `codes` is a NON-KEY column of the
      //     serving join, and whole-stage codegen inlines non-key
      //     projections into the join's output loop — without a barrier
      //     the O(ksub·d) encode re-runs once per CANDIDATE row (measured
      //     12 s at 270k candidates from 1.8k vectors, jstack-confirmed in
      //     PqEncode.encode) instead of once per index row. The exchange
      //     pins the encode to the map side, where it runs exactly once
      //     per vector — the rows it ships are (id, cell, m codes, norm),
      //     never the float vectors.
      .repartition(col("cell"))
  }

  /** Incremental index maintenance — x9's daily-crawl convention lifted
    * to ANN: fold a batch of NEW vectors into an existing
    * [[buildIvfPqIndex]] snapshot WITHOUT touching the indexed corpus
    * (only the delta is scanned and PQ-encoded; the existing index rows
    * pass through untouched). The models stay FIXED — that is what makes
    * append(index, delta) exactly equal to a full rebuild over
    * corpus ∪ delta under the same models (deterministic encode), so
    * served results never depend on arrival batching. The flip side is
    * model staleness: the coarse/PQ codebooks describe the distribution
    * they were trained on, so recall degrades as appended data drifts —
    * retrain on the usual snapshot cadence (and re-size nlist by the
    * √corpus rule) rather than appending forever. Caller guards id
    * uniqueness across batches, same as [[minhashIndex]]'s contract.
    *
    * Layout note: the returned union is NOT cell-co-partitioned in-session
    * (each input half is clustered by cell, but union interleaves them),
    * so serving the in-memory union reshuffles where a freshly-built index
    * would not. Irrelevant at the parquet boundary — files keep their
    * per-cell layout and production appends land as new files per cell —
    * but a long-lived in-session union worth one `repartition("cell")`.
    */
  def appendToIvfPqIndex(
      index: DataFrame,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Array[Float]],
      pq: Seq[Seq[Seq[Float]]]): DataFrame =
    index.unionByName(
      buildIvfPqIndex(delta, idCol, vecCol, coarse, pq))

  /** Per-frame quantization-error summary under a FIXED coarse codebook:
    * one row `(n, qerr_sum_micro)` — row count and the sum of per-vector
    * squared distances to the assigned (top-1) centroid, each snapped to
    * the 1e-6 grid BEFORE aggregation so the sum is an exact BIGINT
    * (cross-row double summation is shuffle-order-sensitive; integer
    * sums are not). The squared distance is computed as
    * `|v|² − 2·(v·c) + |c|²` in exactly that operation order — the form
    * a SQL oracle twin reproduces IEEE-identically.
    *
    * One narrow scan of the frame, centroids as a broadcast-joined
    * nlist-row frame; O(1) output.
    */
  def quantizationErrorSummary(
      df: DataFrame,
      vecCol: String,
      coarse: Seq[Array[Float]]): DataFrame = {
    require(coarse.nonEmpty, "quantizationErrorSummary: empty codebook")
    val cents = centroidsToDF(df.sparkSession, coarse)
    df.select(
      col(vecCol).as("_v"),
      nearestCells(col(vecCol), coarse, 1).getItem(0).as("cell"))
      .join(broadcast(cents), Seq("cell"))
      .select((vector_dot(col("_v"), col("_v"))
        - lit(2.0) * vector_dot(col("_v"), col("centroid"))
        + vector_dot(col("centroid"), col("centroid"))).as("_d2"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("_d2") * 1e6 + 0.5).cast("long"))
          .as("qerr_sum_micro"))
  }

  /** The append-staleness rule — when to RETRAIN instead of
    * [[appendToIvfPqIndex]]-ing again. Two independent triggers, both
    * computable from O(1) statistics (no ground-truth recall pass):
    *
    *  1. DRIFT: the delta quantizes `errFactor`× worse than the indexed
    *     corpus under the frozen coarse codebook (mean squared
    *     distance-to-assigned-centroid ratio). Measured on this corpus
    *     (the removed `appendStudy`,
    *     `git show 52f1ea3:src/main/scala/graft/Prof.scala`): an in-distribution delta holds the
    *     ratio near 1 and appended-serve recall at the rebuilt level,
    *     while a shifted delta blows the ratio far past 1.5 and appended
    *     recall on shifted queries collapses vs a fresh rebuild — the
    *     codebooks describe the distribution they were trained on.
    *  2. GROWTH: the corpus has grown enough that the √n sizing rule
    *     ([[Clustering.suggestNlist]]) calls for ≥ `growthFactor`× the
    *     current nlist — even drift-free appends degrade toward a linear
    *     scan per cell once the corpus outgrows its cell count (the y7
    *     rule applied over time instead of per snapshot).
    */
  def suggestRebuild(
      qerrIndexMean: Double,
      qerrDeltaMean: Double,
      nIndex: Long,
      nDelta: Long,
      nlist: Int,
      errFactor: Double = 1.5,
      growthFactor: Double = 2.0): Boolean = {
    require(nIndex > 0 && nDelta >= 0,
      s"suggestRebuild: nIndex=$nIndex nDelta=$nDelta")
    require(nlist >= 1, s"suggestRebuild: nlist=$nlist")
    (qerrIndexMean > 0 &&
      qerrDeltaMean > errFactor * qerrIndexMean) ||
      Clustering.suggestNlist(nIndex + nDelta) >= growthFactor * nlist
  }

  /** One-row staleness report for an (index snapshot, append delta) pair
    * under the snapshot-trained coarse codebook — the frame form of
    * [[suggestRebuild]], oracle-comparable end to end:
    * `(n_index, n_delta, qerr_index_micro, qerr_delta_micro, qerr_ratio,
    * nlist, nlist_rule, rebuild)`. `qerr_*_micro` are the exact integer
    * sums from [[quantizationErrorSummary]]; `qerr_ratio` is the
    * mean-error ratio `(qd·ni)/(qi·nd)` computed from those integers
    * with a single double division onto the 1e-6 grid; `nlist_rule` is
    * the √n rule over the grown corpus. All four inputs are 1-row
    * frames cross-joined broadcast-style — no driver collect, no
    * corpus-sized shuffle beyond the two narrow scans.
    */
  def indexStalenessReport(
      index: DataFrame,
      delta: DataFrame,
      vecCol: String,
      coarse: Seq[Array[Float]],
      errFactor: Double = 1.5,
      growthFactor: Double = 2.0): DataFrame = {
    val nlist = coarse.size
    val qi = quantizationErrorSummary(index, vecCol, coarse)
      .select(col("n").as("n_index"),
        col("qerr_sum_micro").as("qerr_index_micro"))
    val qd = quantizationErrorSummary(delta, vecCol, coarse)
      .select(col("n").as("n_delta"),
        col("qerr_sum_micro").as("qerr_delta_micro"))
    qi.crossJoin(broadcast(qd))
      // guards mirror suggestRebuild's scalar twin: an empty delta has
      // no drift to measure (ratio NULL, never Infinity), and a
      // perfectly-quantized index (qerr 0) must not trip drift via a
      // 0-denominator NaN — Spark orders NaN greatest, so an unguarded
      // NaN > errFactor would report rebuild=true on the degenerate
      // best-case index
      .withColumn("qerr_ratio",
        when(col("qerr_index_micro") > 0 && col("n_delta") > 0,
          floor(
            (col("qerr_delta_micro") * col("n_index")).cast("double")
              / (col("qerr_index_micro") * col("n_delta")).cast("double")
              * 1e6 + 0.5) / 1e6)
          .otherwise(lit(null)))
      .withColumn("nlist", lit(nlist))
      .withColumn("nlist_rule",
        floor(sqrt((col("n_index") + col("n_delta")).cast("double"))
          + 0.5).cast("int"))
      .withColumn("rebuild",
        coalesce(col("qerr_ratio") > errFactor, lit(false)) ||
          col("nlist_rule") >= col("nlist") * growthFactor)
  }

  /** Retrieval against a PREBUILT [[buildIvfPqIndex]] frame — the serving
    * half: a NEW query batch probes `nprobe` cells, candidates are ADC-
    * scored from the index's codes alone, and only each query's top
    * `k × rescoreFactor` survivors rejoin their float vectors from
    * `corpus` for the exact rescore. Neither retraining nor re-encoding
    * ever happens at query time, and the corpus vector column is read
    * exclusively by the (id-list-sized) rescore join.
    */
  def searchIvfPqIndex(
      queries: DataFrame,
      index: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Seq[Array[Float]],
      pq: Seq[Seq[Seq[Float]]],
      nprobe: Int = 4,
      rescoreFactor: Int = 4): DataFrame = {
    require(coarse.nonEmpty, "searchIvfPqIndex: empty coarse codebook")
    require(pq.nonEmpty && pq.forall(_.nonEmpty),
      "searchIvfPqIndex: empty PQ codebooks")
    require(k >= 1 && rescoreFactor >= 1,
      s"k=$k rescoreFactor=$rescoreFactor must be >= 1")
    import graft.functions.PqFunctions.pq_adc_dot

    val coded = index.select(
      col("id").as("neighbor_id"), col("cell"), col("codes"), col("cn"))
    // query side: float vector rides its nprobe probe rows
    val probes = queries.select(
      col(idCol).as("query_id"),
      explode(nearestCells(col(vecCol), coarse, nprobe)).as("cell"),
      col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))

    val candidates = probes
      .join(coded, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        try_divide(pq_adc_dot(col("qv"), col("codes"), pq),
          col("qn") * col("cn")).as("cosine"))
      .transform(rankTopK(k * rescoreFactor))
      .select("query_id", "neighbor_id")

    // exact rescore: float vectors rejoin for the survivors only
    val qv = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      vector_norm(col(vecCol)).as("qn"))
    val cv = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vector_norm(col(vecCol)).as("cn"))
    candidates
      .join(qv, Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .transform(rankTopK(k))
  }

  /** Result of [[calibrateNprobe]]: the chosen probe count, the measured
    * ascending (nprobe → recall) curve (stops at the first point meeting
    * the SLO), and the calibration sample sizes. `met` is false when even
    * probing every cell missed the SLO — with exact rescore that means
    * the PQ-ADC candidate stage (k × rescoreFactor) is the limiter, so
    * raise rescoreFactor rather than nprobe.
    */
  final case class NprobeCalibration(
      nprobe: Int, curve: Seq[(Int, Double)], nSample: Long, nExact: Long) {
    def recallAtChosen: Double =
      curve.collectFirst { case (np, r) if np == nprobe => r }.getOrElse(0.0)
    def met(slo: Double): Boolean = recallAtChosen >= slo
  }

  /** Calibrate `nprobe` for [[searchIvfPqIndex]] against a recall SLO.
    *
    * The scaling contract of a rule-sized IVF index (nlist ≈ √corpus,
    * [[graft.ext.Clustering.suggestNlist]]) only pays if nprobe is NOT a
    * fraction of nlist: a tied probe fraction scans a constant share of
    * the corpus per query, cancelling the rule's sub-linearity (measured
    * at the round-15 10× soak: the 0.75·nlist tie cost 42× on 10× data
    * where the calibrated point cost 2.3× — SCALING_SOAK.md). The
    * production cadence is one calibration per index snapshot, alongside
    * model training: brute-force the exact top-k for a bounded,
    * deterministic sample of the query stream, then walk an ascending
    * nprobe grid and return the first point whose sample recall meets the
    * SLO. Cost is O(sample × corpus) for the ground truth (the same
    * bounded shape as the recall companions) plus one sample-sized serve
    * per grid point — independent of the live query volume.
    *
    * The sample is the `sampleQueries` smallest `md5(id)` values — a
    * deterministic, content-independent draw (`TakeOrdered`, no full
    * sort) re-derivable on any engine. Default grid: geometric ×1.5 from
    * 5% of nlist up to nlist; pass `grid` to anchor on a known prior
    * operating point instead.
    */
  def calibrateNprobe(
      queries: DataFrame,
      index: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Seq[Array[Float]],
      pq: Seq[Seq[Seq[Float]]],
      slo: Double = 0.9,
      sampleQueries: Int = 256,
      rescoreFactor: Int = 4,
      grid: Seq[Int] = Nil): NprobeCalibration = {
    require(slo > 0.0 && slo <= 1.0, s"slo=$slo must be in (0, 1]")
    require(sampleQueries >= 1, s"sampleQueries=$sampleQueries must be >= 1")
    val nlist = coarse.size
    val points = (if (grid.nonEmpty) grid.sorted
      else Iterator.iterate(math.max(1, math.round(0.05 * nlist).toInt))(
        np => math.max(np + 1, math.ceil(np * 1.5).toInt))
        .takeWhile(_ < nlist).toSeq :+ nlist)
      .distinct.filter(np => np >= 1 && np <= nlist)
    require(points.nonEmpty, s"empty nprobe grid for nlist=$nlist")

    // every cache below is for the walk only: the scope releases it when
    // the walk returns or throws (a caller that pre-cached its index
    // keeps its entry)
    graft.Cached.scope {
      val sample = graft.Cached.persist(queries
        .orderBy(md5(col(idCol).cast("string")))
        .limit(sampleQueries))
      val nSample = sample.count()
      val exact = graft.Cached.persist(
        topKBruteForce(sample, corpus, idCol, vecCol, k)
          .select(col("query_id"), col("neighbor_id")))
      val nExact = exact.count()
      // the walk serves the SAME index once per grid point: a live
      // buildIvfPqIndex plan would re-run the full snapshot encode per
      // point (the s17/x13 parquet-artifact lesson, applied operator-side
      // for callers that pass an unmaterialized index)
      val idx = graft.Cached.persist(index)

      def recallAt(nprobe: Int): Double =
        if (nExact == 0) 1.0
        else {
          val served = searchIvfPqIndex(sample, idx, corpus, idCol, vecCol,
            k, coarse, pq, nprobe, rescoreFactor)
            .select(col("query_id"), col("neighbor_id")).distinct()
          val hits = exact.join(served, Seq("query_id", "neighbor_id"))
            .count()
          hits.toDouble / nExact
        }

      var curve = Vector.empty[(Int, Double)]
      val it = points.iterator
      var chosen = points.last
      var done = false
      while (it.hasNext && !done) {
        val np = it.next()
        val r = recallAt(np)
        curve :+= (np, r)
        if (r >= slo) { chosen = np; done = true }
      }
      NprobeCalibration(chosen, curve, nSample, nExact)
    }
  }

  /** Sentinel: infer dimensionality from the first row (one tiny job). */
  final val InferDims: Int = -1

  /** Pass `dims` explicitly in production (schema contracts know it); the
    * inference fallback is an eager extra job, assumes every vector has the
    * first row's dimensionality, and fails on an empty input by design.
    */
  private def resolveDims(df: DataFrame, vecCol: String, dims: Int): Int =
    if (dims > 0) dims
    else df.select(size(col(vecCol))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException(
        s"cannot infer vector dims from an empty DataFrame; pass dims explicitly")
    }
}
