package graft

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Clusters, CorpusPipeline, Curation, Dedup, Fingerprint, Keyword, LanguageModel, Multimodal, Shingles, Similarity, TextAnalysis}
import graft.lake.ZOrder
import graft.ops.{AsofJoin, Cohorts, Diff, Drift, Funnel, FuzzyJoin, Hierarchy, Ids, IntervalJoin, Normalize, Profile, Resample, RuntimeFilter, Seasonal, SkewJoin, Sketches}
import graft.pipeline.{Cdc, IncrementalAgg, Scd2}
import graft.ops.ColumnOps._
import graft.ops.JsonOps._
import graft.ops.ValidateOps._

/** Dedup family of the driver contract — query declarations and their
  * DuckDB oracle SQL, split verbatim out of SparkEntry.scala (round 13,
  * pure mechanical move; no behavior change). The self-type pins this
  * trait to the SparkEntry object so every helper reference (rd, model
  * memoizers, shared oracle CTEs) resolves exactly as before the split.
  */
private[graft] trait EntryDedup { this: SparkEntry.type =>

  private[graft] def queriesDedup: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------ LLM-pipeline: dedup
    "x1_dedup_exact" -> ((s, dir) => {
      Dedup.dedupExact(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("keep_id")
    }),


    "x2_dedup_minhash" -> ((s, dir) => {
      // k=128/b=32 (r=4): per-pair LSH miss probability at J=0.8 is
      // (1-0.8^4)^32 ≈ 5e-8 — the exact-Jaccard oracle compare stays
      // deterministic. The operator default (64/16, ~2e-4 at the threshold
      // boundary) is the cheaper production setting where a hair-below-
      // certain recall is the accepted LSH trade.
      Dedup.nearDuplicatesMinhash(
        rd(s, dir, "documents"), "doc_id", "text", threshold = 0.8,
        numHashes = 128, bands = 32)
        .orderBy("id_a", "id_b")
    }),


    "x2p_dedup_minhash_prod" -> ((s, dir) => {
      // the PRODUCTION parameters (k=64/b=16, r=4): per-pair miss
      // probability at the J=0.8 boundary is (1-0.8^4)^16 ≈ 1.4e-2 and
      // falls steeply above it (2e-4 at J=0.85) — the cheap setting a
      // 100 TB dedup run would use, at roughly half x2's signature cost.
      // The declaration runs the PORTABLE md5 hash family
      // (Dedup.nearDuplicatesMinhashPortable: md5 base hashes + md5-derived
      // affine lanes over the 2^61-1 field, raw-slice band keys), so the
      // oracle re-derives coefficients, signatures, banding — and therefore
      // the EXACT LSH pair set, misses included — value-for-value in
      // DuckDB; x2pr still MEASURES the setting's recall against x2's
      // near-exact k=128/b=32 pair set. xxhash64 stays the cheaper
      // engine-internal default for signatures that never leave the job.
      Dedup.nearDuplicatesMinhashPortable(
        rd(s, dir, "documents"), "doc_id", "text", threshold = 0.8,
        salt = "x2p")
        .orderBy("id_a", "id_b")
    }),


    "x2pr_minhash_prod_recall" -> ((s, dir) => {
      // ground truth = the k=128/b=32 pair set, which the x2 oracle proves
      // ≡ exact Jaccard ≥ 0.8 (miss 5e-8); the oracle recomputes n_exact
      // with DuckDB's exact Jaccard, so the compare also re-proves that
      // equivalence. Bar 0.95: generous against the planted near-dup pool
      // (most pairs sit well above the 1.4e-2-miss threshold boundary)
      // while still catching any real banding bug.
      val docs = rd(s, dir, "documents")
      recallCheck(
        Dedup.nearDuplicatesMinhash(
          docs, "doc_id", "text", threshold = 0.8,
          numHashes = 128, bands = 32),
        Dedup.nearDuplicatesMinhashPortable(
          docs, "doc_id", "text", threshold = 0.8, salt = "x2p"),
        Seq("id_a", "id_b"), threshold = 0.95)
    }),


    "x3_dedup_simhash" -> ((s, dir) => {
      // PORTABLE 60-bit md5 SimHash (Dedup.nearDuplicatesSimhashPortable):
      // per-token md5 hashes vote per bit, four 15-bit pigeonhole chunks
      // generate candidates (complete for hamming <= 3), bit_count(xor)
      // verifies — every signature is re-derivable in DuckDB, so the
      // oracle replays token hashing, the 60 vote sums, the strict >0 tie
      // rule, chunking and the hamming verify value-for-value. The
      // xxhash64 64-bit default stays the cheaper engine-internal path;
      // x3r additionally proves recall 1.0 on token-set-identical pairs.
      Dedup.nearDuplicatesSimhashPortable(
        rd(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),


    "x3r_simhash_recall" -> ((s, dir) => {
      // value-checked guarantee for the engine-specific x3 hash family:
      // token-SET-identical documents have identical SimHash signatures
      // (the signature is a function of the set), i.e. hamming 0, and the
      // pigeonhole chunk join always surfaces hamming <= 3 — so recall on
      // set-identical pairs is exactly 1.0. The set-identical ground truth
      // is hash-free and DuckDB-expressible.
      val docs = rd(s, dir, "documents")
      import graft.ext.Shingles.tokenSet
      val exact = docs
        .select(col("doc_id").as("id"), array_sort(tokenSet(col("text"))).as("ts"))
        .groupBy("ts").agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(col("ids")).as("a"), col("ids"))
        .select(col("a"), explode(col("ids")).as("b"))
        .filter(col("a") < col("b"))
        .select(col("a").as("id_a"), col("b").as("id_b"))
      recallCheck(
        exact,
        Dedup.nearDuplicatesSimhashPortable(docs, "doc_id", "text",
          maxHamming = 3),
        Seq("id_a", "id_b"), threshold = 1.0)
    }),


    "x4_dedup_ngram" -> ((s, dir) => {
      Dedup.nearDuplicatesNgram(
        rd(s, dir, "documents"), "doc_id", "text",
        blockingCols = Seq("lang", "n_chars"), threshold = 0.7, n = 3)
        .orderBy("id_a", "id_b")
    }),


    "x5_dedup_embedding" -> ((s, dir) => {
      Dedup.nearDuplicatesEmbeddingExact(
        rd(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.45)
        .orderBy("id_a", "id_b")
    }),


    "x6_dedup_embedding_lsh" -> ((s, dir) => {
      // (bands, planesPerBand) matched to the 0.45 threshold; the (8, 8)
      // default targets true near-dups at cosine ≥ 0.9. (16, 4) is the
      // cheapest sweep point still clearing x6r's 0.9 recall bar at both
      // SFs. Planes are the PORTABLE md5 model (not seeded JVM Random), so
      // the oracle re-derives every plane component, the band join and the
      // exact-cosine verify in SQL — a full value check; x6r still
      // MEASURES recall against the brute-force twin.
      Dedup.nearDuplicatesEmbeddingWithPlanes(
        rd(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.45,
        planes = x6Planes)
        .orderBy("id_a", "id_b")
    }),


    "x7_dup_clusters" -> ((s, dir) => {
      // pairs → connected components: "A~B, B~C" collapses to one cluster
      // with a deterministic min-id canonical label. k=128/b=32 as in x2 so
      // the LSH pair set provably equals the exact-Jaccard pair set and the
      // recursive-CTE oracle walks identical edges. The contraction runs
      // on the GROUP graph (one edge per unique-token-set pair — the m²
      // member expansion of clique components never enters the loop) and
      // expands members once at the fixpoint; result-identical to doc-
      // level cc, asserted in ClustersSpec.
      Dedup.nearDuplicateComponents(
        rd(s, dir, "documents"), "doc_id", "text", threshold = 0.8,
        numHashes = 128, bands = 32).orderBy("id")
    }),


    "x8_keep_canonical" -> ((s, dir) => {
      // the dedup DECISION on the exact-cosine pair graph: keep each
      // cluster's min-id member plus every row in no duplicate pair
      val emb = rd(s, dir, "embeddings")
      val pairs = Dedup.nearDuplicatesEmbeddingExact(
        emb, "vec_id", "embedding", minCosine = 0.45)
      Clusters.keepCanonical(emb, "vec_id", pairs, "id_a", "id_b")
        .select("vec_id").orderBy("vec_id")
    }),


    "x9_dedup_incremental" -> ((s, dir) => {
      // the daily-crawl shape: 80% of the corpus (doc_id % 10 < 8) is a
      // prebuilt minhash INDEX — its text is never re-read — and the
      // remaining 20% arrives as the new batch, deduped against it.
      // k=128/b=32 as in x2 keeps the LSH pair set provably equal to the
      // exact cross-split Jaccard pairs the oracle computes.
      val docs = rd(s, dir, "documents")
      val idx = Dedup.minhashIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) < 8), "doc_id", "text",
        numHashes = 128, bands = 32)
      Dedup.nearDuplicatesAgainstIndex(
        idx, docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        "doc_id", "text", threshold = 0.8, numHashes = 128, bands = 32)
        .orderBy("corpus_id", "new_id")
    }),


    "x6r_embedding_lsh_recall" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      recallCheck(
        Dedup.nearDuplicatesEmbeddingExact(
          emb, "vec_id", "embedding", minCosine = 0.45),
        Dedup.nearDuplicatesEmbeddingWithPlanes(
          emb, "vec_id", "embedding", minCosine = 0.45, planes = x6Planes),
        Seq("id_a", "id_b"), threshold = 0.9)
    }),


    "x10_dedup_semantic" -> ((s, dir) => {
      // SemDeDup shape: IVF cells cluster the embedding space, pairs are
      // exact-cosine-verified within (home ∪ probed) cells. (8, 4) from
      // the semdedup sweep: finer quantizers (nlist 16/32) fragment the
      // 0.45-threshold boundary pairs across cells and miss x10r's 0.9
      // bar. The quantizer is the prebuilt cross-engine-reproducible
      // [[kmeansDemo]] model (the q86 training loop, k=8), so the oracle
      // re-derives training, home + probe assignment, and the exact-cosine
      // verify in SQL — a full value check; x10r still MEASURES recall.
      Dedup.nearDuplicatesSemantic(
        rd(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.45,
        nlist = 8, nprobe = 4,
        centroids = Some(kmeansDemo(s, dir).centroids))
        .orderBy("id_a", "id_b")
    }),


    "x10r_semantic_recall" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      recallCheck(
        Dedup.nearDuplicatesEmbeddingExact(
          emb, "vec_id", "embedding", minCosine = 0.45),
        Dedup.nearDuplicatesSemantic(
          emb, "vec_id", "embedding", minCosine = 0.45,
          nlist = 8, nprobe = 4,
          centroids = Some(kmeansDemo(s, dir).centroids)),
        Seq("id_a", "id_b"), threshold = 0.9)
    }),


    "x11_containment" -> ((s, dir) => {
      // asymmetric containment dedup (Dedup.containmentPairs): the
      // excerpt-inside-host relation minhash can't see. Exact via the
      // df-ordered prefix filter, so the DuckDB definition is a true
      // oracle, not a recall estimate. Char-8-gram shingles: this corpus
      // has a ~31-word vocabulary, so WORD containment at 0.8 is true of
      // most pairs (the result itself is quadratic) — n-grams restore a
      // Zipfian key space where containment means shared text.
      Dedup.containmentPairs(rd(s, dir, "documents"), "doc_id", "text", 0.8,
        shingleFn = Shingles.charNGrams(_, 8))
        .orderBy("id", "container_id")
    }),


    "x12_leakage_safe_split" -> ((s, dir) => {
      // leakage-safe train/val/test (ext.Curation.leakageSafeSplit): ONE
      // md5-coin decision per near-duplicate CLUSTER (connected components
      // of the minhash pair graph), inherited by every member — near-dups
      // can never straddle train and eval, the guard that keeps benchmark
      // numbers honest. k=128/b=32 as in x2: per-pair LSH miss probability
      // at the J=0.8 boundary is ~5e-8 (not zero — see x2), so the pair
      // graph matches exact Jaccard >= 0.8 with overwhelming probability
      // and the oracle walks identical edges (x7's recursive closure)
      // before re-deriving every label from the same hex arithmetic as
      // q75. NOTE the blast radius of a miss here is larger than x2's
      // per-pair row diff: one missed edge can split a connected
      // component, flipping the split label of EVERY member of the
      // severed half — a future sf-scale oracle failure on this query
      // should be triaged as an LSH miss first.
      // components come from the GROUP-graph contraction (see x7) — the
      // coin logic is unchanged, so labels are bit-identical.
      val docs = rd(s, dir, "documents")
      Curation.leakageSafeSplitByComponents(docs, "doc_id",
        Dedup.nearDuplicateComponents(docs, "doc_id", "text",
          threshold = 0.8, numHashes = 128, bands = 32),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "x12")
        .select("doc_id", "split").orderBy("doc_id")
    }),


    "x16_semantic_decontam" -> ((s, dir) => {
      // SEMANTIC eval-set decontamination (Curation
      // .semanticContaminationReport over Similarity.crossPairsIvf —
      // Yang et al. 2023, arXiv:2311.04850): exact 13-gram overlap (q40)
      // misses rephrased benchmark leakage; here a corpus embedding
      // within cosine 0.45 of ANY eval embedding (vec_id % 10 == 9, the
      // y6 split convention) is flagged. The quantizer is the q86
      // deterministic k-means recipe at k = 8 trained on the CORPUS side
      // only (production decontamination must not leak eval vectors
      // into the model); eval probes its top-4 cells, corpus vectors
      // answer from their home cell, exact cosine verifies. The oracle
      // replays training, home/probe assignment, the cosine verify, and
      // the per-doc verdict — a full value check like x10.
      val emb = rd(s, dir, "embeddings")
      val corpus = emb.filter(pmod(col("vec_id"), lit(10)) < 9)
      val evalSet = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      Curation.semanticContaminationReport(corpus, evalSet,
        "vec_id", "embedding", minCosine = 0.45,
        centroids = x16Model(s, dir).centroids, nprobe = 4)
        .orderBy("vec_id")
    }),


    "x13_snapshot_lifecycle" -> ((s, dir) => {
      // the multi-snapshot lifecycle as ONE declared query (reference
      // semantics: the is_incremental append cadence,
      // datalake_sub_dag_builder.py:71,110-113, elevated to the
      // LLM-pipeline stack). Snapshot 1 (vec_id % 10 < 8; its oldest
      // fifth tagged snap=2024-01) trains the rule-sized y7 models,
      // builds the IVF-PQ index — written Hive-partitioned by snapshot
      // label — and persists the x9 minhash doc index. Then snapshot 2
      // arrives: Retention.expirePartitions drops the 2024-01 index
      // partition, appendToIvfPqIndex joins the surviving store with the
      // new rows (encoded by the SAME persisted models — the append
      // contract), the %10 == 9 batch serves against exactly the
      // surviving+appended rows, and the new documents dedup against the
      // stored minhash index. One result frame: 'knn' rows (y7's serving
      // shape over the post-expiry corpus) unioned with 'dup' rows (x9's
      // pair shape). The oracle re-derives the models from the train
      // split and replays assignment/encode/serve over vec_id % 10 in
      // [2, 8] — a hash match proves build→persist→expire→append→serve
      // is value-neutral end-to-end.
      val emb = rd(s, dir, "embeddings")
      val s1 = emb.filter(pmod(col("vec_id"), lit(10)) < 8)
      val s2 = emb.filter(pmod(col("vec_id"), lit(10)) === 8)
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val (_, nprobe, coarse, pq) = x13Models(s, dir)
      // fixed ephemeral path: every evaluation overwrites the same tree
      // (no /tmp/graft-x13-* accumulation across bench/verify/spec runs)
      // and a shutdown hook removes the last one
      val tmp = Scratch.ephemeralDir("x13")

      Similarity.buildIvfPqIndex(s1, "vec_id", "embedding", coarse, pq)
        .withColumn("snap", when(pmod(col("id"), lit(10)) < 2,
          lit("2024-01")).otherwise(lit("2024-02")))
        .write.mode("overwrite").partitionBy("snap").parquet(s"$tmp/ann")
      val docs = rd(s, dir, "documents")
      // store shape audited round 16 (the removed x13ab study,
      // `git show 52f1ea3:src/main/scala/graft/Prof.scala`;
      // plans/r16/x13ab.log): writing the COLLAPSED unique-set form
      // instead (s13's artifact contract) only moves the collapse
      // aggregation from the read side to the write side and measured
      // ~0.5 s SLOWER warm in a same-JVM A/B — the raw write is
      // shuffle-free, and this lifecycle rebuilds the store inside the
      // declared query, so the collapse runs exactly once either way
      // (s1/s13 differ: their artifact is built once per snapshot and
      // read by many triggers). Kept raw.
      Dedup.minhashIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", "text", numHashes = 128, bands = 32)
        .write.mode("overwrite").parquet(s"$tmp/mh")

      graft.lake.Retention.expirePartitions(
        s, s"$tmp/ann", "snap", cutoff = "2024-02")

      val index = Similarity.appendToIvfPqIndex(
        Parquet.read(s, s"$tmp/ann").drop("snap"),
        s2, "vec_id", "embedding", coarse, pq)
      val corpus = emb.filter(pmod(col("vec_id"), lit(10)).between(2, 8))
      val knn = Similarity.searchIvfPqIndex(batch, index, corpus,
        "vec_id", "embedding", k = 5, coarse = coarse, pq = pq,
        nprobe = nprobe, rescoreFactor = 16)
      val dup = Dedup.nearDuplicatesAgainstIndex(
        Parquet.read(s, s"$tmp/mh"),
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        "doc_id", "text", threshold = 0.8, numHashes = 128, bands = 32)
      knn.select(lit("knn").as("kind"), col("query_id").as("a"),
          col("neighbor_id").as("b"), col("rank"),
          col("cosine").as("score"))
        .unionByName(dup.select(lit("dup").as("kind"),
          col("corpus_id").as("a"), col("new_id").as("b"),
          lit(0).as("rank"), col("jaccard").as("score")))
        .orderBy("kind", "a", "b", "rank")
    }),


    "x15_curate_then_select" -> ((s, dir) => {
      // the training-data pipeline's two halves COMPOSED: curation
      // (exact dedup → 1e-6-grid quality floor → 13-gram
      // decontamination vs the doc_id%50 eval set → the eval ids
      // themselves dropped; CorpusPipeline.curate, gopher off) feeding
      // DSIR selection (the q95 recipe at salt x15, k = 200, target =
      // curated %17 == 0). Selection must budget over the CURATED
      // corpus, not the raw crawl — duplicates and junk otherwise hog
      // the importance weights (the DSIR paper's own preprocessing
      // order). Both halves are the oracle-proven operators (q81 /
      // q95); this row proves the composition: the oracle replays
      // dedup, the quality cut, the gram join, the eval anti-joins,
      // and then the full DSIR model/score/Gumbel-top-k over exactly
      // the surviving corpus.
      val docs = rd(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      // the curated id set feeds BOTH dsir sides (target sample + raw
      // pool) — persist the NARROW id frame so the whole curation chain
      // (dedup groupBy, gram join, anti joins) evaluates once, not once
      // per side. Bytes per document; released by the session's
      // clearCache between jobs (graft.Cached, unscoped).
      val curatedIds = Cached.persist(CorpusPipeline.curate(docs, "doc_id",
          "text", evalDocs, "doc_id", "text", minQuality = 0.5, nGram = 13,
          salt = "x15")
        .select("doc_id"))
      val corpus = docs.join(curatedIds, Seq("doc_id"), "left_semi")
      val target = corpus.filter(pmod(col("doc_id"), lit(17)) === 0)
      val raw = corpus.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      graft.ext.Dsir.select(raw, target, "doc_id", "text",
        buckets = 8192, k = 200, salt = "x15")
        .orderBy("rank")
    }),


    "x18_cluster_topics" -> ((s, dir) => {
      // corpus cartography: the clustering and keyword stacks COMPOSED —
      // every embedding cluster labeled with its most distinctive terms
      // (the "what is actually in this corpus" map a training-data team
      // reads before choosing mixtures). The q86 deterministic k-means
      // assigns cells; Keyword.topTfidfTermsByGroup sums doc postings
      // per cell and scores with cells as the TF-IDF document unit, so
      // shared vocabulary cancels and each cell's signature terms
      // surface. Output O(cells × k). The oracle replays k-means
      // assignment (kmeansOracle), the per-cell term sums, and the
      // grid-rounded ranking.
      val m = kmeansDemo(s, dir)
      val assign = ext.Clustering.assign(
          rd(s, dir, "embeddings"), "embedding", m)
        .select(col("vec_id").as("doc_id"), col("cell"))
      Keyword.topTfidfTermsByGroup(
        Keyword.postings(rd(s, dir, "documents"), "doc_id", "text"),
        assign, "cell", k = 3)
        .select(col("doc_id").as("cell"), col("rank"), col("term"),
          col("score"))
        .orderBy("cell", "rank")
    }),


    "x17_curate_then_reweight" -> ((s, dir) => {
      // the DOMAIN-mixture sibling of x15: the same curation half (exact
      // dedup → quality floor → 13-gram decontamination vs the %50 eval
      // set → eval ids dropped) feeding DoReMi domain reweighting (the
      // q98 recipe at salt x17) over exactly the surviving corpus.
      // Mixture weights must be computed over CURATED data — duplicate
      // and junk mass otherwise inflates a domain's size and distorts
      // both its share and its excess (the DoReMi paper reweights the
      // cleaned Pile, not raw crawls). The oracle replays curation and
      // then the full three-step EG chain over the survivors.
      val docs = rd(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      // x15's persist posture: the narrow curated-id frame evaluates the
      // curation chain once, not once per DoReMi pass (pg build, share
      // count, coin pass all read it)
      val curatedIds = Cached.persist(CorpusPipeline.curate(docs, "doc_id",
          "text", evalDocs, "doc_id", "text", minQuality = 0.5, nGram = 13,
          salt = "x17")
        .select("doc_id"))
      val corpus = docs.join(curatedIds, Seq("doc_id"), "left_semi")
      graft.ext.Doremi.domainWeights(corpus, "doc_id", "text", "source",
        n = 3, addK = 0.01, alphabetSize = 64, steps = 3, eta = 1.0,
        smoothing = 1e-3, salt = "x17")
        .orderBy("source")
    }),


    "x14_visual_near_dup" -> ((s, dir) => {
      // the multimodal → similarity composition: m8's codec-decoded
      // luminance-histogram features feed the IVF serving stack — the
      // visual near-dup pass a multimodal training pipeline runs on each
      // new image batch. Batch (media_id % 10 == 9) probes the corpus-
      // trained quantizer's 4 nearest cells, exact cosine ranks the top-5
      // visually nearest corpus images, and is_dup flags matches at
      // ≥ 0.9999 (for these count/64 histograms that is histogram
      // identity). Plain IVF, no PQ: at 16 dims the exact-cosine
      // candidate scan is already cheap (Similarity.searchIvf scaladoc).
      // A THRESHOLD-pair declaration (cosinePairsIvf) is deliberately
      // avoided: measured on this corpus, byte-class histograms are so
      // clumped that even cosine = 1.0 exactly holds ~2% of ALL pairs
      // (245k pairs at sf0.1) — near-quadratic however the candidates
      // are generated. Top-k bounds the output at batch × k by
      // construction. The oracle re-derives the histograms as byte math
      // (m8's proof), replays the k-means training / home assignment /
      // probe ranking / exact-cosine top-5 in SQL — the full x10-style
      // value check over the composed stack.
      //
      // The feature frame materializes to parquet FIRST (x13's store
      // posture, memoized in x14FeaturePath): the codec decode is the
      // expensive pass, and the serve below reads the feature table four
      // ways (probes, home cells, both rescore sides) — a real pipeline
      // extracts features once per corpus and serves every batch (and
      // trains its quantizer) from the table, never re-decoding per
      // consumer subplan.
      val feats = Parquet.read(s, x14FeaturePath(s, dir))
      val corpus = feats.filter(pmod(col("media_id"), lit(10)) < 9)
      val batch = feats.filter(pmod(col("media_id"), lit(10)) === 9)
      Similarity.searchIvf(batch, corpus, "media_id", "features", k = 5,
        centroids = x14Model(s, dir).centroids, nprobe = 4)
        .withColumn("is_dup", col("cosine") >= 0.9999)
        .orderBy("query_id", "rank")
    })
  )

  private[graft] def oraclesDedup: Map[String, String] = Map(

    "x3r_simhash_recall" ->
      """WITH g AS (SELECT
        |    list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS ts,
        |    count(*) AS m
        |  FROM documents GROUP BY 1)
        |SELECT CAST(coalesce(sum(m * (m - 1) / 2), 0) AS BIGINT) AS n_exact,
        |  1 AS recall_ok
        |FROM g WHERE m > 1""".stripMargin,


    "x6r_embedding_lsh_recall" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT count(*) AS n_exact, 1 AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) >= 0.45""".stripMargin,


    "x10r_semantic_recall" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT count(*) AS n_exact, 1 AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) >= 0.45""".stripMargin,


    "x2pr_minhash_prod_recall" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents)
        |SELECT count(*) AS n_exact, 1 AS recall_ok
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8""".stripMargin,


    "x1_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    AS fingerprint,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,


    // x2p: FULL replay of the portable-minhash LSH pipeline — md5-derived
    // affine coefficients, per-shingle 60-bit md5 base hashes, the 64 lane
    // minima over the 2^61-1 field, 16 raw-slice band keys, the band
    // self-join (misses included), the size-ratio prune (replicated, not
    // argued away: same IEEE double compare), and the exact-Jaccard verify.
    "x2p_dedup_minhash_prod" ->
      """WITH coef AS (SELECT j,
        |    ('0x' || substr(md5('mh|x2p|a|' || j), 1, 15))::BIGINT + 1 AS a,
        |    ('0x' || substr(md5('mh|x2p|b|' || j), 1, 15))::BIGINT AS b
        |  FROM range(64) t(j)),
        |d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(ws,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS x
        |  FROM d),
        |sg AS (SELECT sh.doc_id, c.j,
        |    min((c.a::HUGEINT * sh.x + c.b)
        |      % 2305843009213693951)::BIGINT AS h
        |  FROM sh CROSS JOIN coef c GROUP BY sh.doc_id, c.j),
        |sigl AS (SELECT doc_id, list(h ORDER BY j) AS sig
        |  FROM sg GROUP BY doc_id),
        |banded AS (SELECT doc_id, b.b AS band,
        |    sig[b.b * 4 + 1 : b.b * 4 + 4] AS bkey
        |  FROM sigl, range(16) b(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |    AND x.doc_id < y.doc_id)
        |SELECT c.id_a, c.id_b,
        |  len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |FROM cand c JOIN d a ON c.id_a = a.doc_id
        |  JOIN d b ON c.id_b = b.doc_id
        |WHERE least(len(a.ws), len(b.ws))::DOUBLE
        |    >= greatest(len(a.ws), len(b.ws)) * 0.8
        |  AND len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,


    // x3: FULL replay of the portable 60-bit md5 SimHash — per-token md5
    // hashes, the 60 per-bit vote sums with the strict >0 tie rule, the
    // four 15-bit pigeonhole chunks, the chunk self-join and the
    // bit_count(xor) <= 3 verify.
    "x3_dedup_simhash" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents),
        |th AS (SELECT doc_id, unnest(list_transform(ws,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS h
        |  FROM d),
        |votes AS (SELECT th.doc_id, b.j,
        |    sum(CASE WHEN ((h >> CAST(b.j AS INT)) & 1) = 1
        |      THEN 1 ELSE -1 END) AS v
        |  FROM th, range(60) b(j) GROUP BY th.doc_id, b.j),
        |sig AS (SELECT doc_id,
        |    sum(CASE WHEN v > 0
        |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |      ELSE 0 END)::BIGINT AS sig
        |  FROM votes GROUP BY doc_id),
        |ch AS (SELECT doc_id, sig, c.c AS chunk,
        |    (sig >> CAST(c.c * 15 AS INT)) & 32767 AS cv
        |  FROM sig, range(4) c(c)),
        |pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |    bit_count(xor(x.sig, y.sig)) AS hamming
        |  FROM ch x JOIN ch y ON x.chunk = y.chunk AND x.cv = y.cv
        |    AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,


    "x2_dedup_minhash" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,


    "x4_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(range(1, length(text) - 1),
        |      i -> substring(text, i, 3))) AS gs
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.gs, b.gs))::DOUBLE
        |    / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.n_chars = b.n_chars
        |  AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
        |    / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,


    "x5_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,


    "x9_dedup_incremental" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents)
        |SELECT a.doc_id AS corpus_id, b.doc_id AS new_id,
        |  len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |FROM d a JOIN d b
        |  ON a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8
        |ORDER BY corpus_id, new_id""".stripMargin,


    // transitive closure of the x2 pair set: min-label reachability via a
    // recursive CTE (UNION dedups, so the fixpoint is finite); cluster_id =
    // smallest reachable doc_id, matching connectedComponents' contract.
    // SCALE BOUND: full reachability is O(Σ size²) rows and the iteration
    // join is O(Σ size³) — sound at the sf0.01 gate (largest cluster ~10²),
    // infeasible at sf0.1 (one 3,728-doc near-clique). For larger-SF
    // cross-checks use tools/cc_check.py: union-find over the ALREADY
    // cross-engine-verified x2 pair output. The Spark operator itself has
    // no such bound — star contraction is O(|E|) per round.
    "x7_dup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id, cluster_id FROM cc ORDER BY id""".stripMargin,


    "x8_keep_canonical" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) >= 0.45),
        |s AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM s
        |  UNION
        |  SELECT reach.id, s.v FROM reach JOIN s ON reach.r = s.u),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,


    // ---- full value oracles for the ANN/LSH family: every model is either
    // md5-derived (planes) or the deterministic grid-rounded k-means loop
    // (cells, PQ codebooks), so DuckDB re-derives THE ENTIRE PIPELINE —
    // training, assignment, banding, ADC scoring, rescore — from the same
    // parquet. The *r recall companions stay declared: the oracle proves
    // the computation, the companion measures retrieval quality.

    // x6: re-derive the 16×4 md5 plane model, both band signatures, the
    // bucket-collision candidate join, and the exact-cosine verify.
    "x6_dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |$enCte,
        |pl AS (SELECT t.b, t.p,
        |    list(CAST(t.u / 2147483648.0 - 1.0 AS REAL) ORDER BY t.i)
        |      AS plane
        |  FROM (SELECT b.b, p.p, i.i,
        |      CAST(CAST(('0x' || substr(md5('hp|x6|' ||
        |          CAST(b.b AS VARCHAR) || '|' || CAST(p.p AS VARCHAR) ||
        |          '|' || CAST(i.i AS VARCHAR)), 1, 8)) AS BIGINT)
        |        AS DOUBLE) AS u
        |    FROM range(16) b(b), range(4) p(p), range(64) i(i)) t
        |  GROUP BY t.b, t.p),
        |sig AS (SELECT e.vec_id, pl.b AS band,
        |    CAST(sum(CASE WHEN list_sum(list_transform(
        |          list_zip(e.embedding, pl.plane),
        |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) >= 0
        |      THEN (CAST(1 AS BIGINT) << CAST(pl.p AS INT))
        |      ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.b),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sig a JOIN sig b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id),
        |sc AS (SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) AS cosine
        |  FROM cand c JOIN en a ON c.id_a = a.vec_id
        |    JOIN en b ON c.id_b = b.vec_id)
        |SELECT id_a, id_b, cosine FROM sc
        |WHERE cosine IS NOT NULL AND NOT isnan(cosine) AND cosine >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,


    // x10: the q86 k-means loop at k=8, home cells (asg) + top-4 probes,
    // exact-cosine verify of every cell-meeting pair.
    "x10_dedup_semantic" ->
      s"""${kmeansOracle(8)},
        |$enCte,
        |probes AS (SELECT vec_id AS pid, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, cell) AS rn FROM s1) t3 WHERE rn <= 4),
        |cand AS (SELECT DISTINCT least(p.pid, a.vec_id) AS id_a,
        |    greatest(p.pid, a.vec_id) AS id_b
        |  FROM probes p JOIN asg a ON p.cell = a.cell
        |  WHERE p.pid <> a.vec_id),
        |sc AS (SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) AS cosine
        |  FROM cand c JOIN en a ON c.id_a = a.vec_id
        |    JOIN en b ON c.id_b = b.vec_id)
        |SELECT id_a, id_b, cosine FROM sc
        |WHERE cosine IS NOT NULL AND NOT isnan(cosine) AND cosine >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,


    // intersection sizes come from a grouped join-count over the inverted
    // index — exact (a pair with containment > 0 shares >= 1 gram, and
    // every shared gram contributes exactly one joined row), and far
    // cheaper than per-pair list_intersect at sf0.1
    "x11_containment" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 7),
        |    i -> substr(text, i, 8))) AS sh
        |  FROM documents),
        |ss AS (SELECT doc_id, len(sh) AS nsh FROM s WHERE len(sh) > 0),
        |g AS (SELECT doc_id, unnest(sh) AS gram FROM s WHERE len(sh) > 0),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    count(*) AS shared
        |  FROM g a JOIN g b USING (gram) WHERE a.doc_id <> b.doc_id
        |  GROUP BY ia, ib)
        |SELECT ia AS id, ib AS container_id,
        |  shared::DOUBLE / a.nsh AS containment
        |FROM inter JOIN ss a ON inter.ia = a.doc_id
        |WHERE shared >= 0.8 * a.nsh
        |ORDER BY id, container_id""".stripMargin,


    // x12: x7's recursive closure over the exact-Jaccard pair graph gives
    // the clusters; each doc's group = its component's min id (or itself),
    // and the label is q75's hex-threshold chain on md5(group || salt).
    // Same sf0.01-gate scale bound as the x7 oracle (full reachability).
    "x12_leakage_safe_split" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |g AS (SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS grp
        |  FROM documents LEFT JOIN cc ON documents.doc_id = cc.id)
        |SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(grp AS VARCHAR) || 'x12'), 1, 8)
        |         < 'cccccccd' THEN 'train'
        |       WHEN substr(md5(CAST(grp AS VARCHAR) || 'x12'), 1, 8)
        |         < 'e6666667' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM g ORDER BY doc_id""".stripMargin,


    // x16: corpus-side k-means replay (kmeansOracle at the %10<9 split),
    // eval probe scoring against those cells, exact-cosine verify of
    // every (eval probe, corpus home) candidate, per-corpus-doc verdict.
    "x16_semantic_decontam" ->
      s"""${kmeansOracle(8, " WHERE vec_id % 10 < 9")},
        |$x16HitsCtes
        |SELECT e.vec_id, coalesce(h.n_eval_hits, 0) AS n_eval_hits,
        |  h.max_cosine,
        |  coalesce(h.n_eval_hits, 0) > 0 AS contaminated
        |FROM e LEFT JOIN hits h ON e.vec_id = h.corpus_id
        |ORDER BY e.vec_id""".stripMargin,


    // x13: models re-derived from the vec_id%10<8 train split
    // (kmeansOracleSqrt + pqTrainEncodeCtes — y7's preambles at the x13
    // filter); the SERVED corpus is the post-expiry union vec_id%10 in
    // [2,8], so its assignments (asg2), encodes (enc2/recon2) and norms
    // (spn) are replayed over that wider-than-train row set before y7's
    // serving tail; the dup rows are x9's exact cross-split Jaccard.
    "x13_snapshot_lifecycle" ->
      s"""${kmeansOracleSqrt(" WHERE vec_id % 10 < 8")},
        |$pqTrainEncodeCtes,
        |sp AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 BETWEEN 2 AND 8),
        |spn AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM sp),
        |xs AS (SELECT sp.vec_id, t.cell,
        |    list_sum(list_transform(list_zip(sp.embedding, t.c),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
        |    - list_sum(list_transform(t.c, x -> x::DOUBLE * x::DOUBLE))
        |      / 2 AS score
        |  FROM sp CROSS JOIN cents t),
        |asg2 AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, cell) AS rn FROM xs) tx WHERE rn = 1),
        |sv2 AS (SELECT sp.vec_id, j.j AS sub,
        |    sp.embedding[j.j * 4 + 1 : j.j * 4 + 4] AS v
        |  FROM sp, range(16) j(j)),
        |enc2 AS (SELECT vec_id, sub, cell FROM (
        |    SELECT sv2.vec_id, sv2.sub, t.cell,
        |      row_number() OVER (PARTITION BY sv2.vec_id, sv2.sub
        |        ORDER BY list_sum(list_transform(list_zip(sv2.v, t.c),
        |            x -> x[1]::DOUBLE * x[2]::DOUBLE))
        |          - list_sum(list_transform(t.c,
        |            x -> x::DOUBLE * x::DOUBLE)) / 2 DESC, t.cell) AS rn
        |    FROM sv2 JOIN pcents t ON sv2.sub = t.sub) ty WHERE rn = 1),
        |recon2 AS (SELECT c.vec_id, flatten(list(p.c ORDER BY c.sub))
        |    AS rv
        |  FROM enc2 c JOIN pcents p ON c.sub = p.sub AND c.cell = p.cell
        |  GROUP BY c.vec_id),
        |$batchQueryCte,
        |${indexedServeCtes("(SELECT nb FROM params)",
             "asg2", "recon2", "spn")},
        |d AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\\s+'))
        |      AS ws
        |  FROM documents),
        |dup AS (SELECT a.doc_id AS corpus_id, b.doc_id AS new_id,
        |    len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |  FROM d a JOIN d b
        |    ON a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.8)
        |SELECT kind, a, b, rank, score FROM (
        |  SELECT 'knn' AS kind, query_id AS a, neighbor_id AS b, rank,
        |    cosine AS score FROM served
        |  UNION ALL
        |  SELECT 'dup', corpus_id, new_id, 0, jaccard FROM dup) u
        |ORDER BY kind, a, b, rank""".stripMargin,


    // x15: q81's dedup + quality CTEs → the q40-shape distinct-13-gram
    // contamination join vs the %50 eval set → eval ids dropped → q95's
    // full DSIR chain (bucket hash, Laplace log-ratios, Gumbel top-k at
    // salt x15) bound to the surviving corpus instead of raw documents.
    "x15_curate_then_select" ->
      ("WITH " + dedupQualityCtes + ",\n" +
        """tok AS (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS a FROM q),
          |gq AS (SELECT doc_id, unnest(list_distinct(
          |    list_transform(range(1, len(a) - 11),
          |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
          |  FROM tok WHERE len(a) >= 13),
          |etok AS (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS a
          |  FROM documents WHERE doc_id % 50 = 0),
          |ge AS (SELECT DISTINCT unnest(list_distinct(
          |    list_transform(range(1, len(a) - 11),
          |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
          |  FROM etok WHERE len(a) >= 13),
          |hits AS (SELECT DISTINCT gq.doc_id FROM gq JOIN ge USING (gram)),
          |cur AS (SELECT doc_id, text FROM q WHERE doc_id % 50 <> 0
          |  AND doc_id NOT IN (SELECT doc_id FROM hits)),""".stripMargin +
        "\n" + dsirOracleTail("cur", "x15", 200)),


    // x18: the q86 k-means assignment (asg) + q60's tokenization, term
    // counts summed per cell, TF-IDF with cells as the document unit,
    // top-3 per cell on the 1e-4 grid with term tiebreak.
    "x18_cluster_topics" ->
      s"""${kmeansOracle(8)},
        |tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tfd AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE len(term) > 0 GROUP BY doc_id, term),
        |ctf AS (SELECT a.cell, t.term, sum(t.tf) AS tf
        |  FROM tfd t JOIN asg a ON t.doc_id = a.vec_id GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
        |nn AS (SELECT CAST(count(DISTINCT cell) AS DOUBLE) AS n FROM ctf),
        |sx AS (SELECT ctf.cell, ctf.term,
        |    floor(ctf.tf * ln(nn.n / dfq.df) * 1e4 + 0.5) / 1e4 AS score
        |  FROM ctf JOIN dfq USING (term) CROSS JOIN nn),
        |rr AS (SELECT sx.*, row_number() OVER (PARTITION BY cell
        |    ORDER BY score DESC, term) AS rank FROM sx)
        |SELECT cell, CAST(rank AS INT) AS rank, term, score
        |FROM rr WHERE rank <= 3 ORDER BY cell, rank""".stripMargin,


    // x17: x15's curation prefix (dedup + quality CTEs, the 13-gram
    // contamination join, the eval anti-joins) re-joined with documents
    // for the source column, then the full q98 DoReMi chain bound to the
    // surviving corpus at salt x17.
    "x17_curate_then_reweight" ->
      ("WITH " + dedupQualityCtes + ",\n" +
        """tok AS (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS a FROM q),
          |gq AS (SELECT doc_id, unnest(list_distinct(
          |    list_transform(range(1, len(a) - 11),
          |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
          |  FROM tok WHERE len(a) >= 13),
          |etok AS (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS a
          |  FROM documents WHERE doc_id % 50 = 0),
          |ge AS (SELECT DISTINCT unnest(list_distinct(
          |    list_transform(range(1, len(a) - 11),
          |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
          |  FROM etok WHERE len(a) >= 13),
          |hits AS (SELECT DISTINCT gq.doc_id FROM gq JOIN ge USING (gram)),
          |cur AS (SELECT doc_id, text FROM q WHERE doc_id % 50 <> 0
          |  AND doc_id NOT IN (SELECT doc_id FROM hits)),
          |curd AS MATERIALIZED (SELECT c.doc_id, d.source, c.text
          |  FROM cur c JOIN documents d USING (doc_id)),""".stripMargin +
        "\n" + doremiOracleTail("curd", "x17", 3, "0.01")),


    // x14: re-derive the 16-bin count/64 luminance histograms as byte
    // math (m8's proof: pixel = text byte, zero-padded past 64; ascii('')
    // = 0 lands padding in bin 0), bind the k-means preamble's `e` to the
    // corpus half, replay the q86 training loop, then the batch's probe
    // ranking + exact-cosine top-5 against corpus home cells.
    "x14_visual_near_dup" ->
      s"""WITH px AS (SELECT doc_id,
        |    CAST(ascii(substr(text, g.i, 1)) // 16 AS INT) AS bin
        |  FROM documents, unnest(range(1, 65)) AS g(i)),
        |hist AS (SELECT doc_id, bin, count(*) AS cnt
        |  FROM px GROUP BY doc_id, bin),
        |feat AS (SELECT d.doc_id AS vec_id,
        |    list(CAST(coalesce(h.cnt, 0) / 64.0 AS REAL) ORDER BY bb.b)
        |      AS embedding
        |  FROM documents d CROSS JOIN range(16) bb(b)
        |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = bb.b
        |  GROUP BY d.doc_id),
        |e AS (SELECT vec_id, embedding FROM feat WHERE vec_id % 10 < 9),
        |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INT) AS cell, embedding AS c
        |  FROM (SELECT vec_id, embedding FROM e
        |        ORDER BY vec_id LIMIT 8) t0),
        |$kmeansOracleBody,
        |$enCte,
        |eqn AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM feat WHERE vec_id % 10 = 9),
        |qs AS (SELECT q.vec_id, t.cell,
        |    list_sum(list_transform(list_zip(q.embedding, t.c),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
        |    - list_sum(list_transform(t.c, x -> x::DOUBLE * x::DOUBLE)) / 2
        |      AS score
        |  FROM eqn q CROSS JOIN cents t),
        |probes AS (SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, cell) AS rn FROM qs) t7 WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN asg a ON p.cell = a.cell
        |  WHERE p.query_id <> a.vec_id),
        |sc AS (SELECT c.query_id, c.neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (q.nrm * n.nrm) AS cosine
        |  FROM cand c JOIN eqn q ON c.query_id = q.vec_id
        |    JOIN en n ON c.neighbor_id = n.vec_id)
        |SELECT query_id, neighbor_id, rank, cosine,
        |  cosine >= 0.9999 AS is_dup
        |FROM (SELECT sc.*, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |  FROM sc WHERE cosine IS NOT NULL AND NOT isnan(cosine)) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  )
}
