package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{simhash60_md5, simhash64}
import graft.functions.JaccardFunctions.jaccard_sorted
import graft.functions.MinHashFunctions.{minhash_signature, minhash_signature_portable}
import Shingles._

/** Deduplication operators for LLM-corpus pipelines (SURVEY.md §7.5).
  *
  * Scale design: every method is blocking-based — candidates are generated
  * by an equi-join on a derived key (hash bucket, LSH band, SimHash chunk),
  * never by a cross join — so each stage is a plain shuffle whose cost is
  * O(candidates), not O(n²). That is the property that lets the same plan
  * run at 100 TB.
  */
object Dedup {

  /** Decouple CPU parallelism from input split count: a small or
    * single-row-group parquet table arrives as one partition, which would
    * serialize the signature/shingle computation onto one core no matter
    * how many executors exist. Round-robin up to the cluster's default
    * parallelism when the input is SMALL — a pass-through when it isn't
    * (the 100 TB case: a big scan already yields plenty of splits, and
    * the repartition would be a pointless full shuffle).
    *
    * "Small" is decided from optimizer statistics (`sizeInBytes` of the
    * optimized plan), NOT from `df.rdd.getNumPartitions`: the latter
    * physically plans the whole upstream query at call time (an earlier
    * revision did this — a per-call driver cost that grows with plan
    * complexity), while stats stop at logical optimization. The threshold
    * is one scan split (`files.maxPartitionBytes`, default 128 MB) per
    * target slot: any input at least that big yields >= target partitions
    * from the scan itself, so only inputs too small to matter shuffle.
    */
  private[ext] def ensureParallelism(df: DataFrame): DataFrame = {
    // streaming plans have no stats (and micro-batch parallelism is the
    // source's concern) — pass them through untouched
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= BigInt(splitBytes) * target) df else df.repartition(target)
  }

  // ---------------------------------------------------------------- exact

  /** Content fingerprint: md5 of normalized text. md5 (not xxhash) so the
    * fingerprint is reproducible across engines (DuckDB oracle parity) and
    * stable across Spark versions.
    */
  def exactFingerprint(text: Column): Column = md5(normalizeText(text))

  /** Exact dedup keeping the smallest id per fingerprint — deterministic,
    * unlike `dropDuplicates` which keeps an arbitrary row. One hash
    * aggregation (partial + final), no sort.
    */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(exactFingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // -------------------------------------------------------------- minhash

  /** MinHash + LSH banding candidate pairs, verified with exact Jaccard on
    * the shingle set; emits `(id_a, id_b, jaccard)` with `id_a < id_b` for
    * pairs at or above `threshold`.
    *
    * Pipeline: shingle → collapse token-set-identical docs into groups →
    * k-minhash signature of each unique set → split into `bands` bands →
    * hash each band → self-join on (band_index, band_hash) → distinct
    * group pairs → exact-Jaccard verify → expand back to doc pairs.
    *
    * The collapse step is the load-bearing scale property on real corpora:
    * duplicate-heavy data (the norm in crawled training sets) forms large
    * clusters of identical token sets, and a cluster of m docs would
    * otherwise contribute m²/2 band-join rows per band and m²/2 Jaccard
    * verifications — all redundant, since Jaccard depends only on the token
    * set. Running LSH on unique sets makes band-join and verify cost a
    * function of CONTENT diversity, not corpus size; members then inherit
    * their group pair's score in a pure explode (no per-pair set math).
    * With k=64, bands=16 (r=4), the S-curve catches ~all pairs with
    * J ≥ 0.8 while keeping candidates near-linear.
    */
  def nearDuplicatesMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    buildMinhashPairs(df, idCol, textCol, threshold, numHashes, bands)

  /** [[nearDuplicatesMinhash]] over the PORTABLE md5 hash family
    * ([[graft.functions.MinHashSignaturePortable]]): identical pipeline and
    * LSH statistics, but signatures — and therefore the exact candidate
    * pair set, banding misses included — are re-derivable by any engine
    * with md5 + 128-bit integer arithmetic. Band keys are the raw r-long
    * signature slices (no engine-specific band hash in the join key; an
    * equi-join on a 4-long array instead of one int — slightly wider
    * shuffle rows, zero collision-induced false candidates). Use for
    * declarations that carry full value oracles and for signatures
    * exchanged across systems; the xxhash64 default stays the cheap
    * production path.
    */
  def nearDuplicatesMinhashPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      salt: String = "mh"): DataFrame =
    buildMinhashPairs(df, idCol, textCol, threshold, numHashes, bands,
      signature = minhash_signature_portable(_, numHashes, salt),
      bandKey = identity)

  /** The doc-pair plan. `signature` builds the k-long signature column;
    * `bandKey` maps each band's r-long signature slice to the equi-join
    * key (default: Murmur3 of the slice — one int per banded row; the
    * portable path keys on the raw slice itself).
    */
  private def buildMinhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      signature: Column => Column = null,
      bandKey: Column => Column = hash(_)): DataFrame = {
    val (repPairs, groups) = buildMinhashGroupPairs(
      df, idCol, textCol, threshold, numHashes, bands, signature, bandKey)

    val cross = repPairs
      .join(groups.select(col("gid").as("gid_a"), col("members").as("ma")),
        Seq("gid_a"))
      .join(groups.select(col("gid").as("gid_b"), col("members").as("mb")),
        Seq("gid_b"))
      .select(explode(col("ma")).as("a"), col("mb"), col("jaccard"))
      .select(col("a"), explode(col("mb")).as("b"), col("jaccard"))
      .select(
        least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"),
        col("jaccard"))

    // intra-group pairs: jaccard evaluated on the actual set (1 eval per
    // group — preserves the empty-set → 0.0 edge exactly)
    val intra = groups
      .filter(size(col("members")) > 1)
      .select(col("members"),
        jaccard_sorted(col("shingles"), col("shingles")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(explode(col("members")).as("a"), col("members"), col("jaccard"))
      .select(col("a"), explode(col("members")).as("b"), col("jaccard"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"))

    cross.unionByName(intra)
  }

  /** The GROUP-level half of [[buildMinhashPairs]]: unique-token-set
    * groups plus the verified near-duplicate pairs BETWEEN groups —
    * everything up to (but not including) the member expansion. Returns
    * `(repPairs (gid_a, gid_b, jaccard), groups (gid, members, shingles,
    * …) cached)`.
    */
  private def buildMinhashGroupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      signature: Column => Column = null,
      bandKey: Column => Column = hash(_)): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigFn =
      if (signature != null) signature
      else minhash_signature(_: Column, numHashes)
    val rows = numHashes / bands

    // sorted once per doc: the sort both keys the group and enables the
    // allocation-free merge-walk Jaccard at verify time
    val shingled = ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        array_sort(tokenSet(col(textCol))).as("shingles"))

    // md5 (128-bit) of the sorted set as the group key: collision odds are
    // negligible and a false merge would silently fabricate pairs.
    // Persisted: the group table is referenced by the band join, both
    // verify joins, and the intra-group branch of one output plan — without
    // persistence Spark re-runs the aggregation per reference (the
    // broadcast wrappers differ, so ReusedExchange cannot kick in).
    val groups = graft.Cached.persist(shingled
      .groupBy(md5(to_json(col("shingles"))).as("set_key"))
      .agg(
        min(col("id")).as("gid"),
        collect_list(col("id")).as("members"),
        first(col("shingles")).as("shingles"))
      .drop("set_key"))

    val banded = groups
      .withColumn("sig", sigFn(col("shingles")))
      .select(
        col("gid"),
        size(col("shingles")).as("nsh"),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            j => bandKey(slice(col("sig"), j * rows + 1, lit(rows))))))
      .toDF("gid", "nsh", "band", "band_hash")

    // Size-ratio prune inside the band join, BEFORE the dedup shuffle and
    // the (expensive) exact verify: J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max —
    // a pair whose set sizes differ by more than the threshold ratio
    // cannot reach it, so dropping it here is exact, not approximate.
    // Costs one int per banded row; on a shared-vocabulary corpus (the
    // LSH worst case, where banding itself barely selects) it halves the
    // candidate volume.
    val candidates = banded.as("x")
      .join(banded.as("y"), Seq("band", "band_hash"))
      .filter(col("x.gid") < col("y.gid") &&
        least(col("x.nsh"), col("y.nsh")).cast("double") >=
          greatest(col("x.nsh"), col("y.nsh")) * threshold)
      .select(col("x.gid").as("gid_a"), col("y.gid").as("gid_b"))
      .distinct()

    // verify once per GROUP pair (content diversity), not per doc pair;
    // ONLY the shingle arrays ride to the verify — the member lists attach
    // after the threshold filter, to survivors (typically ~10x fewer rows)
    val repPairs = candidates
      .join(groups.select(col("gid").as("gid_a"), col("shingles").as("sh_a")),
        Seq("gid_a"))
      .join(groups.select(col("gid").as("gid_b"), col("shingles").as("sh_b")),
        Seq("gid_b"))
      .select(col("gid_a"), col("gid_b"),
        jaccard_sorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

    (repPairs, groups)
  }

  /** Connected components of the near-duplicate DOC graph, computed on
    * the GROUP graph — result-identical to
    * `Clusters.connectedComponents(nearDuplicatesMinhash(df, …))` but the
    * star contraction iterates over one edge per GROUP pair instead of
    * one per doc pair. On a duplicate-heavy corpus (the 100 TB crawl
    * norm) that is the squared duplication factor off every clique-shaped
    * component's edge set — the m²-member expansion that dominates the
    * doc-level edge list is exactly the part the contraction never needs,
    * because set-identical docs are connected BY CONSTRUCTION and always
    * land in the same component. Members rejoin once, after the fixpoint.
    *
    * Equality argument: expanded cross pairs connect every member of
    * group A to every member of group B, so contracting each group to its
    * gid preserves reachability; a multi-member group with no cross pair
    * is its own component (members interconnect via intra pairs) UNLESS
    * its set cannot reach the threshold against itself — the empty-set
    * group, whose docs have no edges at all and are absent from the
    * doc-level result by contract. Both cases are restored below.
    * `cluster_id` is unchanged: gid = min(member id), so the component's
    * min gid IS the component's min doc id.
    */
  def nearDuplicateComponents(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val (repPairs, groups) = buildMinhashGroupPairs(
      df, idCol, textCol, threshold, numHashes, bands)
    val gcc = Clusters.connectedComponents(repPairs, "gid_a", "gid_b")
      .withColumnRenamed("id", "gid")
    // multi-member groups whose members interconnect (intra Jaccard ≥ t;
    // false only for the empty set) but touch no cross-group pair
    val isolated = groups
      .filter(size(col("members")) > 1 &&
        jaccard_sorted(col("shingles"), col("shingles")) >= threshold)
      .select(col("gid"))
      .join(gcc.select("gid"), Seq("gid"), "left_anti")
      .select(col("gid"), col("gid").as("cluster_id"))
    gcc.unionByName(isolated)
      .join(groups.select(col("gid"), col("members")), Seq("gid"))
      .select(explode(col("members")).as("id"), col("cluster_id"))
  }

  // ------------------------------------------------ incremental (indexed)

  /** Persistable minhash index of a corpus — the INCREMENTAL dedup shape.
    * One row per document: `(id, nsh, shingles, bands)` where `bands` is
    * `array<struct<band:int, bucket:int>>` (bucket = Murmur3 of the band's
    * signature slice — 32-bit by construction). Build it once per corpus
    * snapshot, write it to parquet, and dedup each new crawl batch with
    * [[nearDuplicatesAgainstIndex]] — the corpus TEXT is never touched
    * again, which is the property that matters when the corpus is 100 TB
    * and the daily batch is 0.1% of it.
    *
    * Storage: signatures live unexploded (bands explode at query time after
    * column pruning), so the index is O(docs), not O(docs × bands). The
    * token-set-collapse trick of [[nearDuplicatesMinhash]] applies here too
    * if the corpus is duplicate-heavy — collapse before indexing and
    * re-expand matches afterwards; this index stays doc-level for a
    * contract a plain parquet reader can consume.
    */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        array_sort(tokenSet(col(textCol))).as("shingles"))
      .withColumn("sig", minhash_signature(col("shingles"), numHashes))
      .select(
        col("id"),
        size(col("shingles")).as("nsh"),
        col("shingles"),
        transform(
          sequence(lit(0), lit(bands - 1)),
          j => struct(
            j.cast("int").as("band"),
            hash(slice(col("sig"), j * rows + 1, lit(rows))).as("bucket")))
          .as("bands"))
  }

  /** Near-duplicates of a NEW batch against an existing [[minhashIndex]]:
    * candidates come from the `(band, bucket)` equi-join of the batch's
    * banded signatures against the index's (ids-only rows cross the
    * shuffle), size-ratio-pruned exactly as in [[nearDuplicatesMinhash]],
    * then verified with exact Jaccard on the sorted shingle arrays both
    * sides already carry. Emits `(corpus_id, new_id, jaccard)`.
    *
    * Both sides are first collapsed to UNIQUE TOKEN SETS — the same
    * load-bearing trick as [[nearDuplicatesMinhash]], applied at query
    * time so the stored index keeps its plain doc-level contract: Jaccard
    * depends only on the set, so a group of m set-identical docs costs one
    * banded row per band and one verify per partner GROUP, and members
    * inherit the group pair's score in a pure explode. On a duplicate-
    * heavy crawl batch (the norm) this cuts band-join volume, the
    * candidate-distinct shuffle, and the verify count by the duplication
    * factor; identical sets have identical signatures, so collapsing the
    * prebuilt `bands` column by set key is exact, not approximate. The
    * collapsed frames are cached: each is read by the band join, the
    * verify attach, and the member expansion; without the cache Spark
    * re-runs the index scan + aggregation per reference.
    *
    * Contract: id spaces of index and batch are disjoint (a recrawled doc
    * gets a new id; dedup is what finds the old one). Pairs WITHIN the new
    * batch are [[nearDuplicatesMinhash]] on the batch alone — run both and
    * union for full coverage. `numHashes`/`bands` must match the values
    * the index was built with (bucket hashes are parameter-dependent).
    * `indexPreCollapsed = true` declares that `index` is already the
    * [[collapseIndex]] group form (the snapshot artifact contract) and
    * skips the per-call re-aggregation.
    */
  def nearDuplicatesAgainstIndex(
      index: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      indexPreCollapsed: Boolean = false): DataFrame = {
    val batch = minhashIndex(newDocs, idCol, textCol, numHashes, bands)

    // indexPreCollapsed: the caller stores the COLLAPSED form as the
    // snapshot artifact (collapseIndex -> parquet), so repeated batches
    // (the streaming sink's cadence) skip the per-call re-aggregation
    val gIndex = graft.Cached.persist(
      if (indexPreCollapsed) index else collapseIndex(index))
    val gBatch = graft.Cached.persist(collapseIndex(batch))

    def exploded(ix: DataFrame, side: String): DataFrame = ix
      .select(
        col("gid").as(s"${side}_gid"),
        col("nsh").as(s"${side}_nsh"),
        explode(col("bands")).as("bb"))
      .select(
        col(s"${side}_gid"), col(s"${side}_nsh"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val candidates = exploded(gIndex, "corpus")
      .join(exploded(gBatch, "new"), Seq("band", "bucket"))
      .filter(
        least(col("corpus_nsh"), col("new_nsh")).cast("double") >=
          greatest(col("corpus_nsh"), col("new_nsh")) * threshold)
      .select(col("corpus_gid"), col("new_gid"))
      .distinct()

    // verify once per group pair; members attach AFTER the threshold
    // filter (to survivors) and expand by explode
    candidates
      .join(
        gIndex.select(col("gid").as("corpus_gid"), col("shingles").as("sh_a")),
        Seq("corpus_gid"))
      .join(
        gBatch.select(col("gid").as("new_gid"), col("shingles").as("sh_b")),
        Seq("new_gid"))
      .select(
        col("corpus_gid"), col("new_gid"),
        jaccard_sorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .join(
        gIndex.select(col("gid").as("corpus_gid"), col("members").as("ma")),
        Seq("corpus_gid"))
      .join(
        gBatch.select(col("gid").as("new_gid"), col("members").as("mb")),
        Seq("new_gid"))
      .select(explode(col("ma")).as("corpus_id"), col("mb"), col("jaccard"))
      .select(
        col("corpus_id"), explode(col("mb")).as("new_id"), col("jaccard"))
  }

  /** Collapse a [[minhashIndex]] frame into unique-shingle-set GROUPS:
    * `(gid, members, nsh, shingles, bands)` with `gid` = the smallest
    * member id. md5 of the sorted set is the group key (a collision
    * would silently fabricate pairs, so 128 bits, not 64); bands, nsh
    * and shingles are identical within a group by construction, so
    * `first` is exact. This is the unique-set collapse that kills the
    * m² blowup on duplicate-heavy corpora (a 3,700-doc exact-dup clique
    * is ONE group): candidate generation and Jaccard verification run
    * per GROUP pair, members re-expand afterward. The batch incremental
    * plan applies it to both sides internally; the streaming transform
    * ([[graft.streaming.EventStream.nearDupAgainstIndexStream]]) takes
    * the index PRE-collapsed — materialize this frame to parquet as the
    * snapshot artifact.
    */
  def collapseIndex(ix: DataFrame): DataFrame = ix
    .groupBy(md5(to_json(col("shingles"))).as("set_key"))
    .agg(
      min(col("id")).as("gid"),
      collect_list(col("id")).as("members"),
      first(col("nsh")).as("nsh"),
      first(col("shingles")).as("shingles"),
      first(col("bands")).as("bands"))
    .drop("set_key")

  // -------------------------------------------------------------- simhash

  /** SimHash near-dup pairs: 64-bit signature over the token set, banded
    * into four 16-bit chunks (pigeonhole: Hamming distance ≤ 3 ⇒ at least
    * one chunk identical), verified with `bit_count(xor) ≤ maxHamming`.
    * Emits `(id_a, id_b, hamming)`.
    */
  def nearDuplicatesSimhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(df, idCol, textCol, maxHamming,
      signature = simhash64(_), bitsPerChunk = 16)

  /** [[nearDuplicatesSimhash]] over the PORTABLE md5 hash family
    * ([[graft.functions.SimHash60Md5]]): 60-bit signature (four 15-bit
    * pigeonhole chunks — same Hamming ≤ 3 completeness guarantee), with
    * every signature re-derivable in any engine with md5, so the emitted
    * pair set carries a full value oracle. The xxhash64 default stays the
    * cheap production path (~10× less per-token hash cost).
    */
  def nearDuplicatesSimhashPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(df, idCol, textCol, maxHamming,
      signature = simhash60_md5, bitsPerChunk = 15)

  /** Shared signature→chunk-join→verify pipeline. Four chunks of
    * `bitsPerChunk` bits; the pigeonhole candidate generator is COMPLETE
    * only for `maxHamming ≤ 3` (4 chunks, ≤3 differing bits ⇒ one chunk
    * untouched), so larger radii are rejected rather than silently
    * under-recalled.
    */
  private def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      signature: Column => Column,
      bitsPerChunk: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhash: 4-chunk pigeonhole join is complete only for " +
        s"maxHamming in [0, 3], got $maxHamming")
    val mask = (1L << bitsPerChunk) - 1
    val sigs = ensureParallelism(df.select(
      col(idCol).as("id"),
      col(textCol).as("_text")))
      .select(col("id"), signature(tokenSet(col("_text"))).as("sig"))

    val chunked = sigs.select(
      col("id"), col("sig"),
      posexplode(array(
        (0 until 4).map(j =>
          shiftright(col("sig"), j * bitsPerChunk).bitwiseAND(lit(mask))): _*)))
      .toDF("id", "sig", "chunk", "chunk_val")

    chunked.as("x")
      .join(chunked.as("y"), Seq("chunk", "chunk_val"))
      .filter(col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"),
        col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Blocked n-gram Jaccard dedup: pairs within the same blocking group
    * (e.g. `lang`, exact char length — near-dups by reordering share both)
    * compared by character-n-gram Jaccard. The blocking join keeps the
    * candidate count near-linear; never a cross join.
    */
  def nearDuplicatesNgram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingCols: Seq[String],
      threshold: Double,
      n: Int = 3): DataFrame = {
    val grams = ensureParallelism(df.select(
      col(idCol).as("id") +: col(textCol).as("_text") +:
        blockingCols.map(col): _*))
      .select(col("id") +: array_sort(charNGrams(col("_text"), n)).as("grams") +:
        blockingCols.map(col): _*)

    grams.as("x")
      .join(grams.as("y"), blockingCols)
      .filter(col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"),
        col("y.id").as("id_b"),
        jaccard_sorted(col("x.grams"), col("y.grams")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------- embedding cosine

  /** Embedding near-dup pairs with cosine ≥ `minCosine`, blocked by banded
    * multi-table hyperplane LSH (see [[Similarity.cosinePairsLsh]]) so the
    * pair generation is an equi-join. (bands, planesPerBand) MUST be
    * matched to `minCosine`: per-band collision probability is
    * (1-acos(c)/π)^planesPerBand and recall is its L-band OR. The defaults
    * (8, 8) target true near-dups (cosine ≥ 0.9, tight buckets, tiny
    * candidate volume); a moderate threshold like 0.45 wants wider buckets —
    * e.g. (12, 4) for ~94% measured recall at c = 0.45.
    */
  def nearDuplicatesEmbedding(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      bands: Int = 8,
      planesPerBand: Int = 8,
      seed: Long = 42L): DataFrame =
    // threshold passed INTO the LSH so the filter runs before the pair
    // dedup exchange — the shuffle carries survivors, not candidates
    Similarity.cosinePairsLsh(df, idCol, vecCol, bands, planesPerBand, seed,
      minCosine = minCosine)

  /** [[nearDuplicatesEmbedding]] against an EXPLICIT plane model
    * ([[Similarity.md5Planes]] or any persisted matrix) — pins bucket
    * signatures across runs AND engines, so the x6 declaration carries a
    * full value oracle (DuckDB re-derives the planes, the band join and
    * the cosine verify) instead of a recall-only companion.
    */
  def nearDuplicatesEmbeddingWithPlanes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      planes: Seq[Seq[Seq[Float]]]): DataFrame =
    Similarity.cosinePairsLshWithPlanes(df, idCol, vecCol, planes,
      minCosine = minCosine)

  /** SemDeDup-style semantic near-dup: candidates from the IVF coarse
    * quantizer's cells (data-dependent clustering of the embedding space,
    * + `nprobe` boundary probes) instead of data-independent hyperplane
    * bands — see [[graft.ext.Similarity.cosinePairsIvf]]. Same contract
    * as [[nearDuplicatesEmbedding]]: exact-cosine-verified pairs, recall
    * measured by the x10r companion.
    */
  def nearDuplicatesSemantic(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 2,
      seed: Long = 42L,
      centroids: Option[Seq[Array[Float]]] = None): DataFrame =
    Similarity.cosinePairsIvf(df, idCol, vecCol, minCosine,
      nlist = nlist, nprobe = nprobe, seed = seed, centroids = centroids)

  /** Exact variant for verification/small scopes: all pairs via a single
    * self-join on a trivial key is O(n²) — only for bounded inputs (the
    * sf-scale oracle); the LSH path above is the 100 TB path. `maxRows`
    * enforces that scope (fail fast instead of an accidental 10^16-pair
    * cross join on a production table).
    */
  def nearDuplicatesEmbeddingExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      maxRows: Long = Similarity.DefaultBruteForceMaxRows): DataFrame =
    Similarity.cosinePairsBruteForce(df, idCol, vecCol, maxRows)
      .filter(col("cosine") >= minCosine)

  // ---------------------------------------------------- containment (⊆-ish)

  /** Asymmetric containment pairs: `(id, container_id, containment)` where
    * `containment = |A∩B| / |A| >= threshold` — A's shingle set is mostly
    * inside B's. This is the relation minhash CANNOT find: a paragraph
    * lifted into a long document has high containment but near-zero
    * Jaccard, so LSH bands never collide. Quote/excerpt dedup and
    * boilerplate-subsumption filtering need exactly this operator.
    *
    * EXACT, not approximate, via the prefix filter of the similarity-join
    * literature (PPJoin/AllPairs family): order every set by one global
    * total order — here ascending document frequency, rarest first, with
    * the shingle string breaking ties — and probe the inverted index with
    * only each set's first `floor((1−t)·|A|) + 1` shingles. If A shares
    * none of that prefix with B, then even sharing ALL its remaining
    * shingles leaves `|A∩B| < t·|A|` — so pruned pairs are provably below
    * threshold, and recall is 1 by construction.
    *
    * Scale: candidates come from an equi-join of prefix probes against
    * postings — no cross join anywhere. The df-ordering is what bounds the
    * join fan-out: probes are each document's RAREST shingles, so a stop
    * word shared by every document is (almost) never probed even though it
    * sits in every posting list. The size prune `|B| >= t·|A|` rides in
    * the same join. Frequency ranking costs one O(vocab) aggregation and
    * one per-document sort of its own shingles — both bounded by corpus
    * token count, never by pairs.
    *
    * `shingleFn` picks the set definition. Word tokens (default) match
    * the human notion of quotation; char n-grams
    * (`Shingles.charNGrams(_, 8)`) are the right choice when the corpus
    * shares a small vocabulary — with few distinct words, MOST doc pairs
    * genuinely exceed word-level containment and the result itself is
    * quadratic, which no candidate scheme can outrun; n-grams restore a
    * large, Zipfian key space where the prefix filter bites.
    *
    * EAGER: the shingle-set frame is read by four stages (postings,
    * probes, bitmap prune, verify), so it is cached for the run and
    * released by a [[graft.Cached.scope]] once the (small — O(result
    * pairs)) output is materialized via an eager `localCheckpoint`.
    * Callers that re-read the result ([[dropContained]] reads it three
    * times) get block reuse instead of re-running the prefix-join
    * pipeline; the checkpoint blocks release via the ContextCleaner when
    * the caller drops the result (same convention as
    * [[Clusters.connectedComponents]]).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleFn: Column => Column = tokenSet,
      bitmapWords: Int = 64): DataFrame =
    graft.Cached.scope(containmentPairsPlan(df, idCol, textCol, threshold,
      shingleFn, bitmapWords).localCheckpoint(true))

  /** The lazy containment plan (it caches the shingle frame and the
    * df-ranked token view) — split out so the plan-shape spec and
    * [[graft.Plans]] can pin the REAL physical plan (the public method's
    * executed plan is a checkpoint scan).
    */
  private[graft] def containmentPairsPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleFn: Column => Column = tokenSet,
      bitmapWords: Int = 64): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val sets = graft.Cached.persist(
      ensureParallelism(df.select(col(idCol), col(textCol)))
        .select(
          col(idCol).as("id"),
          array_sort(shingleFn(col(textCol))).as("sh"))
        .withColumn("nsh", size(col("sh")))
        .filter(col("nsh") > 0)
        .withColumn("bm",
          graft.functions.BitmapFunctions.gram_bitmap(col("sh"), bitmapWords)))

    val toks = sets.select(col("id"), col("nsh"),
      explode(col("sh")).as("shingle"))
    val docFreq = toks.groupBy("shingle").agg(count(lit(1)).as("df"))
    // rarest-first rank of each document's own shingles under ONE global
    // total order (ascending df, shingle breaking ties) — shared by the
    // probe side (prefix) and the posting side (positional filter), so it
    // is computed and persisted once.
    val ranked = graft.Cached.persist(toks
      .join(docFreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("df"), col("shingle"))))
      .select(col("id"), col("nsh"), col("shingle"), col("rk")))

    // Probe prefix length is |A| − ceil(t·|A|) + 1, NOT floor((1−t)·|A|)+1:
    // both are equal in exact arithmetic, but the latter under-counts by
    // one when (1−t)·|A| lands just below an integer in doubles (t=0.8,
    // |A|=10 gives 1.9999…), silently dropping pairs that sit exactly ON
    // the threshold. Deriving the prefix from the same `t·|A|` product the
    // verify filter compares against makes prune and verify agree at the
    // boundary by construction.
    val prefixLen = (col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
      .cast("int")
    val probes = ranked
      .filter(col("rk") <= prefixLen)
      .select(col("id").as("a"), col("nsh").as("nsh_a"), col("shingle"))

    val postings = ranked.select(col("id").as("b"), col("nsh").as("nsh_b"),
      col("shingle"), col("rk").as("rk_b"))
    val candidates = probes
      .join(postings, Seq("shingle"))
      .filter(col("a") =!= col("b") &&
        // |A∩B| <= |B|, so |B| < t·|A| can never reach the threshold
        col("nsh_b") >= lit(threshold) * col("nsh_a") &&
        // POSITIONAL prefix filter on the posting side (the AllPairs/
        // SSJoin pigeonhole, both-sides form): if |A∩B| ≥ o = ⌈t·|A|⌉,
        // the prefixes of length |A|−o+1 and |B|−o+1 under the SAME
        // global order must share an element — so a join row whose
        // shared shingle sits deeper than |B|−o+1 in B can be dropped
        // without losing the pair (some other row of the same pair
        // survives, or the pair provably misses the threshold). This is
        // a per-ROW prune that runs inside the join's output pipeline,
        // BEFORE the candidate-distinct shuffle — on a shared-text
        // corpus it is the difference between deduplicating every
        // probe×posting collision and deduplicating roughly the
        // prefix×prefix ones (measured 19.3M → 3.3M rows into the
        // distinct at sf0.1).
        col("rk_b") <=
          col("nsh_b") - ceil(lit(threshold) * col("nsh_a")) + 1)
      .select(col("a"), col("b"))
      .distinct()

    // Bitmap prune between candidates and the exact verify: the pruning
    // join ships words×8 bytes per side instead of the full shingle
    // arrays, and |A∩B| <= |A| − popcount(bm_a & ~bm_b) is an exact upper
    // bound ([[graft.functions.GramBitmap]]) — on a shared-template corpus
    // this is the difference between intersecting millions of candidate
    // pairs and intersecting roughly the true result set.
    val pruned = candidates
      .join(sets.select(col("id").as("a"), col("nsh").as("nsh_a"),
        col("bm").as("bm_a")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("bm").as("bm_b")), Seq("b"))
      .filter(col("nsh_a") -
        graft.functions.BitmapFunctions
          .bitmap_andnot_count(col("bm_a"), col("bm_b")) >=
        lit(threshold) * col("nsh_a"))
      .select(col("a"), col("b"))

    pruned
      .join(sets.select(col("id").as("a"), col("sh").as("sh_a"),
        col("nsh").as("nsh_a")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        col("nsh_a"))
      .filter(col("inter") >= lit(threshold) * col("nsh_a"))
      .select(
        col("a").as("id"),
        col("b").as("container_id"),
        (col("inter").cast("double") / col("nsh_a")).as("containment"))
  }

  /** Drop documents subsumed by another document. A document drops iff it
    * is contained in some document OUTSIDE its own mutual-containment
    * component (its content survives in that host), or it is a
    * non-minimum member of its component (a near-equal copy of the
    * member that survives). Components are the connected components of
    * the MUTUAL relation (A contained in B and B in A — near-equal
    * copies at the threshold); a pairwise keep-the-smaller-id rule is
    * NOT enough because mutual containment is not transitive below
    * threshold 1 — a chain (x~y, y~z mutual, plus a one-directional x⊆z
    * edge) dropped all three documents in an earlier revision, where
    * this rule keeps x.
    *
    * Guarantee: every mutual component whose minimum is not contained in
    * a document outside the component keeps exactly that minimum. A
    * CROSS-component containment cycle (possible only below threshold 1,
    * when two near-copy groups each contain a member of the other) can
    * still drop both groups — threshold-decayed transitivity has no
    * loss-free answer there, and erring toward dropping keeps the
    * operator's contract ("what remains is not subsumed") true.
    */
  def dropContained(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleFn: Column => Column = tokenSet): DataFrame = {
    // containmentPairs is checkpointed, so the reads below reuse it
    val pairs = containmentPairs(df, idCol, textCol, threshold, shingleFn)
      .select(col("id"), col("container_id"))
    val mutual = pairs.intersect(pairs.select(
      col("container_id").as("id"), col("id").as("container_id")))
    // mutual components; docs with no mutual partner are singletons
    // (component id = own id via the coalesce below). cluster_id IS the
    // component minimum by connectedComponents' construction.
    val comp =
      if (mutual.isEmpty) mutual.select(col("id"),
        col("id").as("cluster_id"))
      else Clusters.connectedComponents(mutual, "id", "container_id")
    val outside = pairs
      .join(comp.select(col("id"), col("cluster_id").as("comp_a")),
        Seq("id"), "left")
      .join(comp.select(col("id").as("container_id"),
        col("cluster_id").as("comp_b")), Seq("container_id"), "left")
      .filter(coalesce(col("comp_a"), col("id")) =!=
        coalesce(col("comp_b"), col("container_id")))
      .select(col("id"))
    val nonMin = comp.filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    val dropped = outside.unionByName(nonMin).distinct()
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}
