package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick the `k` raw-corpus documents whose hashed-n-gram
  * distribution looks most like a target corpus. The published recipe,
  * re-expressed as four Catalyst stages:
  *
  *   1. featurize: unigrams + bigrams of whitespace tokens, feature-hashed
  *      into `buckets` counts (the hash is the repo's PORTABLE md5 family,
  *      so an external engine can re-derive every bucket bit-for-bit);
  *   2. fit two bag-of-n-grams models: Laplace-smoothed bucket
  *      probabilities on the target sample and on the raw corpus;
  *   3. score: per-document importance weight
  *      log w(x) = Σ_grams [ln p_target(bucket) − ln p_raw(bucket)];
  *   4. resample: Gumbel top-k — argmax_k of (log w + g_i) with g_i
  *      standard Gumbel noise is a draw WITHOUT replacement from the
  *      softmax of the weights, which is exactly the paper's importance
  *      resampling. The noise here is deterministic (inverse-CDF of an
  *      md5-derived uniform), so the selected corpus is re-derivable
  *      months later — same posture as [[Curation.stratifiedSample]].
  *
  * Scale shape (the reason this fits a 100 TB raw corpus): the two model
  * fits reduce to `buckets`-row tables (map-side partial aggregation makes
  * the shuffle O(buckets × partitions), independent of corpus size); the
  * log-ratio table is broadcast, so scoring adds NO shuffle beyond one
  * map-side-combined per-document sum; and the final top-k is a
  * TakeOrdered, not a global sort. Nothing grows with the corpus except
  * the one linear scan every selection method must pay.
  *
  * Reference basis: the reference repo has no data-selection surface at
  * all (its processors stop at column hygiene —
  * etl_projects/base/processors/spark/spark_dataframe_service.py); this is
  * part of the LLM-training-pipeline extension the north star asks for.
  */
object Dsir {

  private val Mersenne60 = "%015x" // 15 hex chars = 60 bits, fits a Long

  /** (id, bucket) — one row per unigram AND bigram occurrence (with
    * multiplicity, as the generative bag-of-n-grams model requires),
    * feature-hashed into `[0, buckets)` via the portable
    * `md5(salt|gram)` → first 15 hex chars → mod. Documents with no
    * tokens contribute nothing.
    */
  def hashedGramBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      salt: String = "dsir"): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // the native kernel (functions.DsirGramBuckets) fuses tokenization
    // and hashing into one byte scan and emits all 2n−1 unigram + bigram
    // buckets per row with one reused digest — the composed-column
    // alternative (regex split + explode + concat + md5 + substring +
    // conv PER GRAM) pays a regex engine, a token-array materialization,
    // and string round-trips on the hottest path of the whole selection.
    // Whitespace-only rows yield an empty bucket array, which explode
    // drops.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(graft.functions.DsirHashFunctions
          .dsir_gram_buckets(col(textCol), buckets, salt)).as("bucket"))
  }

  /** `buckets`-row log-ratio table (bucket, lam): Laplace-smoothed
    * ln p_target − ln p_raw per bucket, each value snapped to the 1e-6
    * grid so the per-gram addends are cross-engine-identical (the repo's
    * floor(x·1e6 + 0.5)/1e6 convention — never `round`, whose HALF_UP
    * BigDecimal ties disagree with double math). Buckets unseen on either
    * side get the smoothed floor, not NULL — the spine is `range(buckets)`.
    */
  def logRatios(
      targetGrams: DataFrame,
      rawGrams: DataFrame,
      buckets: Int): DataFrame =
    logRatiosFromCounts(
      targetGrams.groupBy("bucket").agg(count(lit(1)).as("ct")),
      rawGrams.groupBy("bucket").agg(count(lit(1)).as("cr")),
      buckets)

  /** [[logRatios]] from pre-aggregated (bucket, ct) / (bucket, cr) count
    * tables — the shape [[select]] uses so the raw corpus is tokenized
    * exactly once.
    */
  private def logRatiosFromCounts(
      tC: DataFrame,
      rC: DataFrame,
      buckets: Int): DataFrame = {
    val spark = tC.sparkSession
    val spine = spark.range(buckets.toLong).select(col("id").as("bucket"))
    // the corpus gram totals are recovered as unbounded window sums over
    // the buckets-row spine itself (every gram lands in exactly one
    // bucket, so Σ ct over the spine = total target grams) — no scalar
    // crossJoin, whose 1-row BNLJ would trip the repo-wide no-cartesian
    // plan pin. The single-partition window is over `buckets` rows, not
    // data.
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val lam =
      log((col("ct") + 1).cast("double") /
        (sum(col("ct")).over(whole) + buckets).cast("double")) -
      log((col("cr") + 1).cast("double") /
        (sum(col("cr")).over(whole) + buckets).cast("double"))
    spine
      .join(broadcast(tC), Seq("bucket"), "left")
      .join(broadcast(rC), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .select(col("bucket"),
        (floor(lam * 1e6 + 0.5) / 1e6).as("lam"))
  }

  /** Deterministic standard-Gumbel noise for Gumbel top-k: inverse CDF
    * −ln(−ln(u)) of u = (md5-52-bit-int + 0.5) / 2^52 — u is an exact
    * double in (0, 1), so both halves of the oracle compute the identical
    * value.
    */
  private def gumbel(idCol: String, salt: String) = {
    val u = (conv(substring(
        md5(concat(lit(salt + "-g|"), col(idCol).cast("string"))), 1, 13),
        16, 10).cast("double") + 0.5) / 4503599627370496.0 // 2^52
    -log(-log(u))
  }

  /** The full DSIR selection: score every `raw` document against the
    * target model and keep the Gumbel-top-`k`. Returns
    * (idCol, rank, score) ordered by rank; `score` is the Gumbel-perturbed
    * importance weight snapped to the 1e-4 grid (ranking happens on the
    * snapped value with `idCol` as tiebreak, the cross-engine-stable
    * ordering the BM25/TF-IDF queries established).
    */
  def select(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 8192,
      k: Int = 500,
      salt: String = "dsir"): DataFrame = {
    // The raw corpus is read TWICE (model fit + scoring), and tokenize +
    // md5 is the dominant cost — so reduce it once to per-(doc, bucket)
    // counts (map-side partial agg collapses gram multiplicity before the
    // shuffle) and persist THAT compact frame: the bucket model is a
    // cheap re-aggregation of it and scoring multiplies counts into the
    // broadcast log-ratios, so the text is scanned exactly once.
    val rawCounts = graft.Cached.persist(
      hashedGramBuckets(raw, idCol, textCol, buckets, salt)
        .groupBy(col(idCol), col("bucket"))
        .agg(count(lit(1)).as("cnt")))
    val targetGrams = hashedGramBuckets(target, idCol, textCol, buckets, salt)
    val lam = logRatiosFromCounts(
      targetGrams.groupBy("bucket").agg(count(lit(1)).as("ct")),
      rawCounts.groupBy("bucket").agg(sum("cnt").as("cr")),
      buckets)
    val scored = rawCounts
      .join(broadcast(lam), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * col("lam")).as("_lw"))
      .select(col(idCol),
        (floor((col("_lw") + gumbel(idCol, salt)) * 1e4 + 0.5) / 1e4)
          .as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
    // rank the k survivors; the single-partition window is over k rows,
    // not the corpus — the global ordering above is a TakeOrdered.
    scored.withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }

  // ------------------------------------------- model artifact lifecycle

  /** Fit the DSIR model alone: the `buckets`-row (bucket, lam) log-ratio
    * table, the artifact a pipeline persists once and scores MANY raw
    * shards/snapshots against (the train-once/persist/serve cadence the
    * ANN stack established with its parquet-backed codebooks). Writing it
    * is just `fit(...).write.parquet(path)` — it is already a DataFrame
    * of two primitive columns, value-identical after a parquet round trip
    * (bigint bucket + a 1e-6-grid double).
    */
  def fit(
      target: DataFrame,
      raw: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 8192,
      salt: String = "dsir"): DataFrame =
    logRatios(
      hashedGramBuckets(target, idCol, textCol, buckets, salt),
      hashedGramBuckets(raw, idCol, textCol, buckets, salt),
      buckets)

  /** Per-document Gumbel-perturbed importance scores against a PRE-FIT
    * model: one tokenize scan (the fused kernel), the model broadcast,
    * one map-side-combined per-doc sum — stateless per input row set,
    * which is what lets s16 run it per micro-batch through
    * [[graft.streaming.EventStream.landingSink]] with no state store:
    * fit once per snapshot offline, score the incoming crawl
    * continuously. Returns (idCol, score) on the
    * 1e-4 grid; `buckets` and `salt` must match the fit.
    */
  def scoreWithModel(
      raw: DataFrame,
      lam: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 8192,
      salt: String = "dsir"): DataFrame =
    hashedGramBuckets(raw, idCol, textCol, buckets, salt)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(lam), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * col("lam")).as("_lw"))
      .select(col(idCol),
        (floor((col("_lw") + gumbel(idCol, salt)) * 1e4 + 0.5) / 1e4)
          .as("score"))

  /** Score + Gumbel-top-`k` against a PRE-FIT model (the serving half of
    * [[select]]): [[scoreWithModel]] + a TakeOrdered. Same output
    * contract as [[select]]; `buckets` and `salt` must match the fit.
    */
  def selectWithModel(
      raw: DataFrame,
      lam: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 8192,
      k: Int = 500,
      salt: String = "dsir"): DataFrame = {
    val scored = scoreWithModel(raw, lam, idCol, textCol, buckets, salt)
      .orderBy(desc("score"), col(idCol))
      .limit(k)
    scored.withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }
}
