package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character n-gram language model for perplexity-based corpus quality
  * filtering — the CCNet/Wikipedia-LM filtering pattern: train a small LM
  * on a trusted corpus, score every candidate document by its average
  * negative log-likelihood, and drop the tail. A character model (rather
  * than word) keeps the vocabulary bounded by alphabet^n regardless of
  * corpus size, so the trained model is always broadcastable.
  *
  * Reference scope: the reference ships no scoring of any kind (its text
  * path ends at JSON flattening, spark_dataframe_service.py:111-146); this
  * is part of the LLM-training-data extension surface alongside
  * [[TextAnalysis.qualityScore]] — quality heuristics catch structural
  * junk, the LM catches *out-of-distribution* text (wrong language,
  * binary-ish noise, keyword stuffing) that satisfies every heuristic.
  *
  * Probability model (add-k smoothed, order-n):
  * {{{
  *   P(gram) = (count(gram) + k) / (count(context) + k * alphabetSize)
  * }}}
  * where `context` is the gram's first n-1 characters and context counts
  * are derived from the gram counts themselves (sum over the last
  * character), so the persisted model is ONE table: `(gram, cnt)`. A gram
  * absent from the model scores `k / (ctx + k*alphabetSize)`; a context
  * absent entirely backs off to the uniform `1/alphabetSize`.
  *
  * 100 TB design: training is one narrow explode → one hash aggregation
  * with map-side partial counts (the post-shuffle key space is the
  * VOCABULARY, bounded by alphabet^n, not the corpus); the optional vocab
  * cap is a TakeOrdered over that bounded set. Scoring broadcasts the
  * model (O(vocab)) and its derived context table (O(vocab)) into
  * map-side joins, then folds per-document — the corpus itself never
  * shuffles at full width; only (id, gram) pairs flow, and the per-doc
  * aggregation is partial-agg friendly. No driver collect anywhere.
  */
object LanguageModel {

  /** Train gram counts: `(gram string, cnt long)`. `minCount` prunes the
    * long tail (smoothing covers the pruned mass); `maxVocab` keeps the
    * most frequent grams with a deterministic (cnt desc, gram asc)
    * tie-break so a capped model is reproducible run-to-run.
    */
  def train(
      docs: DataFrame,
      textCol: Column,
      n: Int = 3,
      minCount: Long = 1L,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    require(n >= 2, s"order-$n model has no context; need n >= 2")
    val counts = docs
      .select(explode(Shingles.charNGramsAll(textCol, n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    if (maxVocab == Int.MaxValue) counts
    else counts.orderBy(col("cnt").desc, col("gram")).limit(maxVocab)
  }

  /** Context counts derived from a trained model: `(ctx string, ctx_cnt
    * long)` — the first n-1 chars of each gram, counts summed. Derived,
    * not stored: the model stays a single table and the two can never
    * disagree.
    */
  def contextCounts(model: DataFrame, n: Int): DataFrame =
    model.groupBy(substring(col("gram"), 1, n - 1).as("ctx"))
      .agg(sum("cnt").as("ctx_cnt"))

  /** Score each document: `(idCols..., n_grams long, avg_nll double,
    * ppl double)`. Documents shorter than `n` characters produce no grams
    * and are absent from the result (callers wanting them back join on the
    * input; an "unscoreable" row has no meaningful perplexity).
    *
    * Both joins broadcast the O(vocab) model side; grams missing from the
    * model fall back to count 0 (add-k smoothing keeps p > 0).
    */
  def score(
      docs: DataFrame,
      idCols: Seq[String],
      textCol: Column,
      model: DataFrame,
      n: Int = 3,
      addK: Double = 0.5,
      alphabetSize: Int = 64): DataFrame = {
    require(addK > 0, "addK must be positive (zero breaks unseen grams)")
    require(alphabetSize > 1, "alphabetSize must exceed 1")
    val ids = idCols.map(col)
    val grams = docs.select(ids :+
      explode(Shingles.charNGramsAll(textCol, n)).as("gram"): _*)
    val ctx = contextCounts(model, n)
    val nll = -log(
      (coalesce(col("cnt"), lit(0L)) + addK) /
        (coalesce(col("ctx_cnt"), lit(0L)) + addK * alphabetSize))
    grams
      .join(broadcast(model), Seq("gram"), "left")
      .join(broadcast(ctx),
        substring(col("gram"), 1, n - 1) === ctx("ctx"), "left")
      .groupBy(ids: _*)
      .agg(
        count(lit(1)).as("n_grams"),
        avg(nll).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** CCNet-style per-language quality tiers (Wenzek et al., LREC 2020,
    * §3: "we divide each language's documents into head/middle/tail by
    * perplexity terciles"): rank every scoreable document by its LM
    * average NLL WITHIN its language and cut into `buckets`
    * equal-frequency tiers — tier "head" (bucket 1, lowest perplexity)
    * is the slice the published pipeline keeps outright, the tail is
    * dropped or down-weighted. The rank runs on the 1e-4-grid avg_nll
    * with the id as tiebreak, and ntile's fill is the SQL-standard
    * ceil/floor split in both Spark and DuckDB — so the tier labels are
    * engine-exact, not approximately so.
    *
    * Scale shape: scoring is [[score]]'s broadcast-model projection (the
    * corpus text never shuffles); what the window ranks is the NARROW
    * (id, lang, n_grams, avg_nll) frame, shuffled once per language
    * partition. At 100 TB that frame is bytes per document — the same
    * class as the dedup stacks' ids-only shuffles. Languages are the
    * window partitions, so skew follows the corpus's language mix; the
    * dominant language's partition is a sort over narrow rows, and
    * CCNet's own cadence (per-snapshot batch job) matches.
    *
    * Output: `(idCol, langCol, n_grams, avg_nll, bucket, tier)`; tier is
    * head/middle/tail at buckets = 3, `b<k>` otherwise. Documents shorter
    * than `n` chars are absent ([[score]]'s contract).
    */
  def perplexityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: Column,
      langCol: String,
      model: DataFrame,
      n: Int = 3,
      addK: Double = 0.5,
      alphabetSize: Int = 64,
      buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    import org.apache.spark.sql.expressions.Window
    val scored = score(docs, Seq(idCol, langCol), textCol, model,
        n, addK, alphabetSize)
      .withColumn("avg_nll", floor(col("avg_nll") * 1e4 + 0.5) / 1e4)
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_nll"), col(idCol))
    val withBucket = scored.withColumn("bucket", ntile(buckets).over(w))
    val tier =
      if (buckets == 3)
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail")
      else concat(lit("b"), col("bucket"))
    withBucket
      .withColumn("tier", tier)
      .select(col(idCol), col(langCol), col("n_grams"), col("avg_nll"),
        col("bucket"), col("tier"))
  }

  /** The filter: keep documents whose model perplexity is at most
    * `maxPpl`. Self-trained or cross-trained — pass the same frame as
    * `docs` and the training corpus for the usual "train on trusted, score
    * the crawl" split.
    */
  def filterByPerplexity(
      docs: DataFrame,
      idCols: Seq[String],
      textCol: Column,
      model: DataFrame,
      maxPpl: Double,
      n: Int = 3,
      addK: Double = 0.5,
      alphabetSize: Int = 64): DataFrame = {
    val kept = score(docs, idCols, textCol, model, n, addK, alphabetSize)
      .filter(col("ppl") <= maxPpl)
      .select(idCols.map(col): _*)
    docs.join(kept, idCols, "left_semi")
  }

  /** Persist / reload a trained model — the vocabulary trains once per
    * corpus snapshot and every later scoring run reloads it.
    */
  def save(model: DataFrame, path: String): Unit =
    model.write.mode("overwrite").parquet(path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.Parquet.read(spark, path)
}
