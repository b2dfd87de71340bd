package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs after cleaning
  * and dedup (SURVEY.md §7.5 adjacents): deterministic stratified sampling
  * and token-budget sequence packing. Both are pure Catalyst compositions
  * designed around one rule — nothing in them serializes onto a single
  * task at 100 TB.
  */
object Curation {

  // ------------------------------------------------- stratified sampling

  /** 8-hex-char keep-threshold for fraction `f`: a 32-bit hash value x is
    * kept iff x < ceil(f·2^32), and since equal-length lowercase hex
    * preserves integer order, that is exactly `hex8(x) < hex8(threshold)`
    * — a pure STRING comparison both Spark and any oracle engine evaluate
    * identically (no hex-to-int parsing differences). f ≥ 1 returns "g",
    * which sorts after every hex digit (keep all).
    */
  private[ext] def keepThresholdHex(f: Double): String = {
    require(f >= 0.0 && f <= 1.0, s"fraction out of [0,1]: $f")
    val t = math.ceil(f * 4294967296.0).toLong
    if (t >= 4294967296L) "g" else f"$t%08x"
  }

  /** Deterministic stratified sample: keeps a row iff the first 8 hex
    * chars of `md5(id || salt)` sort below the stratum's
    * [[keepThresholdHex]]. A pure projection + filter — no shuffle, no RNG
    * state, same sample on every engine, run, and cluster layout (unlike
    * `rand(seed)`, whose stream is row-order-dependent, or `sampleBy`,
    * which is seed-and-partitioning-sensitive); rows in strata absent from
    * `fractions` are dropped (fraction 0). The reproducibility is the
    * point: a training-corpus sample must be re-derivable bit-for-bit
    * months later.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      fractions: Map[String, Double],
      salt: String = ""): DataFrame = {
    require(fractions.nonEmpty, "stratifiedSample: empty fractions map")
    // small literal CASE chain (strata are few); deterministic order
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit("00000000")) { case (acc, (k, f)) =>
        when(col(stratumCol) === k, keepThresholdHex(f)).otherwise(acc)
      }
    df.filter(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
        < threshold)
  }

  /** Deterministic WEIGHTED Bernoulli thinning: keep each row with
    * probability `weight / capWeight` (rows at or above `capWeight`
    * always kept, non-positive weights always dropped) — the
    * quality-weighted corpus downsampling shape, where `weight` is a
    * quality/importance score and high-quality documents survive at full
    * rate while low-quality ones are thinned proportionally.
    *
    * Like [[stratifiedSample]], membership is a pure function of
    * `(id, salt, weight)`: the keep test is
    * `u * capWeight < min(weight, capWeight) * 2^20` with `u` the first
    * 20 bits of `md5(id || salt)` — ALL-INTEGER arithmetic (no float
    * division anywhere), so the q56 oracle reproduces the exact row set
    * on any engine. A projection + filter; no shuffle, no RNG state.
    * Probability resolution is 2^-20 (~1e-6).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      capWeight: Long,
      salt: String = ""): DataFrame = {
    require(capWeight > 0 && capWeight <= (1L << 40),
      s"capWeight out of (0, 2^40]: $capWeight")
    val u = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5),
      16, 10).cast("long")
    val w = least(col(weightCol).cast("long"), lit(capWeight))
    df.filter(u * capWeight < w * 1048576L)
  }

  /** Corpus-level boilerplate line removal (the CCNet/Dolma line-dedup
    * step): a line appearing in more than `maxDocsPerLine` DISTINCT
    * documents is template text (nav bars, footers, cookie banners), not
    * content — drop every occurrence and reassemble each document with
    * its remaining lines in original order. The within-document
    * complement is [[TextAnalysis.cleanLines]].
    *
    * Scale shape: one posexplode (row-local), one mergeable
    * distinct-count to find the stop lines (tiny by construction — only
    * template text crosses the threshold), a broadcast anti-join, and
    * one reassembly aggregation keyed by document (per-doc state = the
    * document's own lines). The exploded lines frame is persisted across
    * its two references (stop-list + anti-join), same contract as the
    * fingerprint path. Output: `(idCol, clean, n_lines_kept,
    * n_lines_dropped)` — documents whose every line was boilerplate come
    * back with an empty `clean`.
    */
  def dropBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocsPerLine: Int): DataFrame = {
    require(maxDocsPerLine >= 1,
      s"maxDocsPerLine must be >= 1: $maxDocsPerLine")
    // Cached: referenced by the stop-list aggregation AND the kept-
    // lines join — without it the corpus re-explodes per reference.
    val lines = graft.Cached.persist(df
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("_idx", "_line"))))
    val stop = lines.groupBy("_line")
      .agg(count_distinct(col("_id")).as("_nd"))
      .filter(col("_nd") > maxDocsPerLine).select("_line")
    val kept = lines.join(broadcast(stop), Seq("_line"), "left_anti")
      .groupBy("_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_idx"), col("_line")))),
            s => s.getField("_line")),
          "\n").as("clean"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol),
      size(split(col(textCol), "\n")).cast("long").as("_total"))
      .join(kept, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("clean"), lit("")).as("clean"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("_total") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_dropped"))
  }

  /** Deterministic multi-way split assignment (train/val/test): every row
    * gets a `split` label decided by where its `md5(id || salt)` prefix
    * falls among the cumulative weight thresholds — the same
    * string-comparable hex arithmetic as [[stratifiedSample]], so the
    * partition is disjoint, exhaustive, re-derivable bit-for-bit on any
    * engine, and STABLE as the corpus grows (a row's split never changes
    * when other rows arrive — the property random splits lack).
    *
    * Pass a GROUP key as `idCol` (domain, author, dedup-cluster
    * canonical id) to put whole groups on one side of the split — the
    * standard leakage guard: near-duplicate documents of one page must
    * not straddle train and test. A pure projection; no shuffle.
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: String = ""): DataFrame = {
    require(splits.size >= 2, "assignSplit: need at least two splits")
    require(splits.forall(_._2 > 0), s"assignSplit: non-positive weight")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"assignSplit: weights sum to $total, expected 1.0")
    val u = substring(
      md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
    val cums = splits.init
      .scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val chain = splits.init.zip(cums).tail.foldLeft(
      when(u < keepThresholdHex(cums.head), splits.head._1)) {
      case (acc, ((name, _), c)) => acc.when(u < keepThresholdHex(c), name)
    }
    df.withColumn("split", chain.otherwise(splits.last._1))
  }

  /** LEAKAGE-SAFE split: [[assignSplit]] keyed by the near-duplicate
    * CLUSTER instead of the document — the guard its scaladoc recommends,
    * packaged as one operator. Near-duplicate documents straddling train
    * and eval silently inflate benchmark scores (the eval answer was in
    * the training set, just reworded); here every connected component of
    * the pair graph ([[Clusters.connectedComponents]] over `pairs` —
    * produce them with any [[Dedup]] method) receives ONE split decision,
    * made by the md5-hex coin on its canonical min-id label, and every
    * member inherits it. Unpaired documents are their own singleton group,
    * so the output is still a disjoint exhaustive partition of `df`,
    * stable as the corpus grows.
    *
    * Scale shape: components cost O(|pairs| log² n) (star contraction);
    * attaching them is one equi-join of the corpus against the O(paired
    * docs) component table; the split itself stays a pure projection.
    * Output: every `df` column plus `split`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)],
      pairACol: String = "id_a",
      pairBCol: String = "id_b",
      salt: String = ""): DataFrame =
    leakageSafeSplitByComponents(df, idCol,
      Clusters.connectedComponents(pairs, pairACol, pairBCol), splits, salt)

  /** [[leakageSafeSplit]] from PRECOMPUTED components `(id, cluster_id)` —
    * the form to use when the component table already exists (persisted
    * from a prior dedup pass) or is cheaper to compute at group level
    * ([[Dedup.nearDuplicateComponents]]): the coin logic is identical, so
    * the split labels are bit-for-bit the same for an equal clustering.
    */
  def leakageSafeSplitByComponents(
      df: DataFrame,
      idCol: String,
      components: DataFrame,
      splits: Seq[(String, Double)],
      salt: String = ""): DataFrame = {
    val cc = components
      .select(col("id").as(idCol), col("cluster_id").as("_grp"))
    val grouped = df
      .join(cc, Seq(idCol), "left")
      .withColumn("_grp", coalesce(col("_grp"), col(idCol)))
    assignSplit(grouped, "_grp", splits, salt).drop("_grp")
  }

  /** Temperature-based mixture rebalancing (the mT5/XLM-R resampling
    * rule): source `i` holding share `p_i` of the corpus is re-weighted to
    * `p_i^alpha`, flattening the mixture as `alpha → 0` so low-resource
    * sources stop drowning under the head domains. Realized purely by
    * DOWNsampling — per-source keep rate `(n_i / n_min)^(alpha−1)`, which
    * keeps the smallest source at 100% and thins every larger one so the
    * surviving shares are proportional to `p_i^alpha` — no row is ever
    * duplicated (upsampling is the trainer's job; an engine that silently
    * repeats rows corrupts dedup guarantees downstream).
    *
    * Membership is a pure function of `(id, salt)` via the same
    * md5-threshold rule as [[weightedSample]]: re-derivable bit-for-bit
    * on any engine. Rates are rounded to 1e-6 (floor form) so the pow()
    * is engine-stable. Plan: one O(sources) grouped count, rates
    * broadcast back, then a projection + filter — the corpus itself
    * never shuffles.
    */
  def temperatureSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      alpha: Double,
      salt: String = ""): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha out of (0, 1]: $alpha")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
    val nmin = counts.agg(min("_n").as("_nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(sourceCol),
        (floor(pow(col("_n").cast("double") / col("_nmin"), alpha - 1.0)
          * 1e6 + 0.5) / 1e6).as("_rate"))
    val u = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5),
      16, 10).cast("long")
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(u < floor(col("_rate") * 1048576L).cast("long"))
      .drop("_rate")
  }

  /** UniMax language sampling (Chung et al., ICLR 2023, "UniMax: Fairer
    * and More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", Algorithm 1): allocate a total character budget
    * across languages by waterfilling — visit languages smallest-first;
    * each takes `min(fair share of the remaining budget, epochCap × its
    * own size)`. Low-resource languages are repeated up to `epochCap`
    * epochs, never more (the temperature-sampling failure mode UniMax
    * removes: no language is memorized through dozens of epochs), and
    * the freed budget flows to the head languages.
    *
    * The sequential loop has a closed form this implementation (and its
    * SQL oracle twin) computes instead: in ascending size order the
    * capped languages form a PREFIX — once a language's fair share binds
    * (`b = u`), the share stays constant for everyone after it — so
    * `b_l = epochCap · c_l` for the longest prefix where
    * `epochCap · c_l ≤ (B − epochCap · cum0_l) / L_remaining`, and every
    * later language gets the equal share
    * `(B − epochCap · Σ_prefix c) / (L − prefix)`.
    *
    * Every allocation is computed in EXACT integer rational arithmetic
    * (`BigInt`): the cap is carried as the rational `capN/1e6`, each
    * `b_l` as a `num/den` pair, and the grid snaps are integer
    * round-half-up (`⌊(2·num·g + den) / (2·den)⌋`), so no double ever
    * feeds a compare column and the SQL oracle twin (HUGEINT `//`
    * arithmetic) reproduces the integers bit-for-bit on any engine —
    * a double-grid boundary cannot flip across environments (the round
    * 12 q99 lesson).
    *
    * `budgetFraction` sets `B = ⌊totalChars · budgetFraction⌋` — the
    * budget scales with the corpus, so one declaration is meaningful at
    * every SF. Output, one row per language:
    * `(langCol, n_docs, chars, alloc, epochs, p, n_virtual,
    * alloc_micro, epochs_micro, p_nano)` — the `_micro`/`_nano` columns
    * are the exact integers (BIGINT, 1e-6 / 1e-9 grids) and the doubles
    * are derived FROM them (`alloc = alloc_micro / 1e6`, …);
    * `epochs = alloc / chars`, `p = alloc / B`, and `n_virtual` the
    * materialized-corpus row count: `⌊epochs⌋` full copies of every
    * document plus one more decided by the md5 coin at the fractional
    * epoch (the repo's deterministic sampler contract; [[unimaxSample]]
    * materializes exactly those rows from `epochs_micro`).
    *
    * Scale shape: one narrow aggregation to O(languages) rows, the
    * waterfilling on the driver at O(languages) (the bounded-model-state
    * exception), and one ids-only corpus pass for `n_virtual` with the
    * allocation broadcast.
    */
  def unimaxAllocation(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      epochCap: Double = 2.0,
      budgetFraction: Double = 0.5,
      salt: String = "unimax"): DataFrame = {
    require(epochCap > 0, s"epochCap must be positive: $epochCap")
    require(budgetFraction > 0, s"budgetFraction must be positive")
    val spark = docs.sparkSession

    val collected = graft.Driver.collect(docs.groupBy(col(langCol))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col(textCol))), lit(0L)).as("chars")),
      graft.Driver.MaxRows, "Curation.unimaxAllocation (Driver.MaxRows)")
    require(!collected.exists(_.isNullAt(0)),
      "unimaxAllocation: null language values — fill or filter them first")
    val sizes = collected
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1)) // ascending size, language tiebreak
    val nLang = sizes.length
    // exact rationals from here down: cap = capN/capD, budget an
    // integer (⌊tc·frac⌋ — exact while 2·tc·frac < 2^53, which holds
    // far past 100 TB of characters), every b_l a num/den pair
    val capD = BigInt(1000000)
    val capN = BigInt(math.round(epochCap * 1e6))
    val totalChars = sizes.map(_._3).sum
    val budget = (BigDecimal(totalChars) * BigDecimal(budgetFraction))
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toBigInt
    require(budget > 0,
      s"unimaxAllocation: zero character budget (totalChars=$totalChars)")

    // longest capped prefix: epochCap·c must fit under the running fair
    // share computed AS IF every earlier language was capped (valid —
    // capping is a prefix property in ascending order). All-integer
    // form of  capN·c/capD ≤ (B − capN·cum0/capD)/(L−i).
    var cum0 = BigInt(0)
    var m = 0
    var broken = false
    for (((_, _, c), i) <- sizes.zipWithIndex if !broken) {
      if (capN * c * (nLang - i) <= budget * capD - capN * cum0) {
        m = i + 1; cum0 += c
      } else broken = true
    }
    val shareNum = budget * capD - capN * cum0
    val shareDen = capD * BigInt(math.max(nLang - m, 1))

    // integer round-half-up of (num/den)·g — exact for positive inputs
    def gridHalfUp(num: BigInt, den: BigInt, g: Long): BigInt =
      (num * g * 2 + den) / (den * 2)

    val rows = sizes.zipWithIndex.map { case ((lang, nd, c), i) =>
      val (num, den) =
        if (i < m) (capN * c, capD) else (shareNum, shareDen)
      val allocMicro = gridHalfUp(num, den, 1000000L)
      val epochsMicro =
        if (c == 0L) BigInt(0) else gridHalfUp(num, den * c, 1000000L)
      val pNano = gridHalfUp(num, den * budget, 1000000000L)
      val k = epochsMicro / 1000000L
      val thr = (epochsMicro % 1000000L) * 1048576L / 1000000L
      org.apache.spark.sql.Row(lang, nd, c,
        allocMicro.toDouble / 1e6, epochsMicro.toDouble / 1e6,
        pNano.toDouble / 1e9,
        allocMicro.toLong, epochsMicro.toLong, pNano.toLong,
        k.toLong, thr.toLong)
    }
    val lf = org.apache.spark.sql.types.LongType
    val df = org.apache.spark.sql.types.DoubleType
    val allocDF = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(langCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_docs", lf),
        org.apache.spark.sql.types.StructField("chars", lf),
        org.apache.spark.sql.types.StructField("alloc", df),
        org.apache.spark.sql.types.StructField("epochs", df),
        org.apache.spark.sql.types.StructField("p", df),
        org.apache.spark.sql.types.StructField("alloc_micro", lf),
        org.apache.spark.sql.types.StructField("epochs_micro", lf),
        org.apache.spark.sql.types.StructField("p_nano", lf),
        org.apache.spark.sql.types.StructField("_k", lf),
        org.apache.spark.sql.types.StructField("_thr", lf))))

    // one ids-only corpus pass: full copies + the fractional-epoch coin
    val coin = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5), 16, 10)
      .cast("long")
    val virt = docs
      .join(broadcast(allocDF.select(col(langCol), col("_k"), col("_thr"))),
        Seq(langCol))
      .select(col(langCol),
        (col("_k") + when(coin < col("_thr"), 1L).otherwise(0L)).as("_c"))
      .groupBy(col(langCol))
      .agg(sum("_c").as("n_virtual"))
    allocDF
      .join(virt, Seq(langCol), "left")
      .select(col(langCol), col("n_docs"), col("chars"), col("alloc"),
        col("epochs"), col("p"),
        coalesce(col("n_virtual"), lit(0L)).as("n_virtual"),
        col("alloc_micro"), col("epochs_micro"), col("p_nano"))
  }

  /** Materialize the UniMax corpus: each document repeated
    * `⌊epochs⌋` times plus one more when the md5 coin lands under the
    * fractional epoch — exactly the rows [[unimaxAllocation]]'s
    * `n_virtual` counts (spec-pinned). Output adds an `epoch` index
    * (1-based) to the full document payload; downstream shuffles see
    * repeated docs as distinct rows, which is the paper's semantics
    * (the corpus is trained for that many epochs).
    */
  def unimaxSample(
      docs: DataFrame,
      idCol: String,
      langCol: String,
      allocation: DataFrame,
      salt: String = "unimax"): DataFrame = {
    val coin = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5), 16, 10)
      .cast("long")
    // integer `div` keeps the copy counts exactly on unimaxAllocation's
    // epochs_micro grid — no double round-trip
    val rates = allocation.select(col(langCol), col("epochs_micro"))
      .withColumn("_k", expr("epochs_micro div 1000000"))
      .withColumn("_thr",
        expr("((epochs_micro % 1000000) * 1048576) div 1000000"))
      .drop("epochs_micro")
    docs
      .join(broadcast(rates), Seq(langCol))
      .withColumn("_copies",
        col("_k") + when(coin < col("_thr"), 1L).otherwise(0L))
      .filter(col("_copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(1L), col("_copies"))))
      .drop("_k", "_thr", "_copies")
  }

  /** Ordered per-entity event history, the training-sequence assembly
    * step (conversation building, behavioral-sequence features): each
    * key's events collected, sorted by the struct's leading fields, and
    * truncated to the first `maxLen`. Output: `(key, n_events, seq)` with
    * `n_events` the UNtruncated count, so downstream can tell "short
    * history" from "clipped history".
    *
    * One shuffle on the key; per-key state is the entity's own history —
    * the same boundedness contract as sessionization. Order fields must
    * make the sort total (lead with a formatted timestamp, tie-break on a
    * unique id) or the assembled sequence is nondeterministic.
    */
  def assembleSequences(
      df: DataFrame,
      keyCol: String,
      event: Column,
      maxLen: Int): DataFrame = {
    require(maxLen >= 1, s"assembleSequences: maxLen must be >= 1: $maxLen")
    df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_events"),
      slice(array_sort(collect_list(event)), 1, maxLen).as("seq"))
  }

  /** Deterministic negative sampling for contrastive training: `k`
    * pseudo-random partners per anchor, drawn uniformly from the corpus
    * by pure hash arithmetic — `neg_gid = md5₄₈(anchor:j:salt) mod N`,
    * bumped by one (mod N) when it lands on the anchor itself. Like the
    * other samplers here, membership is a pure function of
    * `(anchor, j, salt, corpus order)`: re-derivable bit-for-bit on any
    * engine (the q61 oracle recomputes every pick), and stable across
    * runs so a training set's negatives don't silently churn.
    *
    * 100 TB shape: dense ids come from [[graft.ops.Ids.withGlobalIds]]
    * (range shuffle + per-partition offsets, no single-task window); the
    * picks are a projection + explode; partners attach by ONE equi-join
    * on the dense id. Collisions among an anchor's `k` picks are allowed
    * (uniform-with-replacement semantics, the standard in-batch-negative
    * trade); anchors never pair with themselves.
    *
    * Output: `(anchor_id, neg_idx 1..k, negative_id)`.
    */
  def negativeSample(
      df: DataFrame,
      idCol: String,
      k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1 && k <= 1024, s"negativeSample: k out of 1..1024: $k")
    val withGid = graft.ops.Ids.withGlobalIds(
      df.select(col(idCol)), Seq(col(idCol)))
    val n = withGid.agg((max(col("gid")) + 1L).as("n"))
    withGid.crossJoin(broadcast(n))
      .select(col(idCol).as("anchor_id"), col("gid"), col("n"),
        explode(array((1 to k).map(lit): _*)).as("neg_idx"))
      .withColumn("_h", conv(substring(md5(concat(
        col("anchor_id").cast("string"), lit(":"),
        col("neg_idx").cast("string"), lit(":"), lit(salt))), 1, 12),
        16, 10).cast("long") % col("n"))
      .withColumn("_ng",
        when(col("_h") === col("gid"), (col("_h") + 1L) % col("n"))
          .otherwise(col("_h")))
      .join(withGid.select(col("gid").as("_ng"),
        col(idCol).as("negative_id")), Seq("_ng"))
      .select(col("anchor_id"), col("neg_idx").cast("int").as("neg_idx"),
        col("negative_id"))
  }

  // --------------------------------------------- token-budget bin packing

  /** Greedy sequence packing for pre-training batches: documents in
    * `idCol` order are packed into consecutive bins of ~`budgetTokens`
    * whitespace tokens — bin id = floor(exclusive-prefix-tokens / budget),
    * so a bin closes once its running total reaches the budget (the last
    * document may straddle the boundary, the standard greedy trade).
    *
    * The global running sum is computed as a DISTRIBUTED two-phase scan,
    * not one unpartitioned window (which would serialize the corpus into a
    * single task): range-partition by id, per-partition running sums in
    * parallel, then one tiny pass over the O(partitions) per-partition
    * totals yields each partition's global offset (same carry shape as
    * [[graft.ops.AsofJoin.asofSalted]]). Bin ids depend only on the global
    * id order — NOT on where partition boundaries land — so the output is
    * deterministic for any partition count. `idCol` must be unique (a
    * duplicate id would make the running order, and thus bins, ambiguous).
    *
    * Output: `(id, n_tokens, bin)`.
    */
  def packTokenBudget(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "packTokenBudget: budget must be positive")
    val base = df.select(
      col(idCol).as("id"),
      TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long")
        .as("n_tokens"))
      .repartitionByRange(col("id"))
      .withColumn("_p", spark_partition_id())

    val localW = Window.partitionBy("_p").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("_cum", sum("n_tokens").over(localW))

    // O(partitions) rows: each partition's token total, then the running
    // offset over strictly preceding partitions
    val offW = Window.orderBy("_p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("_p").agg(max("_cum").as("_total"))
      .withColumn("_off", coalesce(sum("_total").over(offW), lit(0L)))
      .select("_p", "_off")

    // integer DIV, not floor(double /): the exclusive prefix is a
    // non-negative long, so `div` is exact at any corpus size — a double
    // quotient would lose ulps once prefixes pass 2^53 tokens
    local.join(broadcast(offsets), Seq("_p"))
      .select(
        col("id"),
        col("n_tokens"),
        expr(s"(_off + _cum - n_tokens) DIV $budgetTokens")
          .cast("long").as("bin"))
  }

  // ------------------------------------------- eval-set contamination

  /** Benchmark-contamination detection: flag corpus documents sharing any
    * word `n`-gram with a held-out eval set — the decontamination step
    * every training-data pipeline runs before a corpus ships (n = 13 is
    * the community-standard window for exact-substring contamination).
    *
    * Returns one row per contaminated document:
    * `(idCol, n_hit_ngrams, n_eval_docs)` — how many distinct n-grams of
    * the document appear anywhere in the eval set, and how many distinct
    * eval documents it collides with. Clean documents are absent; callers
    * drop them with a left-anti join on the result.
    *
    * Scale shape: both sides reduce to DISTINCT n-grams ([[Shingles]]
    * expressions — no UDFs), and the corpus meets the eval set in an
    * equi-join on the gram. Eval sets are small by nature, so the default
    * broadcasts the eval grams: the corpus then never shuffles at all
    * until the final narrow `(id, gram-hit)` aggregation, whose map-side
    * partial collapses to one row per (doc, gram). With
    * `broadcastEval = false` the join shuffles both sides on the gram —
    * the right plan if the "eval set" is itself corpus-scale (e.g.
    * cross-corpus contamination).
    */
  def contamination(
      docs: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
      n: Int = 13,
      broadcastEval: Boolean = true): DataFrame = {
    // a small-file corpus scan can collapse to one split; the gram explode
    // is the CPU-heavy stage, so spread it across the executors first
    val corpusGrams = Dedup.ensureParallelism(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(Shingles.wordNGrams(col(textCol), n)).as("_gram"))
    val evalGrams0 = evalDocs.select(
      col(evalIdCol).as("_eval_id"),
      explode(Shingles.wordNGrams(col(evalTextCol), n)).as("_gram"))
    val evalGrams = if (broadcastEval) broadcast(evalGrams0) else evalGrams0
    corpusGrams.join(evalGrams, "_gram")
      .groupBy(col(idCol))
      .agg(
        countDistinct(col("_gram")).as("n_hit_ngrams"),
        countDistinct(col("_eval_id")).as("n_eval_docs"))
  }

  /** EXACT-substring eval-set contamination — the third member of the
    * decontamination family next to the 13-gram overlap
    * ([[contamination]]) and the embedding check
    * ([[semanticContaminationReport]]): a corpus document is flagged
    * when any eval item's opening `probeLen` characters appear in it
    * VERBATIM — the exact-match scrub benchmark suites publish (a
    * question string quoted wholesale in a crawl page defeats n-gram
    * thresholds tuned for paraphrase and embedding thresholds tuned for
    * topic).
    *
    * Output per corpus row: `(idCol, n_eval_hits, contaminated)` —
    * how many eval probes (duplicates counted separately) the document
    * contains. Eval items shorter than `probeLen` characters carry no
    * probe.
    *
    * 100 TB shape: the probes are DRIVER-collected (the bounded-eval
    * contract, now ENFORCED by `maxProbes` — an unbounded eval relation
    * fails loudly instead of silently materializing on the driver) and
    * ride a single Aho-Corasick automaton carried as an expression
    * reference object ([[graft.functions.MultiPatternHits]]): the check
    * is row-local — no join, no shuffle, no corpus × eval nested-loop
    * join — and one O(doclen) scan per document REGARDLESS of probe
    * count. The earlier array-literal form scanned O(probes × doclen)
    * per row and embedded the whole probe set in the generated code,
    * which breaks codegen around 10⁴ probes; a real multi-benchmark
    * eval suite is exactly that size.
    */
  def exactContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      evalTextCol: String,
      probeLen: Int = 16,
      maxProbes: Int = 1000000): DataFrame = {
    require(probeLen >= 1, s"probeLen must be >= 1: $probeLen")
    val probes: Seq[String] = graft.Driver.collect(evalSet
        .filter(col(evalTextCol).isNotNull &&
          length(col(evalTextCol)) >= probeLen)
        .select(substring(col(evalTextCol), 1, probeLen)),
      maxProbes, "Curation.exactContamination probes (maxProbes)")
      .map(_.getString(0)).toSeq
    val hits =
      if (probes.isEmpty) lit(0L)
      else graft.functions.MultiPatternFunctions
        .multi_pattern_hits(col(textCol), probes)
    corpus.select(
      col(idCol),
      hits.as("n_eval_hits"))
      .withColumn("contaminated", col("n_eval_hits") > 0)
  }

  /** The filter form: corpus rows containing NO eval probe — a plain
    * row-local predicate, full corpus schema preserved.
    */
  def exactDecontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      evalTextCol: String,
      probeLen: Int = 16): DataFrame = {
    val flagged = exactContamination(corpus, evalSet, idCol, textCol,
      evalTextCol, probeLen)
    corpus.join(flagged.filter(col("contaminated"))
        .select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** SEMANTIC eval-set contamination — the embedding sibling of
    * [[contamination]]: a corpus document is contaminated when its
    * embedding sits within `minCosine` of ANY eval-set embedding. Exact
    * n-gram overlap misses rephrased/translated benchmark leakage; the
    * embedding check is the published countermeasure (Yang et al. 2023,
    * "Rethinking Benchmark and Contamination for Language Models with
    * Rephrased Samples", arXiv:2311.04850 — cosine-similar neighbors of
    * eval items are flagged, then dropped or audited).
    *
    * Returns one row per CORPUS id:
    * `(idCol, n_eval_hits, max_cosine, contaminated)` — how many eval
    * vectors sit above the threshold (0 when clean), the strongest of
    * those cosines (NULL when clean), and the drop verdict. Candidates
    * come from [[Similarity.crossPairsIvf]]'s IVF blocking under the
    * caller's trained quantizer (train it on the CORPUS — production
    * decontamination must not leak eval vectors into the model), so
    * precision is exact and recall follows the home-vs-probe geometry
    * the x10r companion measures.
    *
    * Scale shape: the eval side broadcasts (bounded by nature); the hit
    * aggregation is O(corpus) narrow rows; the verdict attaches with a
    * plain shuffled left join — the hit set is bounded by the CORPUS,
    * not the eval set, so it is never broadcast (the
    * [[CorpusPipeline]] report lesson).
    */
  def semanticContaminationReport(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      centroids: Seq[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    val hits = Similarity.crossPairsIvf(evalSet, corpus, idCol, vecCol,
        minCosine, centroids, nprobe)
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("cosine")).as("max_cosine"))
    corpus.select(col(idCol))
      .join(hits, col(idCol) === col("corpus_id"), "left")
      .select(col(idCol),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("max_cosine"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** The filter form: corpus rows whose embedding is NOT within
    * `minCosine` of any eval vector — one anti-join on the hit ids, the
    * full corpus schema preserved. Equal to
    * `semanticContaminationReport(...).filter(!contaminated)` on the id
    * set (spec-pinned), without materializing the per-doc verdicts.
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      centroids: Seq[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    val hitIds = Similarity.crossPairsIvf(evalSet, corpus, idCol, vecCol,
        minCosine, centroids, nprobe)
      .select(col("corpus_id"))
    corpus.join(hitIds, col(idCol) === col("corpus_id"), "left_anti")
  }

  /** Per-key contribution cap: keep at most `maxPerKey` rows per value of
    * `keyCol`, chosen by `orderCols` (which must totally order rows
    * within a key — include a unique id last) — the per-domain/source cap
    * every web-scale corpus applies so no single origin dominates
    * training.
    *
    * Exact, and skew-safe by construction: a naive
    * `row_number().over(partitionBy(key))` puts a mega-domain on ONE
    * task. Here rows are first capped within `(key, salt)` slices (salt =
    * hash of the order key, so slicing is deterministic), which bounds
    * every first-stage task at slice size; the survivors — at most
    * `maxPerKey × saltBuckets` rows per key, regardless of how huge the
    * key is — then take the exact per-key cap. Two shuffles, both
    * bounded. The result is identical to the naive window (any row in
    * the true per-key top-n is necessarily in its slice's top-n), which
    * is exactly what q49's single-window oracle proves.
    */
  def capPerKey(
      df: DataFrame, keyCol: String, maxPerKey: Int,
      orderCols: Seq[Column], saltBuckets: Int = 16): DataFrame = {
    require(maxPerKey >= 1, s"maxPerKey must be >= 1, got $maxPerKey")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val rn = "__graft_cap_rn"
    val saltC = "__graft_cap_salt"
    val sliced = df
      .withColumn(saltC, pmod(hash(orderCols: _*), lit(saltBuckets)))
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(keyCol), col(saltC))
          .orderBy(orderCols: _*)))
      .filter(col(rn) <= maxPerKey)
      .drop(rn, saltC)
    sliced
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)))
      .filter(col(rn) <= maxPerKey)
      .drop(rn)
  }

  /** Sliding-window document chunking: split each document into
    * `chunkChars`-character windows stepping `chunkChars - overlapChars`,
    * one output row per chunk with its index and text — the
    * context-window prep step before packing/tokenization. Row-local
    * (`sequence` → `transform` → `posexplode`), so it's a narrow
    * projection with NO shuffle at any scale; chunk counts are
    * `ceil((len - overlap) / step)` so consecutive chunks share exactly
    * `overlapChars` characters and every character is covered. Empty and
    * null documents produce no chunks (there is nothing to train on).
    *
    * Character-based windows keep the operation engine-exact (q48's
    * oracle re-derives every chunk in SQL); token-budgeted TRAINING
    * windows come from composing this with [[Bpe.Model.tokenCount]] over
    * the chunks, or from [[packTokenBudget]] downstream.
    */
  def chunkDocuments(
      docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlapChars: Int = 0): DataFrame = {
    require(chunkChars >= 1, s"chunkChars must be >= 1, got $chunkChars")
    require(overlapChars >= 0 && overlapChars < chunkChars,
      s"need 0 <= overlap < chunk, got overlap=$overlapChars chunk=$chunkChars")
    val step = chunkChars - overlapChars
    val len = length(col(textCol))
    // greatest(1, …): a nonempty doc no longer than the overlap still
    // yields its one (short) chunk instead of vanishing
    val nChunks = greatest(lit(1),
      ceil((len - overlapChars).cast("double") / step).cast("int"))
    docs
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0), nChunks - 1),
          i => substring(col(textCol), i * step + 1, lit(chunkChars))))
          .as(Seq("chunk_idx", "chunk")))
  }
}
