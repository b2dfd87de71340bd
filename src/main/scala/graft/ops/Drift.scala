package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring — the check a pipeline runs between a
  * reference window and the current batch before trusting a model or a
  * downstream contract (the monitoring counterpart of the reference's V2/V3
  * row-count monitors, extended from "did rows arrive" to "does the data
  * still look like the data").
  *
  * PSI (population stability index) over shared equi-depth buckets: the
  * boundaries come from the REFERENCE side only (one percentile sketch,
  * O(buckets) driver state), so both frames are bucketed by the identical
  * cutpoints and per-bucket shares are directly comparable. Each side then
  * costs one codegen'd binary-search probe per row plus one mergeable
  * grouped count — two map-side-combinable aggregations over the data, a
  * full-outer join of two O(buckets) frames, and nothing else. At 100 TB
  * neither frame is ever shuffled by value; only O(buckets) rows move.
  */
object Drift {

  /** The reference side of a drift check as plain driver values —
    * `(bounds, shares)` for `buckets` equi-depth buckets. This is what
    * a STREAMING drift monitor pins against
    * ([[graft.streaming.EventStream.driftStream]]): boundaries and
    * reference shares are computed ONCE from the batch reference and ride
    * into the stream as literals, so the stream never re-scans the
    * reference.
    */
  def referenceProfile(
      ref: DataFrame,
      valCol: String,
      buckets: Int = 10,
      exact: Boolean = false): (Seq[Double], Seq[Double]) = {
    val bounds = Profile.quantileBounds(ref, valCol, buckets, exact)
    val counts = graft.Driver.collect(ref.filter(col(valCol).isNotNull)
        .withColumn("bucket",
          graft.functions.SearchSorted(col(valCol).cast("double"), bounds))
        .groupBy("bucket").agg(count(lit(1)).as("n")),
      buckets + 1, "Drift.referenceProfile (buckets + 1)")
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble.max(1.0)
    val shares = (0 to bounds.size).map(i =>
      counts.getOrElse(i, 0L) / total)
    (bounds, shares)
  }

  /** Chi-square test of independence between two CATEGORICAL columns —
    * the drift/association monitor for the columns PSI and KS (numeric
    * CDFs) can't see. One grouped count builds the contingency table;
    * margins come from re-aggregating that O(cells) table; the full
    * `distinct(a) × distinct(b)` grid (a broadcast cross of two O(card)
    * frames) restores the structural zeros whose expected counts still
    * contribute. The data itself is touched by exactly one mergeable
    * aggregation.
    *
    * The grid cross is GATED: `maxGridCells` caps
    * `distinct(a) × distinct(b)`, checked at RUNTIME from the
    * cardinalities the totals aggregate already computes (a `raise_error`
    * riding the one-row totals frame — no extra job, no extra scan), so a
    * non-dashboard-sized column pair fails loudly before the quadratic
    * grid materializes instead of grinding into a blowup.
    *
    * Output: one row per grid cell `(a, b, observed, expected, contrib)`
    * plus the totals repeated per row — `chi2` (Σ contrib), `dof`
    * `(card_a−1)(card_b−1)`, `n`. `expected`/`contrib`/`chi2` are
    * rounded to 1e-4 (summation-order noise in the last double bits is
    * below that on any realistic table).
    */
  def chiSquare(
      df: DataFrame,
      aCol: String,
      bCol: String,
      maxGridCells: Long = 1000000L): DataFrame = {
    require(maxGridCells >= 1,
      s"chiSquare: maxGridCells must be >= 1, got $maxGridCells")
    def rnd4(c: org.apache.spark.sql.Column) =
      floor(c * 1e4 + 0.5) / 1e4
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("observed"))
    val aM = cells.groupBy("a").agg(sum("observed").as("_ra"))
    val bM = cells.groupBy("b").agg(sum("observed").as("_cb"))
    // the gate rides `_n` (consumed by every `expected`), so it can never
    // be pruned out of the plan and costs nothing extra to evaluate
    // grid size computed in decimal(19,0) × decimal(19,0) → decimal(38,0):
    // a Long × Long product of extreme distinct counts would overflow, and
    // under Spark 4's ANSI mode that surfaces as ARITHMETIC_OVERFLOW
    // instead of the gate's intended maxGridCells diagnostic
    val gridCells =
      col("_ca").cast("decimal(19,0)") * col("_cbn").cast("decimal(19,0)")
    val tot = cells.agg(sum("observed").as("_n"),
      count_distinct(col("a")).as("_ca"),
      count_distinct(col("b")).as("_cbn"))
      .withColumn("_n",
        when(gridCells <= lit(maxGridCells), col("_n"))
          .otherwise(raise_error(concat(
            lit("chiSquare: distinct(a) x distinct(b) = "),
            gridCells.cast("string"),
            lit(s" grid cells exceed maxGridCells=$maxGridCells — " +
              "the full grid is quadratic in the cardinalities; raise " +
              "the cap only if the pair is genuinely dashboard-sized")))))
    val grid = aM.crossJoin(bM).crossJoin(broadcast(tot))
      .join(cells, Seq("a", "b"), "left")
      .na.fill(0L, Seq("observed"))
      .withColumn("expected",
        col("_ra").cast("double") * col("_cb") / col("_n"))
      .withColumn("contrib",
        pow(col("observed") - col("expected"), 2.0) / col("expected"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    grid
      .withColumn("chi2", rnd4(sum("contrib").over(w)))
      .select(col("a"), col("b"), col("observed"),
        rnd4(col("expected")).as("expected"),
        rnd4(col("contrib")).as("contrib"),
        col("chi2"),
        ((col("_ca") - 1) * (col("_cbn") - 1)).as("dof"),
        col("_n").as("n"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over the same equi-depth
    * bucket grid as [[psi]]: `ks = max |CDF_ref − CDF_cur|` evaluated at
    * the bucket boundaries. PSI weights every bucket's divergence; KS
    * reports the single worst CDF gap — the two standard monitors
    * disagree exactly when drift is concentrated, so pipelines run both.
    * Granularity is the bucket grid (`buckets` boundaries), which is the
    * scale-honest version: the exact KS over raw values needs a full
    * sort of both sides, while this needs the same two mergeable grouped
    * counts as [[psi]] plus a window over O(buckets) rows (bounded
    * driver-scale data, same posture as `Curation`'s partition-carry
    * window).
    *
    * Output: per-bucket `(bucket, ref_n, cur_n, ref_cum, cur_cum,
    * cdf_gap)` plus the max gap as `ks` repeated per row for alert
    * routing; all shares rounded to 6 decimals.
    */
  def ks(
      ref: DataFrame,
      cur: DataFrame,
      valCol: String,
      buckets: Int = 10,
      exact: Boolean = false): DataFrame = {
    val bounds = Profile.quantileBounds(ref, valCol, buckets, exact)

    def bucketCounts(df: DataFrame, n: String) =
      df.filter(col(valCol).isNotNull)
        .withColumn("bucket",
          graft.functions.SearchSorted(col(valCol).cast("double"), bounds))
        .groupBy("bucket").agg(count(lit(1)).as(n))

    def rnd6(c: org.apache.spark.sql.Column) =
      floor(c * 1e6 + 0.5) / 1e6

    val joined = bucketCounts(ref, "ref_n")
      .join(bucketCounts(cur, "cur_n"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    // running and total sums both as windows over the O(buckets) frame —
    // a totals aggregate branch would re-execute the bucket counts (see
    // the note in [[psi]])
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cum = joined
      .withColumn("ref_cum", rnd6(
        sum("ref_n").over(w).cast("double") / sum("ref_n").over(wAll)))
      .withColumn("cur_cum", rnd6(
        sum("cur_n").over(w).cast("double") / sum("cur_n").over(wAll)))
      .withColumn("cdf_gap", rnd6(abs(col("ref_cum") - col("cur_cum"))))
    cum.withColumn("ks", max("cdf_gap").over(wAll))
      .select(col("bucket"), col("ref_n"), col("cur_n"),
        col("ref_cum"), col("cur_cum"), col("cdf_gap"), col("ks"))
  }

  /** Per-bucket PSI contribution of `cur` vs `ref` on `valCol`.
    *
    * Output: `(bucket, ref_n, cur_n, ref_share, cur_share, psi)` — one row
    * per bucket observed on either side, counts coalesced to 0, shares
    * floored at `eps` before the log so an empty bucket contributes a
    * large-but-finite term instead of ±∞ (the standard PSI smoothing).
    * Sum `psi` for the headline index (common thresholds: < 0.1 stable,
    * 0.1–0.25 moderate, > 0.25 major drift). Shares and `psi` are rounded
    * to 6 decimals so the numbers are engine-stable.
    *
    * `exact = true` is the oracle-comparable setting for boundary
    * computation; the default is the mergeable `approx_percentile` sketch.
    */
  def psi(
      ref: DataFrame,
      cur: DataFrame,
      valCol: String,
      buckets: Int = 10,
      exact: Boolean = false,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0, s"psi: eps must be positive, got $eps")
    val bounds = Profile.quantileBounds(ref, valCol, buckets, exact)

    def bucketCounts(df: DataFrame, n: String) =
      df.filter(col(valCol).isNotNull)
        .withColumn("bucket",
          graft.functions.SearchSorted(col(valCol).cast("double"), bounds))
        .groupBy("bucket").agg(count(lit(1)).as(n))

    def rnd6(c: org.apache.spark.sql.Column) =
      floor(c * 1e6 + 0.5) / 1e6

    val joined = bucketCounts(ref, "ref_n")
      .join(bucketCounts(cur, "cur_n"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    // totals via a window over the O(buckets) frame, NOT a separate
    // aggregate branch: a totals subplan re-executes both bucket counts
    // (the static plan showed 4 scans of the data instead of 2; AQE
    // exchange reuse is runtime-best-effort, not a contract). The
    // single-partition window touches only O(buckets) rows — the same
    // bounded posture as the cum windows in [[ks]].
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    joined
      .withColumn("ref_share", greatest(
        col("ref_n").cast("double") / sum("ref_n").over(wAll), lit(eps)))
      .withColumn("cur_share", greatest(
        col("cur_n").cast("double") / sum("cur_n").over(wAll), lit(eps)))
      .select(col("bucket"), col("ref_n"), col("cur_n"),
        rnd6(col("ref_share")).as("ref_share"),
        rnd6(col("cur_share")).as("cur_share"),
        rnd6((col("cur_share") - col("ref_share")) *
          log(col("cur_share") / col("ref_share"))).as("psi"))
  }
}
