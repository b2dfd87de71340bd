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

/** RelB family of the driver contract — query declarations and their
  * DuckDB oracle SQL, split verbatim out of SparkEntry.scala (round 13,
  * pure mechanical move; no behavior change). The self-type pins this
  * trait to the SparkEntry object so every helper reference (rd, model
  * memoizers, shared oracle CTEs) resolves exactly as before the split.
  */
private[graft] trait EntryRelB { this: SparkEntry.type =>

  private[graft] def queriesRelB: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q51_bm25" -> ((s, dir) => {
      // BM25 keyword retrieval (ext.Keyword): postings + docfreq built in
      // one agg each, scoring = query-term equi-join (document text never
      // re-read at query time). Queries = every 101st doc's first 5
      // words; ranking on the rounded score (cross-engine-stable), ties
      // by doc_id. DuckDB re-derives the full formula.
      val docs = rd(s, dir, "documents")
      val queries = docs
        .filter(col("text").isNotNull && pmod(col("doc_id"), lit(101)) === 0)
        .select(
          col("doc_id").as("qid"),
          concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 5)).as("qtext"))
      Keyword.searchBM25(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    }),


    "q52_hybrid_rrf" -> ((s, dir) => {
      // hybrid search: BM25 (lexical) + exact embedding kNN fused by
      // reciprocal-rank (ext.Keyword.rrfFuse) — rank-only fusion needs no
      // score calibration and its arithmetic is engine-exact, so DuckDB
      // re-derives the whole two-retriever pipeline. Query set = every
      // 101st doc that has both tokens and an embedding.
      val docs = rd(s, dir, "documents")
      val emb = rd(s, dir, "embeddings")
      val qids = docs
        .filter(col("text").isNotNull &&
          size(split(trim(col("text")), "\\s+")) > 0 &&
          pmod(col("doc_id"), lit(101)) === 0)
        .join(emb.select(col("vec_id")), col("doc_id") === col("vec_id"),
          "leftsemi")
        .select("doc_id", "text")
      val bm = Keyword.searchBM25(docs, "doc_id", "text",
        qids.select(
          col("doc_id").as("qid"),
          concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 5)).as("qtext")),
        "qid", "qtext", k = 20)
        .select("query_id", "doc_id", "rank")
      val kn = Similarity.topKBruteForce(
        emb.join(qids.select(col("doc_id")),
          col("vec_id") === col("doc_id"), "leftsemi"),
        emb, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Keyword.rrfFuse(Seq(bm, kn), k = 5)
        .select("query_id", "rank", "doc_id", "rrf")
        .orderBy("query_id", "rank")
    }),


    "q53_global_ids" -> ((s, dir) =>
      // contiguous order-respecting ids without the single-task global
      // window (ops.Ids): range shuffle + in-partition sort +
      // zipWithIndex offsets. The oracle IS the single-task formulation —
      // row_number over the same total order — proving the distributed
      // assignment is identical.
      Ids.withGlobalIds(
        rd(s, dir, "documents"), Seq(col("source"), col("doc_id")))
        .select("doc_id", "source", "gid")
        .orderBy("gid")),


    "q54_fuzzy_join" -> ((s, dir) => {
      // blocked edit-distance self-join (ops.FuzzyJoin) on a 12-char key
      // prefix: FastSS deletion-hash candidates + exact levenshtein
      // verify. The oracle IS the naive all-pairs definition — DuckDB's
      // own levenshtein over the cross join — so the compare proves the
      // deletion-neighborhood blocking is complete at d=2.
      FuzzyJoin.selfJoin(
        rd(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 12).as("k")),
        "doc_id", "k", maxDist = 2)
        .orderBy("id_a", "id_b")
    }),


    "q55_funnel" -> ((s, dir) => {
      // per-user conversion funnel signup → click → purchase within 7
      // days (ops.Funnel, chain-of-minima semantics): one sorted fold per
      // user; the oracle re-derives the same chain as three joined min()
      // aggregations
      Funnel.funnel(rd(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), windowMicros = 7L * 86400000000L)
        .orderBy("user_id")
    }),


    "q56_weighted_sample" -> ((s, dir) => {
      // deterministic weighted Bernoulli thinning (ext.Curation): keep
      // probability n_chars/400 (≥400-char docs always kept), decided by
      // an ALL-INTEGER comparison on md5 bits — the oracle reproduces the
      // exact row set, not just its size
      Curation.weightedSample(
        rd(s, dir, "documents"), "doc_id", "n_chars",
        capWeight = 400L, salt = "g56")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),


    "q57_heavy_hitters" -> ((s, dir) => {
      // per-language heaviest sources via the mergeable Misra-Gries
      // aggregate (functions.HeavyHitters). Capacity 64 > the column's
      // ndv, so no decrement round ever fires and the summary is EXACT
      // (err = 0) — the regime a SQL oracle can check; the approximate
      // regime's one-sided bounds are property-tested in FreqSketchSpec.
      rd(s, dir, "documents")
        .groupBy("lang")
        .agg(graft.functions.FreqFunctions.heavyHitters(col("source"), 64)
          .as("hh"))
        .select(col("lang"), explode(col("hh")).as("e"))
        .select(col("lang"), col("e.item").as("item"),
          col("e.est").as("cnt"), col("e.err").as("err"))
        .orderBy("lang", "item")
    }),


    "q58_outliers" -> ((s, dir) => {
      // robust per-group anomaly flags (ops.Profile.robustOutliers):
      // median/MAD so the spikes being hunted cannot poison the baseline.
      // exact=true is the oracle-comparable verification setting; the
      // production default is the mergeable approx_percentile sketch.
      // Both the filter and the emitted score go through rnd() so a
      // last-ulp percentile difference between engines cannot flip a
      // boundary row.
      Profile.robustOutliers(rd(s, dir, "events"),
        Seq("event_type"), "value", k = 3.5, exact = true)
        .filter(rnd(abs(col("robust_z")), 6) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          rnd(col("robust_z"), 6).as("z"))
        .orderBy("event_id")
    }),


    "q59_entity_resolution" -> ((s, dir) => {
      // dirty-key entity resolution, composed end-to-end from proven
      // parts: FuzzyJoin's complete deletion-hash blocking + exact
      // levenshtein emits the edge set, connected components collapses
      // transitive matches ("A~B, B~C" → one entity) to a min-id
      // canonical label. The oracle rebuilds the identical graph from
      // DuckDB's levenshtein and walks it with a recursive CTE.
      val keyed = rd(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 12).as("k"))
      val pairs = FuzzyJoin.selfJoin(keyed, "doc_id", "k", maxDist = 2)
      Clusters.connectedComponents(pairs, "id_a", "id_b").orderBy("id")
    }),


    "q60_tfidf_terms" -> ((s, dir) => {
      // per-document keyword extraction (ext.Keyword.topTfidfTerms): tf
      // from the postings index, idf from a broadcast O(vocab) docfreq,
      // rounded-score ranking with term tie-break so the oracle
      // re-derives the exact ranked list
      Keyword.topTfidfTerms(rd(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),


    "q61_negative_sample" -> ((s, dir) => {
      // deterministic contrastive negatives (ext.Curation.negativeSample):
      // every pick is pure hash arithmetic over dense global ids, so the
      // oracle recomputes the exact (anchor, neg_idx, negative) set
      Curation.negativeSample(
        rd(s, dir, "documents"), "doc_id", k = 4, salt = "g61")
        .orderBy("anchor_id", "neg_idx")
    }),


    "q62_histogram" -> ((s, dir) => {
      // equi-depth histogram (ops.Profile.equiDepthHistogram): boundaries
      // from one percentile agg (exact for the oracle; the approx sketch
      // is the scale default), rounded so assignment is engine-stable,
      // probed per row by the SearchSorted binary-search expression
      Profile.equiDepthHistogram(
        rd(s, dir, "events"), "value", buckets = 8, exact = true)
        .orderBy("bucket")
    }),


    "q63_snapshot_diff" -> ((s, dir) => {
      // snapshot delta (ops.Diff.snapshotDiff): emits only
      // added/removed/changed rows with per-column attribution, from one
      // column-pruned full-outer join — the unchanged bulk never leaves
      // the join. Snapshots are derived deterministically from customer.
      val c = rd(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val next = c.filter(col("c_custkey") % 7 =!= 0)
        .withColumn("c_name",
          when(col("c_custkey") % 11 === 0, concat(lit("X "), col("c_name")))
            .otherwise(col("c_name")))
        .withColumn("c_acctbal",
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal")))
        .unionByName(c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 10000000).as("c_custkey"),
            col("c_name"), col("c_acctbal")))
      // changed_cols is array<string> in the Scala API; the driver's
      // comparator can't hash arrays, so the DECLARED output serializes
      // it (array_join) and the oracle mirrors with array_to_string.
      Diff.snapshotDiff(c, next, Seq("c_custkey"))
        .withColumn("changed_cols", array_join(col("changed_cols"), ","))
        .orderBy("c_custkey")
    }),


    "q64_drift_psi" -> ((s, dir) => {
      // distribution-drift monitor (ops.Drift.psi): equi-depth buckets
      // from the REFERENCE side only, both frames bucketed by the same
      // cutpoints via SearchSorted, PSI per bucket with eps-floored
      // shares. exact=true is the oracle setting; production uses the
      // mergeable approx_percentile sketch.
      val ev = rd(s, dir, "events")
      Drift.psi(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1),
        "value", buckets = 8, exact = true)
        .orderBy("bucket")
    }),


    "q65_span_dedup" -> ((s, dir) => {
      // substring-level dedup (ext.Fingerprint.spanCandidates): winnowing
      // fingerprints (MOSS) — any shared 37-char span guarantees a shared
      // fingerprint — then one equi-join on the 8-byte value. portable
      // MD5₄₈ gram hashes are the oracle-reproducible (and persistable)
      // form; XXH64 is the cheap job-internal mode (spec-proven same
      // pairs).
      Fingerprint.spanCandidates(rd(s, dir, "documents"), "doc_id", "text",
        k = 30, w = 8, minShared = 3, maxDocsPerFp = 100)
        .orderBy("id_a", "id_b")
    }),


    "q66_sequence_assembly" -> ((s, dir) => {
      // training-sequence assembly (ext.Curation.assembleSequences):
      // per-user event history ordered by (formatted ts, event_id),
      // truncated to 25, with the untruncated count kept. Timestamps ride
      // as microsecond strings per the no-raw-timestamp convention.
      // seq is array<struct> in the Scala API; the driver's comparator
      // can't hash arrays, so the DECLARED output serializes it with
      // to_json and the oracle emits the same compact JSON from DuckDB.
      // ignoreNullFields=false: Spark's default to_json DROPS null struct
      // fields while DuckDB's to_json emits "key":null — without the
      // option, a null ts/event_id/event_type in future test data would
      // silently diverge the declared output from the oracle.
      Curation.assembleSequences(rd(s, dir, "events"), "user_id",
        struct(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_id"), col("event_type")),
        maxLen = 25)
        .withColumn("seq",
          to_json(col("seq"), Map("ignoreNullFields" -> "false")))
        .orderBy("user_id")
    }),


    "q67_temperature_mix" -> ((s, dir) => {
      // temperature-flattened source mixture (ext.Curation
      // .temperatureSample, the mT5 resampling rule at alpha=0.5):
      // downsample-only per-source rates (n_i/n_min)^(alpha-1), kept rows
      // decided by pure md5 hash arithmetic — the oracle re-derives the
      // exact surviving row set.
      Curation.temperatureSample(rd(s, dir, "documents"),
        "doc_id", "source", alpha = 0.5, salt = "g67")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),


    "q68_orc_roundtrip" -> ((s, dir) => {
      // ORC interchange (lake.StorageFormat.orcZstd via Spec
      // .formatOverride): lineitem exported to ORC, read back, and
      // aggregated — the oracle computes the same aggregate from the
      // parquet original, so a pass proves export+import fidelity.
      // Aggregates are order-free-exact (count, integral-valued sum,
      // min/max), no fp-summation-order hazard.
      val tmp = Scratch.ephemeralDir("q68")
      graft.lake.TableWriter.write(
        rd(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice")),
        graft.lake.TableWriter.Spec(graft.lake.Layer.Dw, s"$tmp/li",
          formatOverride = Some(graft.lake.StorageFormat.orcZstd)))
      s.read.orc(s"$tmp/li")
        .filter(col("l_quantity") > 30)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag")
    }),


    "q70_resample_fill" -> ((s, dir) => {
      // fixed-grid resampling with forward fill (ops.Resample
      // .resampleLastFill): 6-hour slots per user, slot value = last
      // event's value (ts then event_id tie-break via one struct-max — no
      // window sort over the events), gaps carried forward. Timestamps
      // order identically as native values in both engines and never
      // reach the output (slots are epoch-second longs).
      Resample.resampleLastFill(rd(s, dir, "events"), "user_id", "ts",
        "value", "event_id", stepSeconds = 21600L)
        .orderBy("user_id", "slot")
    }),


    "q69_sketch_segments" -> ((s, dir) => {
      // mergeable distinct-count sketches (ops.Sketches): per-(source,
      // lang) DataSketches HLL sketches rolled up to per-source estimates
      // by sketch UNION — the persistable no-rescan rollup pattern. The
      // estimate is engine-specific, so like the recall companions this
      // emits a tolerance verdict the oracle can re-derive: sketch_ok = 1
      // iff |est − exact| ≤ 5% of exact, per source.
      val docs = rd(s, dir, "documents")
      val est = Sketches.estimateDistinct(
        Sketches.buildSegmentSketches(docs, Seq("source", "lang"), "doc_id"),
        Seq("source"))
      val exact = docs.groupBy("source")
        .agg(count_distinct(col("doc_id")).as("_x"))
      est.join(exact, "source")
        .select(col("source"),
          (abs(col("ndv_est") - col("_x")) <= col("_x") * 0.05)
            .cast("int").as("sketch_ok"))
        .orderBy("source")
    }),


    "q71_join_cardinality" -> ((s, dir) => {
      // pre-flight join sizing (ops.Profile.joinCardinality): the EXACT
      // inner-equi-join output count from two grouped counts plus the
      // dominant key's share and a broadcast/salt/shuffle recommendation
      // — derived from counts alone, so the oracle re-derives the whole
      // row including the advice string.
      Profile.joinCardinality(
        rd(s, dir, "lineitem"),
        rd(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey", broadcastRowThreshold = 1000)
    }),


    "q72_hierarchy" -> ((s, dir) => {
      // hierarchy flattening by pointer doubling (ops.Hierarchy.flatten):
      // a binary tree derived from customer keys (parent = key DIV 2)
      // resolves every node to root/depth/path in O(log depth)
      // self-joins; the oracle walks the same tree with a recursive CTE.
      val h = rd(s, dir, "customer").select(
        col("c_custkey").as("id"),
        when(col("c_custkey") <= 1, lit(null))
          .otherwise(expr("c_custkey DIV 2")).as("parent"))
      // path is array<long> in the Scala API; the driver's comparator
      // can't hash arrays, so the DECLARED output serializes it to a
      // '/'-joined string and the oracle mirrors with array_to_string.
      Hierarchy.flatten(h, "id", "parent")
        .withColumn("path",
          array_join(transform(col("path"), _.cast("string")), "/"))
        .orderBy("id")
    }),


    "q73_drift_ks" -> ((s, dir) => {
      // KS drift statistic (ops.Drift.ks): worst CDF gap over the
      // reference's equi-depth grid — complements q64's PSI (which
      // weights every bucket) when drift is concentrated. Same two
      // mergeable counts; the cum/max windows run over O(buckets) rows.
      val ev = rd(s, dir, "events")
      Drift.ks(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1),
        "value", buckets = 8, exact = true)
        .orderBy("bucket")
    }),


    "q74_winsorize" -> ((s, dir) => {
      // per-group winsorization (ops.Normalize.winsorize): one grouped
      // percentile agg, O(groups) bounds broadcast back, clip as a pure
      // projection — data shuffles zero times. exact=true is the oracle
      // regime; untouched values pass through bit-exact.
      Normalize.winsorize(rd(s, dir, "events"), Seq("event_type"),
        "value", lo = 0.05, hi = 0.95, exact = true)
        .select("event_id", "event_type", "value", "p_lo", "p_hi",
          "value_w")
        .orderBy("event_id")
    }),


    "q75_split_assign" -> ((s, dir) => {
      // deterministic train/val/test assignment (ext.Curation
      // .assignSplit): disjoint exhaustive hex-threshold partition,
      // stable under corpus growth; the oracle re-derives every label
      // from the same md5 prefix and cumulative thresholds.
      Curation.assignSplit(rd(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "g75")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),


    "q76_transitions" -> ((s, dir) => {
      // event-flow transition matrix (ops.Funnel.transitions): one
      // entity-partitioned lead window (total order via event_id
      // tie-break), one grouped count, O(states) broadcast totals.
      Funnel.transitions(rd(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")
        .orderBy("from_state", "to_state")
    }),


    "q77_cohort_retention" -> ((s, dir) => {
      // cohort retention triangle (ops.Cohorts.retention): first-seen
      // week per user via one min-agg, one join back, one distinct
      // count per (cohort, offset) — all-integer period arithmetic.
      Cohorts.retention(rd(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_period", "period_offset")
    }),


    "q78_chisq" -> ((s, dir) => {
      // categorical association/drift (ops.Drift.chiSquare): contingency
      // counts from one aggregation, margins re-aggregated from the
      // O(cells) table, structural zeros restored by the margin grid.
      Drift.chiSquare(rd(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")
    }),


    "q79_interval_join" -> ((s, dir) => {
      // interval-overlap join (ops.IntervalJoin.overlap): bin-blocked
      // equi-join with exactly-once emission in the FIRST shared bin —
      // no distinct shuffle, no cartesian; the oracle is the naive
      // all-pairs overlap definition.
      val ev = rd(s, dir, "events")
      def ivs(m: Int) = ev.filter(col("user_id") % 40 === m)
        .select(col("event_id").as("id"),
          unix_timestamp(col("ts")).as("s"),
          (unix_timestamp(col("ts")) + 60 + col("event_id") % 600)
            .as("e"))
      IntervalJoin.overlap(ivs(0), ivs(20), "s", "e", binSize = 300L)
        .select(col("l_id"), col("r_id"))
        .orderBy("l_id", "r_id")
    }),


    "q80_trend" -> ((s, dir) => {
      // per-group linear trend via the mergeable regr_* aggregates:
      // slope/intercept/r2 of value over (centered) epoch seconds —
      // centering keeps the variance arithmetic far from cancellation
      // so both engines agree to well under the rounding grain.
      rd(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("x",
          (unix_timestamp(col("ts")) - 1704067200L).cast("double"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          rnd(expr("regr_slope(value, x)") * 86400, 6)
            .as("slope_per_day"),
          rnd(expr("regr_intercept(value, x)"), 4).as("intercept"),
          rnd(expr("regr_r2(value, x)"), 6).as("r2"))
        .orderBy("event_type")
    }),


    "q81_curation_e2e" -> ((s, dir) => {
      // the whole curation chain as ONE declarative plan (ext
      // .CorpusPipeline.curate): exact dedup → rounded quality floor →
      // Gopher rule battery (t18's signals as a corpus-tuned filter:
      // minWords 20 / minStopwords 1 — the paper floors reject 100% of
      // this word-soup corpus, see GopherThresholds) → 13-gram
      // decontamination vs the doc_id%50 eval set → split labels. Every
      // stage is an operator with its own oracle-backed query; the
      // composition's oracle replays the chain end-to-end, battery
      // included.
      val docs = rd(s, dir, "documents")
      CorpusPipeline.curate(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        minQuality = 0.5, nGram = 13, salt = "g81",
        gopher = Some(TextAnalysis.GopherThresholds(
          minWords = 20, minStopwords = 1)))
        .orderBy("doc_id")
    }),


    "q82_quantile_sketch" -> ((s, dir) => {
      // mergeable quantile sketches (ops.Sketches + the serialized GK
      // summary): per-(source, lang) sketches of n_chars rolled up to a
      // per-source median by sketch MERGE — no raw rescan. Verdict form
      // (recall-companion style): the estimate's true-rank interval
      // [count(<est), count(<=est)]/n must intersect the GK bound window
      // around 0.5; the oracle re-derives the all-true answer.
      val docs = rd(s, dir, "documents")
      val est = Sketches.estimateQuantiles(
        Sketches.buildQuantileSketches(
          docs, Seq("source", "lang"), "n_chars", relativeError = 0.01),
        Seq("source"), Seq(0.5), relativeError = 0.01)
        .select(col("source"),
          element_at(col("quantiles"), 1).as("_med"))
      docs.join(broadcast(est), Seq("source"))
        .groupBy("source")
        .agg(
          (sum(when(col("n_chars") < col("_med"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("_rlo"),
          (sum(when(col("n_chars") <= col("_med"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("_rhi"))
        .select(col("source"),
          (col("_rlo") <= 0.55 && col("_rhi") >= 0.45)
            .cast("int").as("sketch_ok"))
        .orderBy("source")
    }),


    "q83_line_dedup" -> ((s, dir) => {
      // corpus-level boilerplate line removal (ext.Curation
      // .dropBoilerplateLines): lines in >2 distinct docs are template
      // text — dropped everywhere, documents reassembled in order.
      val docs = rd(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"),
          " (the|a|and|of|to|in) ", "\n$1 ").as("text"))
      Curation.dropBoilerplateLines(docs, "doc_id", "text",
        maxDocsPerLine = 2)
        .orderBy("doc_id")
    }),


    "q84_curation_report" -> ((s, dir) => {
      // the curation funnel as numbers (ext.CorpusPipeline.report):
      // survivors per stage — now including the 2g_gopher battery stage
      // — plus the split breakdown; same chain and thresholds as q81, so
      // the counts cannot drift from the curate outcome.
      val docs = rd(s, dir, "documents")
      CorpusPipeline.report(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        minQuality = 0.5, nGram = 13, salt = "g81",
        gopher = Some(TextAnalysis.GopherThresholds(
          minWords = 20, minStopwords = 1)))
        .orderBy("stage")
    }),


    "q85_flatten" -> ((s, dir) => {
      // recursive struct flattening (ops.ColumnOps.flattenStructs): a
      // nested ingest shape built from customer collapses to flat
      // prefixed columns in ONE projection; the oracle selects the flat
      // equivalents directly.
      rd(s, dir, "customer").select(col("c_custkey"),
        struct(col("c_name").as("name"),
          struct(col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg")).as("acct")).as("info"))
        .flattenStructs()
        .orderBy("c_custkey")
    }),


    "q86_kmeans_assign" -> ((s, dir) => {
      // distributed k-means (ext.Clustering): deterministic first-k init,
      // one refit with roundDigits=6 — the whole training loop is
      // re-derivable in SQL, so the oracle proves both the assignment
      // kernel AND the refit aggregation. Per-row cell output is the
      // strongest check: one flipped assignment breaks the hash.
      val emb = rd(s, dir, "embeddings")
      val m = kmeansDemo(s, dir)
      ext.Clustering.assign(emb, "embedding", m)
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),


    "q87_kmeans_summary" -> ((s, dir) => {
      // per-cluster size + within-cluster sum of squares from the same
      // model as q86 — the |v|^2 - 2 v.c + |c|^2 expansion stays inside
      // the codegen'd dot kernel.
      val emb = rd(s, dir, "embeddings")
      val m = kmeansDemo(s, dir)
      ext.Clustering.summary(emb, "embedding", m)
        .select(col("cell"), col("n"), rnd(col("wcss"), 3).as("wcss"))
        .orderBy("cell")
    }),


    "q88_kmeans_balanced_sample" -> ((s, dir) => {
      // cluster-balanced thinning: md5-coin Bernoulli per LEARNED cluster
      // toward a fixed per-cluster target — the deterministic coin makes
      // the exact kept row set re-derivable in the oracle.
      val emb = rd(s, dir, "embeddings")
      val m = kmeansDemo(s, dir)
      ext.Clustering.balancedSample(emb, "vec_id", "embedding", m,
        targetPerCluster = 30L, salt = "q88")
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),


    "q89_pca_cov" -> ((s, dir) => {
      // the PCA data pass (ext.Pca / functions.VectorMoments): full d x d
      // population covariance from ONE aggregation whose map-side partial
      // is an O(d^2) buffer — rows never shuffle. The eigensolve consumes
      // this matrix on the driver (spec-tested); the matrix itself is the
      // oracle-checkable contract.
      ext.Pca.covarianceDF(rd(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"), rnd(col("cov"), 6).as("cov"))
        .orderBy("i", "j")
    }),


    "q90_seasonal_decompose" -> ((s, dir) => {
      // classical additive decomposition (ops.Seasonal): hourly totals
      // per event type, daily (period-24) seasonality. idx = row_number
      // over observed hours makes the series regular on both engines.
      // y and every decompose intermediate snap to the 1e-6 grid
      // (roundDigits=6) so engine-specific float summation order can't
      // flip a round-half boundary in the 1e-4 output rounding.
      val hourly = rd(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 3600).cast("long").as("slot"))
        .agg(rnd(sum("value"), 6).as("y"))
        .withColumn("idx", row_number().over(
          Window.partitionBy("event_type").orderBy("slot")).cast("long") - 1)
      // keyCountHint: event_type is a closed 5-value taxonomy (testdata
      // generator enum) — declaring it PINS the O(keys × period) phase-mean
      // broadcast at any scale, instead of leaning on Spark's size-estimate
      // auto-broadcast (which only holds while the sides look small)
      Seasonal.decompose(hourly, "event_type", "idx", "y", period = 24,
        roundDigits = Some(6), keyCountHint = Some(5L))
        .select(col("event_type"), col("idx"), rnd(col("y"), 2).as("y"),
          rnd(col("trend"), 4).as("trend"),
          rnd(col("seasonal"), 4).as("seasonal"),
          rnd(col("residual"), 4).as("residual"))
        .orderBy("event_type", "idx")
    }),


    "q91_span_excise" -> ((s, dir) => {
      // exact shared-span excision (ext.Fingerprint.exciseSharedSpans):
      // the actionable form of substring dedup — every 15-char gram run
      // shared by more than 10 documents is cut from the text, merged
      // intervals and all. The oracle replays the identical construction
      // (portable MD5-48 gram hashes, gaps-and-islands merge, segment
      // reassembly) over the same parquet, so clean text and both
      // counters compare bit-for-bit.
      Fingerprint.exciseSharedSpans(rd(s, dir, "documents"),
        "doc_id", "text", k = 15, maxDocs = 10)
        .orderBy("doc_id")
    }),


    "q92_seasonal_anomalies" -> ((s, dir) => {
      // seasonal-aware anomaly flags (ops.Seasonal.anomalies): alert on
      // the decomposition residual's per-key z-score, so daily rhythm and
      // trend never page. Same 1e-6 grid discipline as q90 — stddev and
      // z snap before the threshold compare, making the boolean flag
      // itself engine-exact.
      val hourly = rd(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 3600).cast("long").as("slot"))
        .agg(rnd(sum("value"), 6).as("y"))
        .withColumn("idx", row_number().over(
          Window.partitionBy("event_type").orderBy("slot")).cast("long") - 1)
      // same declared 5-value key cardinality as q90 — guaranteed hinted
      // broadcast of the O(keys × period) decomposition sides
      Seasonal.anomalies(hourly, "event_type", "idx", "y", period = 24,
        zThreshold = 2.5, roundDigits = Some(6), keyCountHint = Some(5L))
        .select(col("event_type"), col("idx"),
          rnd(col("residual"), 4).as("residual"),
          rnd(col("z"), 4).as("z"), col("is_anomaly"))
        .orderBy("event_type", "idx")
    }),


    "q93_retention_expiry" -> ((s, dir) => {
      // partition retention end-to-end (lake.Retention.expirePartitions):
      // orders written Hive-partitioned by month, expiry deletes every
      // partition DIRECTORY strictly below the cutoff via a driver-side
      // O(partitions) listing — no data is read to decide, which is what
      // makes nightly expiry free at 100 TB. The post-expiry table then
      // aggregates to exactly what a date filter over the original
      // produces, so the oracle is that filter in SQL. Aggregates are
      // order-free-exact (count, BIGINT key sum, min/max).
      val tmp = Scratch.ephemeralDir("q93")
      rd(s, dir, "orders")
        .withColumn("od", date_format(col("o_orderdate"), "yyyy-MM"))
        // one shuffle keyed by the partition column: without it every
        // task writes a sliver of every month (tasks × partitions files
        // — the small-files antipattern Retention.compactPartition
        // exists to repair); with it the file count IS the partition
        // count, at any scale
        .repartition(col("od"))
        .write.mode("overwrite").partitionBy("od").parquet(s"$tmp/orders")
      graft.lake.Retention.expirePartitions(
        s, s"$tmp/orders", "od", cutoff = "1996-01")
      Parquet.read(s, s"$tmp/orders")
        .groupBy("od")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("od")
    }),


    "q94_schema_evolution" -> ((s, dir) => {
      // schema evolution across parquet generations (lake.SchemaEvolution
      // .readMerged + conform): generation 1 (even keys) predates the
      // c_mktsegment column; generation 2 (odd keys) carries it plus an
      // extra ingest_note the contract never adopted. readMerged unions
      // the footers (metadata-only pass), conform projects the v2
      // contract — typed null where a gen-1 row predates the column, the
      // stray column dropped. The oracle is the same union-by-name in
      // SQL, so a pass proves "new reader, old data" returns exactly the
      // contract view.
      val tmp = Scratch.ephemeralDir("q94")
      val c = rd(s, dir, "customer")
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"), lit("v2").as("ingest_note"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=2")
      val contract = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_mktsegment",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType)))
      graft.lake.SchemaEvolution.conform(
        graft.lake.SchemaEvolution.readMerged(s, s"$tmp/t").drop("gen"),
        contract)
        .orderBy("c_custkey")
    })
  )

  private[graft] def oraclesRelB: Map[String, String] = Map(

    // full BM25 re-derivation: k1=1.2, b=0.75, idf=ln((N-df+.5)/(df+.5)+1);
    // stats over docs with >=1 nonempty posting (matching the Spark build)
    "q51_bm25" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |    FROM documents WHERE text IS NOT NULL),
        |  dd AS (SELECT doc_id, w, len(w)::DOUBLE AS dl FROM d WHERE len(w) > 0),
        |  post AS (SELECT doc_id, dl, unnest(w) AS term FROM dd),
        |  tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM post
        |    WHERE length(term) > 0 GROUP BY 1, 2, 3),
        |  dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |  stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
        |    FROM (SELECT DISTINCT doc_id, dl FROM tf)),
        |  q AS (SELECT query_id, term FROM (SELECT doc_id AS query_id,
        |      unnest(list_distinct(w[1:5])) AS term FROM dd
        |      WHERE doc_id % 101 = 0) WHERE length(term) > 0),
        |  sc AS (SELECT q.query_id, tf.doc_id,
        |      sum(ln((n - df + 0.5) / (df + 0.5) + 1)
        |        * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |        AS s
        |    FROM q JOIN tf USING (term) JOIN dfreq USING (term), stats
        |    GROUP BY 1, 2),
        |  r AS (SELECT query_id, doc_id,
        |      floor(s * 1e4 + 0.5) / 1e4 AS score,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY floor(s * 1e4 + 0.5) / 1e4 DESC, doc_id) AS rank
        |    FROM sc)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,


    // the whole two-retriever hybrid pipeline re-derived: BM25 CTEs as in
    // q51 (query set restricted to docs WITH embeddings), exact-cosine kNN
    // as in y2r, reciprocal-rank fusion 1/(60+rank), fused top-5
    "q52_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |    FROM documents WHERE text IS NOT NULL),
        |  dd AS (SELECT doc_id, w, len(w)::DOUBLE AS dl FROM d WHERE len(w) > 0),
        |  qids AS (SELECT doc_id FROM dd WHERE doc_id % 101 = 0
        |    AND doc_id IN (SELECT vec_id FROM embeddings)),
        |  post AS (SELECT doc_id, dl, unnest(w) AS term FROM dd),
        |  tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM post
        |    WHERE length(term) > 0 GROUP BY 1, 2, 3),
        |  dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |  stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
        |    FROM (SELECT DISTINCT doc_id, dl FROM tf)),
        |  q AS (SELECT query_id, term FROM (SELECT doc_id AS query_id,
        |      unnest(list_distinct(w[1:5])) AS term FROM dd
        |      WHERE doc_id IN (SELECT doc_id FROM qids))
        |    WHERE length(term) > 0),
        |  sc AS (SELECT q.query_id, tf.doc_id,
        |      sum(ln((n - df + 0.5) / (df + 0.5) + 1)
        |        * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |        AS s
        |    FROM q JOIN tf USING (term) JOIN dfreq USING (term), stats
        |    GROUP BY 1, 2),
        |  bm AS (SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY floor(s * 1e4 + 0.5) / 1e4 DESC, doc_id) AS rank
        |    FROM sc),
        |  e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM embeddings),
        |  kn AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (q.nrm * c.nrm) DESC,
        |        c.vec_id) AS rank
        |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id IN (SELECT doc_id FROM qids)),
        |  contrib AS (
        |    SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM bm
        |      WHERE rank <= 20
        |    UNION ALL
        |    SELECT query_id, doc_id, 1.0 / (60 + rank) FROM kn
        |      WHERE rank <= 20),
        |  fused AS (SELECT query_id, doc_id,
        |      floor(sum(c) * 1e6 + 0.5) / 1e6 AS rrf
        |    FROM contrib GROUP BY 1, 2),
        |  r AS (SELECT query_id, doc_id, rrf, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
        |    FROM fused)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,


    "q53_global_ids" ->
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY source, doc_id) - 1 AS gid
        |FROM documents ORDER BY gid""".stripMargin,


    "q54_fuzzy_join" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.k, b.k) <= 2
        |ORDER BY id_a, id_b""".stripMargin,


    "q55_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS ts_1 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |  s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_2 FROM events e
        |    JOIN s1 ON e.user_id = s1.user_id
        |    WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts_1
        |    GROUP BY e.user_id),
        |  s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_3 FROM events e
        |    JOIN s2 ON e.user_id = s2.user_id
        |    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.ts_2
        |    GROUP BY e.user_id),
        |  u AS (SELECT DISTINCT user_id FROM events
        |    WHERE event_type IN ('signup', 'click', 'purchase'))
        |SELECT u.user_id,
        |  CAST(CASE WHEN ts_3 IS NOT NULL THEN 3 WHEN ts_2 IS NOT NULL THEN 2
        |    WHEN ts_1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stages_completed,
        |  ts_1, ts_2, ts_3,
        |  COALESCE(ts_3 - ts_1 <= 604800000000, false) AS completed
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,


    "q56_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'g56'), 1, 5)
        |    AS BIGINT) * 400
        |  < least(n_chars, 400) * 1048576
        |ORDER BY doc_id""".stripMargin,


    "q57_heavy_hitters" ->
      """SELECT lang, source AS item, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, item""".stripMargin,


    "q58_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |    FROM events GROUP BY event_type),
        |  d AS (SELECT e.event_id, e.event_type, e.value, m.med
        |    FROM events e JOIN m USING (event_type)),
        |  md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5)
        |      AS mad
        |    FROM d GROUP BY event_type),
        |  z AS (SELECT d.event_id, d.event_type, d.value,
        |      (d.value - d.med) / (1.4826 * md.mad) AS zr
        |    FROM d JOIN md USING (event_type) WHERE md.mad <> 0)
        |SELECT event_id, event_type, value,
        |  floor(zr * 1e6 + 0.5) / 1e6 AS z
        |FROM z WHERE floor(abs(zr) * 1e6 + 0.5) / 1e6 > 3.5
        |ORDER BY event_id""".stripMargin,


    "q59_entity_resolution" ->
      """WITH RECURSIVE d AS (SELECT doc_id, substr(text, 1, 12) AS k
        |  FROM documents),
        |p AS (SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM d a JOIN d b
        |  ON a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= 2),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id, cluster_id FROM cc ORDER BY id""".stripMargin,


    "q60_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE len(term) > 0 GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
        |s AS (SELECT tf.doc_id, tf.term,
        |    floor(tf.tf * ln(n.n / dfq.df) * 1e4 + 0.5) / 1e4 AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT s.*, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, score
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,


    "q61_negative_sample" ->
      """WITH g AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS gid
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM g),
        |a AS (SELECT g.doc_id AS anchor_id, g.gid, n.n, j.neg_idx
        |  FROM g CROSS JOIN n
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS neg_idx) j),
        |h AS (SELECT anchor_id, gid, n, neg_idx,
        |    CAST('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || ':' ||
        |      CAST(neg_idx AS VARCHAR) || ':' || 'g61'), 1, 12) AS BIGINT)
        |      % n AS ng
        |  FROM a),
        |f AS (SELECT anchor_id, neg_idx,
        |    CASE WHEN ng = gid THEN (ng + 1) % n ELSE ng END AS neg_gid
        |  FROM h)
        |SELECT f.anchor_id, CAST(f.neg_idx AS INT) AS neg_idx,
        |  g.doc_id AS negative_id
        |FROM f JOIN g ON f.neg_gid = g.gid
        |ORDER BY anchor_id, neg_idx""".stripMargin,


    "q62_histogram" ->
      """WITH q AS (SELECT quantile_cont(value,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
        |  FROM events),
        |r AS (SELECT list_transform(qs, x -> floor(x * 1e6 + 0.5) / 1e6)
        |    AS bounds FROM q),
        |a AS (SELECT e.value,
        |    len(list_filter(r.bounds, x -> x <= e.value)) AS bucket
        |  FROM events e CROSS JOIN r WHERE e.value IS NOT NULL)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,


    "q63_snapshot_diff" ->
      """WITH b AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |n AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'X ' || c_name
        |         ELSE c_name END AS c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 13 = 0),
        |j AS (SELECT coalesce(b.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN b.c_custkey IS NULL THEN 'added'
        |         WHEN n.c_custkey IS NULL THEN 'removed'
        |         WHEN b.c_name IS DISTINCT FROM n.c_name
        |           OR b.c_acctbal IS DISTINCT FROM n.c_acctbal
        |           THEN 'changed' END AS change,
        |    CASE WHEN b.c_custkey IS NULL OR n.c_custkey IS NULL
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE list_filter([
        |             CASE WHEN b.c_name IS DISTINCT FROM n.c_name
        |                  THEN 'c_name' END,
        |             CASE WHEN b.c_acctbal IS DISTINCT FROM n.c_acctbal
        |                  THEN 'c_acctbal' END],
        |           x -> x IS NOT NULL) END AS changed_cols
        |  FROM b FULL OUTER JOIN n ON b.c_custkey = n.c_custkey)
        |SELECT c_custkey, change,
        |  coalesce(array_to_string(changed_cols, ','), '') AS changed_cols
        |FROM j
        |WHERE change IS NOT NULL ORDER BY c_custkey""".stripMargin,


    "q64_drift_psi" ->
      """WITH r0 AS (SELECT value FROM events
        |    WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |c0 AS (SELECT value FROM events
        |    WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |q AS (SELECT quantile_cont(value,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs FROM r0),
        |bd AS (SELECT list_transform(qs, x -> floor(x * 1e6 + 0.5) / 1e6)
        |    AS bounds FROM q),
        |rb AS (SELECT len(list_filter(bd.bounds, x -> x <= value))
        |    AS bucket, count(*) AS ref_n
        |  FROM r0 CROSS JOIN bd GROUP BY 1),
        |cb AS (SELECT len(list_filter(bd.bounds, x -> x <= value))
        |    AS bucket, count(*) AS cur_n
        |  FROM c0 CROSS JOIN bd GROUP BY 1),
        |j AS (SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
        |    coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
        |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
        |t AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM j),
        |s AS (SELECT bucket, ref_n, cur_n,
        |    greatest(CAST(ref_n AS DOUBLE) / rt, 1e-6) AS rs,
        |    greatest(CAST(cur_n AS DOUBLE) / ct, 1e-6) AS cs
        |  FROM j CROSS JOIN t)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
        |  floor(rs * 1e6 + 0.5) / 1e6 AS ref_share,
        |  floor(cs * 1e6 + 0.5) / 1e6 AS cur_share,
        |  floor((cs - rs) * ln(cs / rs) * 1e6 + 0.5) / 1e6 AS psi
        |FROM s ORDER BY bucket""".stripMargin,


    "q65_span_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 1),
        |pos AS (SELECT doc_id, n, i,
        |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 30)),
        |      1, 12) AS BIGINT) AS h
        |  FROM d, unnest(generate_series(1, greatest(n - 29, 1))) AS t(i)),
        |wm AS (SELECT doc_id, n, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS f
        |  FROM pos),
        |fp AS (SELECT DISTINCT doc_id, f FROM wm
        |  WHERE i <= greatest(greatest(n - 29, 1) - 7, 1)),
        |ok AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 100),
        |fk AS (SELECT fp.doc_id, fp.f FROM fp JOIN ok USING (f))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  count(*) AS n_shared
        |FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin,


    "q66_sequence_assembly" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(to_json(
        |    list_slice(list({'ts': strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
        |      'event_id': event_id, 'event_type': event_type}
        |    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), event_id,
        |      event_type), 1, 25)) AS VARCHAR) AS seq
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q67_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
        |    GROUP BY source),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT source,
        |    floor(pow(CAST(n AS DOUBLE) / nmin, -0.5) * 1e6 + 0.5) / 1e6
        |      AS rate
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'g67'),
        |    1, 5) AS BIGINT) < CAST(floor(rate * 1048576) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,


    "q68_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_quantity > 30
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q70_resample_fill" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS slot,
        |    {'ts': ts, 'eid': event_id, 'v': value} AS s
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |ps AS (SELECT user_id, slot, max(s)['v'] AS v_last,
        |    count(*) AS n FROM e GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(slot) AS t0, max(slot) AS t1
        |  FROM ps GROUP BY 1),
        |spine AS (SELECT user_id,
        |    unnest(generate_series(t0, t1, 21600)) AS slot FROM sp),
        |j AS (SELECT spine.user_id, spine.slot, ps.v_last,
        |    coalesce(ps.n, 0) AS n_events
        |  FROM spine LEFT JOIN ps
        |  ON spine.user_id = ps.user_id AND spine.slot = ps.slot)
        |SELECT user_id, slot,
        |  last_value(v_last IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS value_filled,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM j ORDER BY user_id, slot""".stripMargin,


    "q69_sketch_segments" ->
      """SELECT source, 1 AS sketch_ok FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,


    "q71_join_cardinality" ->
      """WITH lc AS (SELECT l_orderkey AS k, count(*) AS n_l
        |    FROM lineitem GROUP BY 1),
        |rc AS (SELECT o_orderkey AS k, count(*) AS n_r
        |    FROM orders GROUP BY 1),
        |j AS (SELECT coalesce(lc.n_l, 0) AS n_l, coalesce(rc.n_r, 0) AS n_r
        |  FROM lc FULL OUTER JOIN rc ON lc.k = rc.k),
        |a AS (SELECT sum(n_l) AS n_left, sum(n_r) AS n_right,
        |    count(*) FILTER (n_l > 0 AND n_r > 0) AS n_keys_matched,
        |    sum(n_l * n_r) AS est_out_rows,
        |    max(n_l * n_r) AS top_pair_rows FROM j)
        |SELECT CAST(n_left AS BIGINT) AS n_left,
        |  CAST(n_right AS BIGINT) AS n_right,
        |  CAST(n_keys_matched AS BIGINT) AS n_keys_matched,
        |  CAST(est_out_rows AS BIGINT) AS est_out_rows,
        |  CAST(top_pair_rows AS BIGINT) AS top_pair_rows,
        |  floor(CAST(top_pair_rows AS DOUBLE) / greatest(est_out_rows, 1)
        |    * 1e6 + 0.5) / 1e6 AS top_share,
        |  CASE WHEN n_right <= 1000 THEN 'broadcast_right'
        |       WHEN CAST(top_pair_rows AS DOUBLE) >
        |         greatest(est_out_rows, 1) * 0.2 THEN 'salt_skew'
        |       ELSE 'shuffle' END AS advice
        |FROM a""".stripMargin,


    "q72_hierarchy" ->
      """WITH RECURSIVE h AS (SELECT c_custkey AS id,
        |    CASE WHEN c_custkey <= 1 THEN NULL
        |         ELSE c_custkey // 2 END AS parent
        |  FROM customer),
        |r(id, root_id, depth, path) AS (
        |  SELECT id, id, 0, [id] FROM h WHERE parent IS NULL
        |  UNION ALL
        |  SELECT h.id, r.root_id, r.depth + 1, list_append(r.path, h.id)
        |  FROM h JOIN r ON h.parent = r.id)
        |SELECT id, root_id, CAST(depth AS BIGINT) AS depth,
        |  array_to_string(path, '/') AS path
        |FROM r ORDER BY id""".stripMargin,


    "q73_drift_ks" ->
      """WITH r0 AS (SELECT value FROM events
        |    WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |c0 AS (SELECT value FROM events
        |    WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |q AS (SELECT quantile_cont(value,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs FROM r0),
        |bd AS (SELECT list_transform(qs, x -> floor(x * 1e6 + 0.5) / 1e6)
        |    AS bounds FROM q),
        |rb AS (SELECT len(list_filter(bd.bounds, x -> x <= value))
        |    AS bucket, count(*) AS ref_n
        |  FROM r0 CROSS JOIN bd GROUP BY 1),
        |cb AS (SELECT len(list_filter(bd.bounds, x -> x <= value))
        |    AS bucket, count(*) AS cur_n
        |  FROM c0 CROSS JOIN bd GROUP BY 1),
        |j AS (SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
        |    coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
        |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
        |t AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM j),
        |c1 AS (SELECT bucket, ref_n, cur_n,
        |    floor(CAST(sum(ref_n) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / rt * 1e6 + 0.5) / 1e6 AS ref_cum,
        |    floor(CAST(sum(cur_n) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / ct * 1e6 + 0.5) / 1e6 AS cur_cum
        |  FROM j CROSS JOIN t),
        |c2 AS (SELECT *, floor(abs(ref_cum - cur_cum) * 1e6 + 0.5) / 1e6
        |    AS cdf_gap FROM c1)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
        |  ref_cum, cur_cum, cdf_gap, max(cdf_gap) OVER () AS ks
        |FROM c2 ORDER BY bucket""".stripMargin,


    "q74_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    floor(quantile_cont(value, 0.05) * 1e6 + 0.5) / 1e6 AS p_lo,
        |    floor(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS p_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, b.p_lo, b.p_hi,
        |  CASE WHEN e.value < b.p_lo THEN b.p_lo
        |       WHEN e.value > b.p_hi THEN b.p_hi
        |       ELSE e.value END AS value_w
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin,


    "q75_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g75'), 1, 8)
        |         < 'cccccccd' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g75'), 1, 8)
        |         < 'e6666667' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,


    "q76_transitions" ->
      """WITH p AS (SELECT event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t
        |  FROM events),
        |c AS (SELECT f AS from_state, t AS to_state, count(*) AS n
        |  FROM p WHERE t IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT from_state, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n,
        |  floor(CAST(c.n AS DOUBLE) / o.tot * 1e6 + 0.5) / 1e6 AS share
        |FROM c JOIN o USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,


    "q77_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS p
        |  FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT user_id, min(p) AS p0 FROM e GROUP BY 1)
        |SELECT f.p0 AS cohort_period, e.p - f.p0 AS period_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "q78_chisq" ->
      """WITH c AS (SELECT lang AS a, source AS b, count(*) AS observed
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |am AS (SELECT a, sum(observed) AS ra FROM c GROUP BY 1),
        |bm AS (SELECT b, sum(observed) AS cb FROM c GROUP BY 1),
        |t AS (SELECT sum(observed) AS n, count(DISTINCT a) AS ca,
        |    count(DISTINCT b) AS cbn FROM c),
        |g AS (SELECT am.a, bm.b, am.ra, bm.cb, t.n, t.ca, t.cbn,
        |    coalesce(c.observed, 0) AS observed
        |  FROM am CROSS JOIN bm CROSS JOIN t
        |  LEFT JOIN c ON c.a = am.a AND c.b = bm.b),
        |x AS (SELECT *, CAST(ra AS DOUBLE) * cb / n AS expected FROM g),
        |y AS (SELECT *, pow(observed - expected, 2) / expected AS contrib
        |  FROM x)
        |SELECT a, b, CAST(observed AS BIGINT) AS observed,
        |  floor(expected * 1e4 + 0.5) / 1e4 AS expected,
        |  floor(contrib * 1e4 + 0.5) / 1e4 AS contrib,
        |  floor(sum(contrib) OVER () * 1e4 + 0.5) / 1e4 AS chi2,
        |  CAST((ca - 1) * (cbn - 1) AS BIGINT) AS dof,
        |  CAST(n AS BIGINT) AS n
        |FROM y ORDER BY a, b""".stripMargin,


    "q79_interval_join" ->
      """WITH l AS (SELECT event_id AS id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 60 + event_id % 600 AS e
        |  FROM events WHERE user_id % 40 = 0),
        |r AS (SELECT event_id AS id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 60 + event_id % 600 AS e
        |  FROM events WHERE user_id % 40 = 20)
        |SELECT l.id AS l_id, r.id AS r_id
        |FROM l JOIN r ON l.s < r.e AND r.s < l.e
        |  AND l.s < l.e AND r.s < r.e
        |ORDER BY l_id, r_id""".stripMargin,


    "q80_trend" ->
      """WITH e AS (SELECT event_type, value,
        |    CAST(floor(epoch(ts)) - 1704067200 AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  floor(regr_slope(value, x) * 86400 * 1e6 + 0.5) / 1e6
        |    AS slope_per_day,
        |  floor(regr_intercept(value, x) * 1e4 + 0.5) / 1e4 AS intercept,
        |  floor(regr_r2(value, x) * 1e6 + 0.5) / 1e6 AS r2
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q81_curation_e2e" ->
      ("WITH " + dedupQualityCtes + ",\n" +
      """gw AS (SELECT doc_id, x AS w FROM q,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS u(x)
        |  WHERE x <> ''),
        |gws AS (SELECT doc_id, count(*) AS n_words,
        |    CAST(sum(length(w)) AS BIGINT) AS wchars,
        |    CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
        |    count(DISTINCT CASE WHEN lower(w) IN ('the','be','to','of',
        |      'and','that','have','with') THEN lower(w) END) AS stop_hits
        |  FROM gw GROUP BY doc_id),
        |gls AS (SELECT doc_id, count(*) AS n_lines,
        |    CAST(sum(CASE WHEN regexp_matches(line, '^[-*•]')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bullets,
        |    CAST(sum(CASE WHEN line LIKE '%...' OR line LIKE '%…'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ellipses
        |  FROM (SELECT doc_id, trim(x) AS line FROM q,
        |      unnest(str_split(text, chr(10))) AS u(x))
        |  WHERE line <> '' GROUP BY doc_id),
        |gsy AS (SELECT doc_id,
        |    (length(text) - length(replace(text, '#', '')))
        |    + (length(text) - length(replace(text, '…', '')))
        |    + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS syms
        |  FROM q),
        |gf AS (SELECT q.doc_id, q.text FROM q
        |    LEFT JOIN gws USING (doc_id) LEFT JOIN gls USING (doc_id)
        |    JOIN gsy ON q.doc_id = gsy.doc_id
        |  WHERE coalesce(gws.n_words, 0) >= 20
        |    AND coalesce(gws.n_words, 0) <= 100000
        |    AND coalesce(gws.wchars::DOUBLE / gws.n_words, 0.0) >= 3.0
        |    AND coalesce(gws.wchars::DOUBLE / gws.n_words, 0.0) <= 10.0
        |    AND coalesce(gsy.syms::DOUBLE / gws.n_words, 0.0) < 0.1
        |    AND coalesce(gls.bullets::DOUBLE / gls.n_lines, 0.0) < 0.9
        |    AND coalesce(gls.ellipses::DOUBLE / gls.n_lines, 0.0) < 0.3
        |    AND coalesce(gws.alpha_words::DOUBLE / gws.n_words, 0.0)
        |      > 0.8
        |    AND coalesce(gws.stop_hits, 0) >= 1),
        |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |    AS a FROM gf),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(a) - 11),
        |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
        |  FROM tok WHERE len(a) >= 13),
        |etok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents WHERE doc_id % 50 = 0),
        |eg AS (SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(a) - 11),
        |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
        |  FROM etok WHERE len(a) >= 13),
        |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram)),
        |clean AS (SELECT doc_id FROM gf
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        |    AND doc_id % 50 <> 0)
        |SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g81'), 1, 8)
        |         < 'cccccccd' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g81'), 1, 8)
        |         < 'e6666667' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM clean ORDER BY doc_id""".stripMargin),


    "q82_quantile_sketch" ->
      """SELECT source, 1 AS sketch_ok FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,


    "q83_line_dedup" ->
      """WITH s AS (SELECT doc_id, regexp_replace(text,
        |    ' (the|a|and|of|to|in) ', chr(10) || '\1 ', 'g') AS t
        |  FROM documents),
        |aa AS (SELECT doc_id, str_split(t, chr(10)) AS a FROM s),
        |l AS (SELECT doc_id, i, a[i] AS line FROM aa,
        |  unnest(generate_series(1, len(a))) AS g(i)),
        |stop AS (SELECT line FROM l GROUP BY line
        |  HAVING count(DISTINCT doc_id) > 2),
        |kept AS (SELECT doc_id, i, line FROM l
        |  WHERE line NOT IN (SELECT line FROM stop)),
        |re AS (SELECT doc_id,
        |    array_to_string(list(line ORDER BY i), chr(10)) AS clean,
        |    count(*) AS n FROM kept GROUP BY doc_id)
        |SELECT aa.doc_id, coalesce(re.clean, '') AS clean,
        |  CAST(coalesce(re.n, 0) AS BIGINT) AS n_lines_kept,
        |  CAST(len(aa.a) - coalesce(re.n, 0) AS BIGINT)
        |    AS n_lines_dropped
        |FROM aa LEFT JOIN re ON aa.doc_id = re.doc_id
        |ORDER BY aa.doc_id""".stripMargin,


    "q84_curation_report" ->
      """WITH fp AS (SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ',
        |    'g'))))),
        |k0 AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN fp USING (doc_id)),
        |q AS (SELECT doc_id, text FROM k0 WHERE floor((
        |    least(len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
        |      / 50.0, 1.0) * 0.4
        |    + (len(list_distinct(regexp_split_to_array(trim(text),
        |        '\s+')))::DOUBLE
        |       / len(regexp_split_to_array(trim(text), '\s+'))) * 0.3
        |    + least((length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
        |       / len(regexp_split_to_array(trim(text), '\s+'))) / 8.0,
        |       1.0) * 0.2
        |    + (1.0 - length(regexp_replace(text, '[A-Za-z0-9\s]', '',
        |        'g'))::DOUBLE / length(text)) * 0.1) * 1e6 + 0.5) / 1e6
        |    >= 0.5),
        |gw AS (SELECT doc_id, x AS w FROM q,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS u(x)
        |  WHERE x <> ''),
        |gws AS (SELECT doc_id, count(*) AS n_words,
        |    CAST(sum(length(w)) AS BIGINT) AS wchars,
        |    CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
        |    count(DISTINCT CASE WHEN lower(w) IN ('the','be','to','of',
        |      'and','that','have','with') THEN lower(w) END) AS stop_hits
        |  FROM gw GROUP BY doc_id),
        |gls AS (SELECT doc_id, count(*) AS n_lines,
        |    CAST(sum(CASE WHEN regexp_matches(line, '^[-*•]')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bullets,
        |    CAST(sum(CASE WHEN line LIKE '%...' OR line LIKE '%…'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ellipses
        |  FROM (SELECT doc_id, trim(x) AS line FROM q,
        |      unnest(str_split(text, chr(10))) AS u(x))
        |  WHERE line <> '' GROUP BY doc_id),
        |gsy AS (SELECT doc_id,
        |    (length(text) - length(replace(text, '#', '')))
        |    + (length(text) - length(replace(text, '…', '')))
        |    + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS syms
        |  FROM q),
        |gf AS (SELECT q.doc_id, q.text FROM q
        |    LEFT JOIN gws USING (doc_id) LEFT JOIN gls USING (doc_id)
        |    JOIN gsy ON q.doc_id = gsy.doc_id
        |  WHERE coalesce(gws.n_words, 0) >= 20
        |    AND coalesce(gws.n_words, 0) <= 100000
        |    AND coalesce(gws.wchars::DOUBLE / gws.n_words, 0.0) >= 3.0
        |    AND coalesce(gws.wchars::DOUBLE / gws.n_words, 0.0) <= 10.0
        |    AND coalesce(gsy.syms::DOUBLE / gws.n_words, 0.0) < 0.1
        |    AND coalesce(gls.bullets::DOUBLE / gls.n_lines, 0.0) < 0.9
        |    AND coalesce(gls.ellipses::DOUBLE / gls.n_lines, 0.0) < 0.3
        |    AND coalesce(gws.alpha_words::DOUBLE / gws.n_words, 0.0)
        |      > 0.8
        |    AND coalesce(gws.stop_hits, 0) >= 1),
        |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |    AS a FROM gf),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(a) - 11),
        |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
        |  FROM tok WHERE len(a) >= 13),
        |etok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents WHERE doc_id % 50 = 0),
        |eg AS (SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(a) - 11),
        |      i -> array_to_string(a[i:i+12], ' ')))) AS gram
        |  FROM etok WHERE len(a) >= 13),
        |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram)),
        |lab AS (SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g81'), 1, 8)
        |           < 'cccccccd' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g81'), 1, 8)
        |           < 'e6666667' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM gf WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        |    AND doc_id % 50 <> 0)
        |SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents
        |UNION ALL SELECT '1_deduped', count(*) FROM k0
        |UNION ALL SELECT '2_quality', count(*) FROM q
        |UNION ALL SELECT '2g_gopher', count(*) FROM gf
        |UNION ALL SELECT '3_decontaminated', count(*) FROM lab
        |UNION ALL SELECT '4_split_' || split, count(*) FROM lab
        |  GROUP BY split
        |ORDER BY stage""".stripMargin,


    "q85_flatten" ->
      """SELECT c_custkey, c_name AS info_name,
        |  c_acctbal AS info_acct_bal, c_mktsegment AS info_acct_seg
        |FROM customer ORDER BY c_custkey""".stripMargin,


    "q86_kmeans_assign" ->
      s"""$kmeansOraclePreamble
         |SELECT vec_id, cell FROM asg ORDER BY vec_id""".stripMargin,


    "q87_kmeans_summary" ->
      s"""$kmeansOraclePreamble
         |SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |  floor(sum(
         |    list_sum(list_transform(e.embedding,
         |      x -> x::DOUBLE * x::DOUBLE))
         |    - 2 * list_sum(list_transform(list_zip(e.embedding, ct.c),
         |        x -> x[1]::DOUBLE * x[2]::DOUBLE))
         |    + list_sum(list_transform(ct.c, x -> x::DOUBLE * x::DOUBLE))
         |  ) * 1e3 + 0.5) / 1e3 AS wcss
         |FROM asg JOIN e USING (vec_id) JOIN cents ct USING (cell)
         |GROUP BY cell ORDER BY cell""".stripMargin,


    "q88_kmeans_balanced_sample" ->
      s"""$kmeansOraclePreamble,
         |sz AS (SELECT cell, count(*) AS csize FROM asg GROUP BY cell)
         |SELECT a.vec_id, a.cell FROM asg a JOIN sz USING (cell)
         |WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || '|q88'),
         |    1, 8))::BIGINT
         |  < least(1.0, 30.0 / csize) * 4294967296.0
         |ORDER BY vec_id""".stripMargin,


    "q89_pca_cov" ->
      """WITH e AS (SELECT vec_id, g.i AS pos, embedding[g.i]::DOUBLE AS v
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS g(i))
        |SELECT CAST(a.pos - 1 AS INT) AS i, CAST(b.pos - 1 AS INT) AS j,
        |  floor((avg(a.v * b.v) - avg(a.v) * avg(b.v)) * 1e6 + 0.5) / 1e6
        |    AS cov
        |FROM e a JOIN e b USING (vec_id)
        |GROUP BY a.pos, b.pos ORDER BY i, j""".stripMargin,


    "q90_seasonal_decompose" ->
      """WITH hr AS (SELECT event_type,
        |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS slot,
        |    floor(sum(value) * 1e6 + 0.5) / 1e6 AS y
        |  FROM events GROUP BY 1, 2),
        |srs AS (SELECT event_type, CAST(row_number() OVER
        |      (PARTITION BY event_type ORDER BY slot) - 1 AS BIGINT)
        |      AS idx, y
        |  FROM hr),
        |tr AS (SELECT event_type, idx, y,
        |    CASE WHEN count(*) OVER w = 25 THEN
        |      floor((sum(y) OVER w
        |        - (lag(y, 12) OVER wk + lead(y, 12) OVER wk) / 2) / 24
        |        * 1e6 + 0.5) / 1e6
        |    END AS trend,
        |    idx % 24 AS phase
        |  FROM srs
        |  WINDOW w AS (PARTITION BY event_type ORDER BY idx
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |    wk AS (PARTITION BY event_type ORDER BY idx)),
        |sr AS (SELECT event_type, phase,
        |    floor(avg(y - trend) * 1e6 + 0.5) / 1e6 AS sraw FROM tr
        |  WHERE trend IS NOT NULL GROUP BY 1, 2),
        |sm AS (SELECT event_type,
        |    floor(avg(sraw) * 1e6 + 0.5) / 1e6 AS smean FROM sr GROUP BY 1)
        |SELECT t.event_type, t.idx, floor(y * 1e2 + 0.5) / 1e2 AS y,
        |  floor(trend * 1e4 + 0.5) / 1e4 AS trend,
        |  floor((sr.sraw - sm.smean) * 1e4 + 0.5) / 1e4 AS seasonal,
        |  floor((y - trend - (sr.sraw - sm.smean)) * 1e4 + 0.5) / 1e4
        |    AS residual
        |FROM tr t LEFT JOIN sr
        |    ON t.event_type = sr.event_type AND t.phase = sr.phase
        |  LEFT JOIN sm ON t.event_type = sm.event_type
        |ORDER BY t.event_type, t.idx""".stripMargin,


    "q91_span_excise" ->
      """WITH dd AS (SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 15),
        |pos AS (SELECT doc_id, i,
        |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 15)),
        |      1, 12) AS BIGINT) AS h
        |  FROM dd, unnest(generate_series(1, n - 14)) AS t(i)),
        |hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM pos GROUP BY h) WHERE nd > 10),
        |hits AS (SELECT doc_id, i FROM pos JOIN hot USING (h)),
        |m AS (SELECT doc_id, i,
        |    CASE WHEN i > coalesce(max(i + 14) OVER (PARTITION BY doc_id
        |        ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS ng
        |  FROM hits),
        |g AS (SELECT doc_id, i, sum(ng) OVER (PARTITION BY doc_id
        |    ORDER BY i) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(i) AS s, max(i) + 14 AS e
        |  FROM g GROUP BY 1, 2),
        |seg AS (SELECT doc_id, s,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
        |      AS pe
        |  FROM sp),
        |cuts AS (SELECT doc_id, max(e) AS me, count(*) AS nsp,
        |    sum(e - s + 1) AS nch FROM sp GROUP BY doc_id),
        |pieces AS (
        |  SELECT doc_id, s AS ord, pe + 1 AS st, s - pe - 1 AS ln FROM seg
        |  UNION ALL
        |  SELECT doc_id, 2147483647, me + 1, NULL FROM cuts),
        |reb AS (SELECT p.doc_id,
        |    string_agg(substr(dd.text, CAST(p.st AS INT),
        |      CAST(coalesce(p.ln, dd.n - p.st + 1) AS INT)), ''
        |      ORDER BY p.ord) AS clean
        |  FROM pieces p JOIN dd USING (doc_id)
        |  GROUP BY p.doc_id)
        |SELECT d.doc_id, coalesce(reb.clean, d.text) AS clean,
        |  CAST(coalesce(cuts.nsp, 0) AS BIGINT) AS n_spans_removed,
        |  CAST(coalesce(cuts.nch, 0) AS BIGINT) AS n_chars_removed
        |FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
        |  LEFT JOIN cuts ON d.doc_id = cuts.doc_id
        |ORDER BY d.doc_id""".stripMargin,


    // q90's construction + a per-key residual stddev; sd and z snap to
    // the 1e-6 grid BEFORE the 2.5 threshold compare, so the boolean
    // matches Spark even for a z sitting exactly on the boundary
    "q92_seasonal_anomalies" ->
      """WITH hr AS (SELECT event_type,
        |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS slot,
        |    floor(sum(value) * 1e6 + 0.5) / 1e6 AS y
        |  FROM events GROUP BY 1, 2),
        |srs AS (SELECT event_type, CAST(row_number() OVER
        |      (PARTITION BY event_type ORDER BY slot) - 1 AS BIGINT)
        |      AS idx, y
        |  FROM hr),
        |tr AS (SELECT event_type, idx, y,
        |    CASE WHEN count(*) OVER w = 25 THEN
        |      floor((sum(y) OVER w
        |        - (lag(y, 12) OVER wk + lead(y, 12) OVER wk) / 2) / 24
        |        * 1e6 + 0.5) / 1e6
        |    END AS trend,
        |    idx % 24 AS phase
        |  FROM srs
        |  WINDOW w AS (PARTITION BY event_type ORDER BY idx
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |    wk AS (PARTITION BY event_type ORDER BY idx)),
        |sr AS (SELECT event_type, phase,
        |    floor(avg(y - trend) * 1e6 + 0.5) / 1e6 AS sraw FROM tr
        |  WHERE trend IS NOT NULL GROUP BY 1, 2),
        |sm AS (SELECT event_type,
        |    floor(avg(sraw) * 1e6 + 0.5) / 1e6 AS smean FROM sr GROUP BY 1),
        |res AS (SELECT t.event_type, t.idx,
        |    y - trend - (sr.sraw - sm.smean) AS residual
        |  FROM tr t LEFT JOIN sr
        |      ON t.event_type = sr.event_type AND t.phase = sr.phase
        |    LEFT JOIN sm ON t.event_type = sm.event_type),
        |sd AS (SELECT event_type,
        |    floor(stddev_samp(residual) * 1e6 + 0.5) / 1e6 AS sdv
        |  FROM res WHERE residual IS NOT NULL GROUP BY 1),
        |z AS (SELECT r.event_type, r.idx, r.residual,
        |    floor(r.residual / NULLIF(sd.sdv, 0) * 1e6 + 0.5) / 1e6 AS zs
        |  FROM res r LEFT JOIN sd ON r.event_type = sd.event_type)
        |SELECT event_type, idx,
        |  floor(residual * 1e4 + 0.5) / 1e4 AS residual,
        |  floor(zs * 1e4 + 0.5) / 1e4 AS z,
        |  coalesce(abs(zs) > 2.5, false) AS is_anomaly
        |FROM z ORDER BY event_type, idx""".stripMargin,


    "q93_retention_expiry" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS od,
        |  count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') >= '1996-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q94_schema_evolution" ->
      """SELECT c_custkey, c_name,
        |  CAST(NULL AS VARCHAR) AS c_mktsegment, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin
  )
}
