package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Winnow

/** Substring-level duplicate detection via winnowing fingerprints —
  * the span-granular complement of [[Dedup]]'s whole-document methods.
  * Document-level minhash misses the corpus pattern that actually poisons
  * LLM training sets: thousands of distinct pages all embedding the same
  * boilerplate paragraph, license header, or templated passage. Winnowing
  * ([[graft.functions.WinnowFingerprints]], the MOSS scheme) samples
  * ~2/(w+1) of character-k-gram hashes yet GUARANTEES that any shared
  * substring of `k + w − 1` chars produces a shared fingerprint — so an
  * equi-join on fingerprints is a complete candidate generator for
  * long-span overlap, at a fraction of the all-grams volume.
  *
  * Scale design: candidates come from one equi-join on the fingerprint
  * value (never a cross join); ubiquitous fingerprints — boilerplate
  * shared by more documents than `maxDocsPerFp` — are dropped BEFORE the
  * pair join, because a value shared by m docs would emit m² pair rows
  * (the classic stop-word blowup) while carrying no dedup signal beyond
  * "this is template text". Ids travel, text does not.
  */
object Fingerprint {

  /** Distinct winnowing fingerprints of `text` (k-char grams, window w).
    * `portable = true` = MD5₄₈ gram hashes, reproducible by any engine
    * (the setting for persisted fingerprint indexes and the DuckDB
    * oracle); `portable = false` = XXH64, cheaper, job-internal.
    */
  def fingerprints(
      text: Column, k: Int = 30, w: Int = 8,
      portable: Boolean = true): Column =
    Winnow.fingerprints(text, k, w, portable)

  /** Document pairs sharing at least `minShared` winnowing fingerprints —
    * i.e. likely sharing one or more substrings around `k + w − 1` chars
    * long. Output: `(id_a, id_b, n_shared)` with `id_a < id_b`.
    *
    * One fingerprint explode, one self-equi-join on the 8-byte value,
    * one grouped count. `maxDocsPerFp` caps the join's per-key fan-out;
    * raising `minShared` separates "one boilerplate line in common" from
    * "substantially copied".
    */
  def spanCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      w: Int = 8,
      minShared: Int = 2,
      maxDocsPerFp: Int = 1000,
      portable: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 2, s"maxDocsPerFp must be >= 2, got $maxDocsPerFp")
    // Cached: the exploded (id, fingerprint) frame is referenced by
    // the stop-list aggregation AND both sides of the pair join — without
    // the cache each reference re-scans the corpus and re-hashes every
    // gram (the dominant cost), the same triple-evaluation hazard the
    // minhash path documents. 16 bytes/row spills safely if it must.
    val fp = graft.Cached.persist(Dedup.ensureParallelism(
      df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(fingerprints(col(textCol), k, w, portable)).as("f")))
    // stop-fingerprint list: values carried by more docs than the cap.
    // Tiny by construction (only the boilerplate outliers qualify), so it
    // broadcasts and the cap costs one mergeable count plus an anti-join —
    // the full explode is never windowed or re-shuffled.
    val stop = fp.groupBy("f").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxDocsPerFp).select("f")
    val kept = fp.join(broadcast(stop), Seq("f"), "left_anti")
    kept.select(col("id").as("id_a"), col("f"))
      .join(kept.select(col("id").as("id_b"), col("f")), Seq("f"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Excise every character span that too many documents share — the
    * ACTIONABLE form of substring-level dedup (the span-candidate pairs
    * above only FIND them). Training corpora are full of boilerplate
    * passages (license headers, templated intros, navigation text)
    * embedded in otherwise-distinct pages; repeated passages measurably
    * hurt LM training, and the fix is to cut the span, not drop the
    * document.
    *
    * Semantics (exact, engine-reproducible): every k-char gram whose
    * distinct-document frequency exceeds `maxDocs` is "hot"; each hot
    * gram occurrence marks the interval `[i, i+k-1]`; overlapping or
    * adjacent intervals merge; merged spans are cut from the text.
    * Output: `(idCol, clean, n_spans_removed, n_chars_removed)` — docs
    * with nothing cut (including those shorter than k) pass through with
    * zero counts.
    *
    * Scale shape: ONE linear gram explode (hash + position, 12 bytes a
    * row — text never leaves its scan), persisted for the run because two
    * stages read it (the hot-count aggregation and the hit join — without
    * the persist each would re-hash every gram, the dominant cost), one
    * distinct-count aggregation per gram, hot grams equi-joined back
    * (UNHINTED: the hot-gram set is data-dependent and unbounded — with a
    * small `maxDocs` most natural-language grams can exceed the cap — so
    * the plan lets AQE size it at runtime instead of forcing a broadcast
    * that could OOM the driver), then interval merge + reconstruction as
    * per-doc windows over HOT positions only — the classic suffix-array
    * formulation of exact substring dedup re-expressed as joins a
    * 1000-executor cluster can run. The corpus projection is scanned 3×
    * (gram build, segment reassembly, pass-through join) — plain
    * column-pruned parquet scans; only the gram hashing is the expensive
    * pass, and it runs once. Gram hashes are portable MD5₄₈ (the
    * [[fingerprints]] convention) so a persisted hot-gram list is engine-
    * and version-stable.
    *
    * EAGER ([[Dedup.containmentPairs]]'s convention): the result is
    * materialized via `localCheckpoint` and the gram cache released by a
    * [[graft.Cached.scope]]. The output is corpus-sized, and so is the
    * checkpoint that holds it.
    *
    * `exact = true` (the oracle regime) counts distinct docs per gram
    * exactly; at corpus scale set it false for the mergeable
    * `approx_count_distinct` (±2% default error only ever misclassifies
    * grams sitting ON the cap — the q62/q64 sketch-vs-oracle convention).
    */
  def exciseSharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      maxDocs: Int = 10,
      exact: Boolean = true): DataFrame =
    graft.Cached.scope(exciseSharedSpansPlan(df, idCol, textCol, k, maxDocs,
      exact).localCheckpoint(true))

  /** The lazy excision plan (it caches the gram-position frame) — split
    * out so the plan-shape spec and [[graft.Plans]] pin the REAL physical
    * plan (the eager method's executed plan is a checkpoint scan).
    */
  private[graft] def exciseSharedSpansPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxDocs: Int,
      exact: Boolean): DataFrame = {
    require(k >= 2, s"gram length k must be >= 2, got $k")
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val base = df.select(col(idCol), col(textCol).as("_text"))
    // every gram position: (id, i, hash) — linear in corpus chars; read by
    // the hot aggregation AND the hit join, so hashed once and cached
    val pos = graft.Cached.persist(Dedup.ensureParallelism(base)
      .filter(col("_text").isNotNull && length(col("_text")) >= k)
      .select(col(idCol), col("_text"),
        explode(sequence(lit(1), length(col("_text")) - (k - 1))).as("_i"))
      .select(col(idCol), col("_i"),
        conv(substring(md5(expr(s"substring(_text, _i, $k)")), 1, 12),
          16, 10).cast("long").as("_h")))
    val hot = pos.groupBy("_h")
      .agg((if (exact) count_distinct(col(idCol))
        else approx_count_distinct(col(idCol))).as("_nd"))
      .filter(col("_nd") > maxDocs).select("_h")
    // no broadcast hint: the hot set is data-dependent and unbounded, and
    // both join inputs come off the persisted gram frame, so AQE has real
    // runtime sizes to pick broadcast vs shuffle safely
    val hits = pos.join(hot, Seq("_h"))
      .select(col(idCol), col("_i"))
    // gaps-and-islands merge of [i, i+k-1] intervals, per doc, over hot
    // positions only (the windows never see the full gram stream)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("_i")
    val spans = hits
      .withColumn("_pe", max(col("_i") + (k - 1))
        .over(wOrd.rowsBetween(Long.MinValue, -1)))
      .withColumn("_ng",
        when(col("_pe").isNull || col("_i") > col("_pe") + 1, 1)
          .otherwise(0))
      .withColumn("_grp", sum(col("_ng")).over(wOrd))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_i")).as("_s"),
        (max(col("_i")) + (k - 1)).as("_e"))
    // kept segments: before each span (from the previous span's end) plus
    // the tail after the last span; reassembled in order
    val wSp = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("_s")
    val segs = spans
      .withColumn("_pe", coalesce(lag(col("_e"), 1).over(wSp), lit(0)))
      .select(col(idCol), (col("_pe") + 1).as("_st"),
        (col("_s") - col("_pe") - 1).as("_ln"), col("_s").as("_ord"))
    val cuts = spans.groupBy(idCol)
      .agg(max(col("_e")).as("_me"), count(lit(1)).as("_nsp"),
        sum(col("_e") - col("_s") + 1).as("_nch"))
    val pieces = segs
      .unionByName(cuts.select(col(idCol), (col("_me") + 1).as("_st"),
        lit(null).cast("int").as("_ln"),
        lit(Int.MaxValue).as("_ord")))
      .join(base, Seq(idCol))
      .select(col(idCol), col("_ord"),
        col("_text").substr(col("_st"),
          coalesce(col("_ln"), length(col("_text")) - col("_st") + 1))
          .as("_piece"))
    val rebuilt = pieces.groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_ord"), col("_piece")))),
        s => s.getField("_piece")), "").as("_clean"))
    base
      .join(rebuilt, Seq(idCol), "left")
      .join(cuts.select(col(idCol), col("_nsp"), col("_nch")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_clean"), col("_text")).as("clean"),
        coalesce(col("_nsp"), lit(0L)).as("n_spans_removed"),
        coalesce(col("_nch"), lit(0L)).cast("long").as("n_chars_removed"))
  }
}
