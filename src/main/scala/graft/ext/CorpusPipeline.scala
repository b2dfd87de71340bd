package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The curation chain assembled end-to-end from the library's proven
  * parts — what a user actually runs before a corpus ships: exact dedup
  * → quality floor → eval-set decontamination → deterministic split
  * assignment. One composed declarative plan; every stage is the
  * operator its own oracle-backed query verifies, so the composition is
  * verifiable too (q81 replays the entire chain in SQL).
  *
  * Scale shape inherits from the parts: dedup is one hash aggregation +
  * a semi join on the kept id; the quality floor is a scan-local
  * projection; decontamination broadcasts the eval grams so the corpus
  * never shuffles before its narrow hit aggregation; the split label is
  * a pure projection. Nothing in the chain materializes an intermediate
  * corpus copy.
  */
object CorpusPipeline {

  /** Curate `docs` into labeled training splits.
    *
    * Drops: non-canonical exact duplicates (min-id survives), documents
    * under `minQuality` ([[TextAnalysis.qualityScore]]'s 0..1 blend),
    * documents failing the Gopher rule battery when `gopher` is set
    * ([[TextAnalysis.gopherQualitySignals]] at the given thresholds —
    * the published quality floor, tuned per corpus), documents sharing
    * any distinct word `nGram`-gram with `evalDocs`, and the eval
    * documents themselves if present in `docs`. Survivors get a
    * deterministic `split` label ([[Curation.assignSplit]]).
    *
    * Output: `(idCol, split)` — join back to `docs` for payloads, so the
    * curated id set stays a narrow frame however wide the corpus is.
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      minQuality: Double = 0.5,
      nGram: Int = 13,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "",
      gopher: Option[TextAnalysis.GopherThresholds] = None): DataFrame = {
    require(minQuality >= 0.0 && minQuality <= 1.0,
      s"minQuality out of [0,1]: $minQuality")
    val canonical = Dedup.dedupExact(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val kept = docs
      .join(canonical, Seq(idCol), "left_semi")
      // threshold on the 6-decimal-rounded score: the cut must be
      // engine-stable (a raw float compare could flip a document sitting
      // within one ulp of the threshold between engines)
      .filter(floor(TextAnalysis.qualityScore(col(textCol)) * 1e6 + 0.5)
        / 1e6 >= minQuality)
    val floored = gopherFloor(kept, idCol, textCol, gopher)
    val hits = Curation.contamination(
      floored, idCol, textCol, evalDocs, evalIdCol, evalTextCol, nGram)
      .select(col(idCol))
    val evalIds = evalDocs.select(col(evalIdCol).as(idCol))
    // hits is bounded by the CORPUS (every doc could be contaminated),
    // not the eval set — so it must not be broadcast; evalIds IS bounded
    // by the eval set and broadcasts safely
    val clean = floored
      .join(hits, Seq(idCol), "left_anti")
      .join(broadcast(evalIds), Seq(idCol), "left_anti")
    Curation.assignSplit(clean, idCol, splits, salt)
      .select(col(idCol), col("split"))
  }

  /** The Gopher quality floor as a stage: survivors of the rule battery
    * at `thresholds`, or `docs` untouched when no thresholds are given.
    * The battery's fractions are all int/int IEEE divisions, so the
    * boolean cut is engine-stable without rounding (unlike the score
    * blend above, which needs the 1e-6 grid).
    */
  private def gopherFloor(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gopher: Option[TextAnalysis.GopherThresholds]): DataFrame =
    gopher.fold(docs) { th =>
      docs.join(
        TextAnalysis.gopherQualitySignals(docs, idCol, textCol, th)
          .filter(col("gopher_pass"))
          .select(col(idCol)),
        Seq(idCol), "left_semi")
    }

  /** The curation funnel as numbers — one row per stage with the
    * surviving document count, the drop-rate dashboard every corpus
    * release ships with. Stage keys are ordinal-prefixed so the report
    * sorts in pipeline order; the split rows break the final stage down.
    *
    * Shape: stage membership reduces to ONE narrow per-document flags
    * frame — each expensive subplan (the dedup groupBy, the Gopher
    * battery, the contamination gram join) is evaluated exactly once,
    * and every stage count is a conditional sum over the persisted
    * (id, flags, split) frame. The obvious union-of-`count()`s
    * alternative re-evaluates the whole chain per stage row (measured:
    * 59 parquet scans of the corpus in one report plan, zero exchange
    * reuse) — per-stage counts must never cost one corpus pass per
    * stage at 100 TB. Stage semantics are [[curate]]'s, applied to the
    * same inputs in the same order: flags AND rather than re-filter, so
    * the counts cannot drift from the curate outcome (the split column
    * is [[Curation.assignSplit]]'s pure md5 projection, identical
    * per id).
    */
  def report(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      minQuality: Double = 0.5,
      nGram: Int = 13,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "",
      gopher: Option[TextAnalysis.GopherThresholds] = None): DataFrame = {
    val canonical = Dedup.dedupExact(docs, idCol, textCol)
      .select(col("keep_id").as(idCol), lit(true).as("_d"))
    val gopherMark = gopher.map { th =>
      // per-doc signals — computing them corpus-wide flags exactly the
      // docs the sequential battery would (no corpus-level terms)
      TextAnalysis.gopherQualitySignals(docs, idCol, textCol, th)
        .filter(col("gopher_pass"))
        .select(col(idCol), lit(true).as("_g"))
    }
    // narrow survival frame: id + one boolean per stage (persisted — a
    // few bytes per document, read by every count below)
    val qOk = (floor(TextAnalysis.qualityScore(col(textCol)) * 1e6 + 0.5)
      / 1e6 >= minQuality).as("_q")
    val base0 = docs.select(col(idCol), qOk)
      .join(canonical, Seq(idCol), "left")
    val base = graft.Cached.persist(
      gopherMark.fold(base0.withColumn("_g", lit(true)))(gm =>
          base0.join(gm, Seq(idCol), "left"))
        .select(col(idCol),
          coalesce(col("_d"), lit(false)).as("_d"),
          coalesce(col("_q"), lit(false)).as("_q"),
          coalesce(col("_g"), lit(false)).as("_g")))
    // contamination runs against the FLOORED survivors (curate's input
    // to it) — the text rejoins from the scan, the expensive upstream
    // flags come from the persisted base
    val floored = base.filter(col("_d") && col("_q") && col("_g"))
      .select(col(idCol))
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
    val hits = Curation.contamination(
      floored, idCol, textCol, evalDocs, evalIdCol, evalTextCol, nGram)
      .select(col(idCol), lit(true).as("_h"))
    val evalIds = evalDocs.select(col(evalIdCol).as(idCol)).distinct()
      .withColumn("_e", lit(true))
    // persisted as well: the contamination subplan lives inside this
    // frame, and the stage rows below are union branches — without the
    // cache each branch would re-run the gram join
    // hits joins shuffled (corpus-bounded, same reasoning as curate);
    // evalIds broadcasts (eval-set-bounded)
    val flags = graft.Cached.persist(Curation.assignSplit(
      base
        .join(hits, Seq(idCol), "left")
        .join(broadcast(evalIds), Seq(idCol), "left")
        .withColumn("_s", col("_d") && col("_q") && col("_g") &&
          col("_h").isNull && col("_e").isNull),
      idCol, splits, salt))
    def row(name: String, c: Column) =
      flags.agg(sum(when(c, 1L).otherwise(0L)).as("n_docs"))
        .select(lit(name).as("stage"), col("n_docs"))
    // the gopher stage key sorts between 2_quality and 3_decontaminated
    // ('_' < 'g'), so the funnel stays in pipeline order; the row only
    // appears when the battery is on — existing reports are unchanged
    row("0_input", lit(true))
      .unionByName(row("1_deduped", col("_d")))
      .unionByName(row("2_quality", col("_d") && col("_q")))
      .unionByName(gopher.fold(row("", lit(true)).limit(0))(_ =>
        row("2g_gopher", col("_d") && col("_q") && col("_g"))))
      .unionByName(row("3_decontaminated", col("_s")))
      .unionByName(flags.filter(col("_s")).groupBy("split")
        .agg(count(lit(1)).as("n_docs"))
        .select(concat(lit("4_split_"), col("split")).as("stage"),
          col("n_docs")))
  }
}
