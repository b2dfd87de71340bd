package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

import graft.functions.DeletionHashes

/** Blocked edit-distance (fuzzy) join — record linkage on near-equal keys
  * without an all-pairs comparison.
  *
  * Candidates come from an equi-join on FastSS deletion-neighborhood
  * hashes ([[graft.functions.DeletionHashes]]): each side explodes the
  * distinct 64-bit hashes of its key with up to `maxDist` characters
  * deleted, and any two keys within Levenshtein distance `maxDist` are
  * GUARANTEED to collide on at least one hash (delete each edit's touched
  * position from whichever side carries it — the pigeonhole behind
  * FastSS). The exact `levenshtein` predicate then removes false
  * positives, so the result equals the naive cross-join definition — which
  * is exactly what the q54 oracle re-derives.
  *
  * 100 TB shape: the only shuffle is the (id, hash64) candidate join —
  * ids travel, keys don't; key text attaches per SIDE after candidates
  * are deduplicated, not per candidate pair. Neighborhood size is
  * 1 + n + n(n−1)/2 hashes at `maxDist = 2` for an n-char key, so keys
  * should be bounded identifiers (names, titles, normalized prefixes),
  * not whole documents — chunk or prefix long text first.
  *
  * Reference context: the reference platform's joins are exact-key only
  * (`etl-projects` `utils/etls.py` dimension joins); fuzzy matching is the
  * standard extension a dedup/linkage pipeline needs on dirty keys.
  */
object FuzzyJoin {

  private def variantHashes(c: Column, d: Int): Column =
    GraftShim.column(DeletionHashes(GraftShim.expression(c), d))

  /** Pairs `(idA, idB, dist)` from `left` × `right` with
    * `levenshtein(leftKey, rightKey) <= maxDist` (`maxDist` ∈ {1, 2}).
    * Output ids are the caller's columns renamed `id_a`/`id_b` with
    * `dist` the exact edit distance.
    */
  def join(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"fuzzy join supports maxDist 1..2, got $maxDist")
    val lv = left
      .select(col(leftId).as("id_a"), col(leftKey).as("_ka"))
      .where(col("_ka").isNotNull)
    val rv = right
      .select(col(rightId).as("id_b"), col(rightKey).as("_kb"))
      .where(col("_kb").isNotNull)
    val cand = lv
      .select(col("id_a"), explode(variantHashes(col("_ka"), maxDist)).as("_vh"))
      .join(
        rv.select(col("id_b"), explode(variantHashes(col("_kb"), maxDist)).as("_vh")),
        "_vh")
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(lv, "id_a")
      .join(rv, "id_b")
      .withColumn("dist", levenshtein(col("_ka"), col("_kb")))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Self fuzzy join: unordered pairs (`id_a < id_b`) of rows whose keys
    * are within `maxDist` edits.
    *
    * Rows are first collapsed to UNIQUE KEYS — edit distance depends only
    * on the key, so a group of m key-identical rows (the norm on dirty
    * real-world keys) costs one variant explosion and one levenshtein
    * verify per partner GROUP instead of per row pair, and its own m²/2
    * intra pairs are emitted at dist 0 without touching the hash join at
    * all (the same lever as `Dedup`'s unique-token-set collapse; members
    * expand by explode after verification). The group table is cached
    * ([[graft.Cached]]): it feeds the hash join, the verify attach, and
    * the expansion.
    */
  def selfJoin(
      df: DataFrame, idCol: String, keyCol: String, maxDist: Int)
      : DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"fuzzy join supports maxDist 1..2, got $maxDist")
    val groups = graft.Cached.persist(df
      .select(col(idCol).as("_id"), col(keyCol).as("_k"))
      .where(col("_k").isNotNull)
      .groupBy(col("_k"))
      .agg(min(col("_id")).as("_gid"),
        collect_list(col("_id")).as("_members")))

    val v = groups.select(col("_gid"),
      explode(variantHashes(col("_k"), maxDist)).as("_vh"))
    val cand = v.as("a")
      .join(v.as("b"), col("a._vh") === col("b._vh") &&
        col("a._gid") < col("b._gid"))
      .select(col("a._gid").as("_ga"), col("b._gid").as("_gb"))
      .distinct()

    // one exact verify per key pair; members attach to survivors only
    val cross = cand
      .join(groups.select(col("_gid").as("_ga"), col("_k").as("_ka"),
        col("_members").as("_ma")), "_ga")
      .join(groups.select(col("_gid").as("_gb"), col("_k").as("_kb"),
        col("_members").as("_mb")), "_gb")
      .withColumn("dist", levenshtein(col("_ka"), col("_kb")))
      .where(col("dist") <= maxDist)
      .select(explode(col("_ma")).as("a"), col("_mb"), col("dist"))
      .select(col("a"), explode(col("_mb")).as("b"), col("dist"))
      .select(
        least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"),
        col("dist"))

    // key-identical rows: dist 0 by definition, no hash join involved
    val intra = groups
      .filter(size(col("_members")) > 1)
      .select(explode(col("_members")).as("a"), col("_members"))
      .select(col("a"), explode(col("_members")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        lit(0).cast("int").as("dist"))

    cross.unionByName(intra)
  }
}
