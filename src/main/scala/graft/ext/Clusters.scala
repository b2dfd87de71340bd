package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn the PAIR output of the dedup
  * operators ([[Dedup.nearDuplicatesMinhash]] and friends, reference
  * etl_projects dedup semantics per SURVEY.md §7.5) into connected
  * components, so "A~B, B~C" collapses into one cluster {A, B, C} with a
  * single canonical representative — the last step an LLM-corpus dedup
  * actually needs (pairs alone can't answer "which docs do I drop?").
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC 2014). Each round is two shuffles of the
  * CURRENT edge set (a groupBy-min plus an equi-join back — never a cross
  * join, never whole-graph state on one task), and the edge set only
  * shrinks toward stars, so a round's cost is O(|E|) regardless of
  * component shape. Rounds to converge are O(log² n) in theory and 2–4 in
  * practice on dedup graphs (near-clique components). That bound is what
  * makes this the 100 TB answer; naive min-label propagation converges in
  * O(diameter) rounds — fine for cliques, pathological on chain-shaped
  * drift clusters (doc A ~ A' ~ A'' ~ …) which real crawl corpora do form.
  *
  * Iteration hygiene at scale: every round truncates lineage with an eager
  * `localCheckpoint` — without it the logical plan doubles per round and
  * analysis cost explodes by iteration ~15. On a multi-tenant cluster
  * prefer a reliable `checkpoint` dir (executor loss under localCheckpoint
  * forces a job restart); the semantics here don't change.
  */
object Clusters {

  /** Connected components of the undirected pair graph.
    *
    * @param pairs one row per edge; direction and duplicates are ignored.
    * @return `(id, cluster_id)` — one row per DISTINCT node appearing in
    *         `pairs`, `cluster_id` = smallest node id reachable from `id`
    *         (deterministic). Nodes never mentioned in `pairs` are absent
    *         by contract: the caller unions singletons back if needed
    *         (see [[keepCanonical]]).
    * @param maxIterations hard stop: throws rather than silently returning
    *         a partially-contracted (WRONG) clustering. The O(log² n)
    *         bound makes the default unreachable for any real input.
    * @param driverFinishEdges when the current edge set (initial, or after
    *         any contraction round) is at or below this many edges AND the
    *         id type is LongType, finish with a driver-side union-find
    *         instead of iterating to the distributed fixpoint. Every
    *         round preserves connectivity and the node set, so union-find
    *         over ANY round's edges yields the identical min-id
    *         clustering (spec-pinned against the distributed path) — and
    *         the loop is round-LATENCY-bound precisely in this regime, so
    *         the tail rounds cost scheduling, not work. The collect is
    *         explicitly bounded: 1M edges ≈ 16 MB, the same posture as
    *         k-means' capped sample — at a 100 TB corpus the contracted
    *         edge set is O(nodes) and simply never crosses the threshold,
    *         leaving the distributed path in charge. 0 disables.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIterations: Int = 25,
      driverFinishEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // canonical undirected edges, self-loops and duplicates dropped
    var edges = pairs.select(
      least(col(aCol), col(bCol)).as("u"),
      greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)

    def unionFindFinish(): DataFrame = {
      val es = graft.Driver.collect(edges.select(col("u"), col("v")),
        math.min(driverFinishEdges, Int.MaxValue - 1L).toInt,
        "Clusters.connectedComponents (driverFinishEdges)")
        .map(r => (r.getLong(0), r.getLong(1)))
      unpersistCheckpoint(edges)
      // index-compressed union-find with path compression; the component
      // label is resolved to the MINIMUM member id afterwards (the label
      // contract of the distributed fixpoint)
      val ids = scala.collection.mutable.HashMap.empty[Long, Int]
      val order = new scala.collection.mutable.ArrayBuffer[Long](2 * es.length)
      def idx(x: Long): Int =
        ids.getOrElseUpdate(x, { order += x; order.length - 1 })
      val parent = Array.tabulate(2 * es.length)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(idx(a)), find(idx(b)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minOf = scala.collection.mutable.HashMap.empty[Int, Long]
      order.indices.foreach { i =>
        val r = find(i)
        if (!minOf.contains(r) || order(i) < minOf(r)) minOf(r) = order(i)
      }
      val rows = order.indices.map(i => (order(i), minOf(find(i))))
      spark.createDataFrame(rows).toDF("id", "cluster_id")
    }

    var converged = false
    var it = 0
    // the previous round's edge count, carried across rounds — recounting
    // the checkpointed set every round would re-pay one whole job of
    // driver round-trip latency per iteration (the loop is latency-bound,
    // not work-bound: measured identical wall time at 4 and 32 threads)
    var prevCount = -1L
    if (driverFinishEdges > 0 && longIds) {
      prevCount = edges.count()
      if (prevCount <= driverFinishEdges) return unionFindFinish()
    }
    while (!converged && it < maxIterations) {
      // large-star: every node connects its LARGER neighbors to the
      // minimum of its neighborhood (incl. itself). Operates on the
      // symmetric view; emitted edges keep (min, larger) orientation.
      val sym = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

      // small-star: every node connects its SMALLER-or-equal neighbors
      // (and itself) to the neighborhood minimum. Input edges are already
      // (small, large) oriented, so the "smaller neighbors of u" view is
      // just the edge list read as (large → small).
      val symLE = large.select(col("v").as("u"), col("u").as("v"))
      val minsS = symLE.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      // LAZY checkpoint, materialized by the count below — computing,
      // caching, and lineage-truncating the round's edge set in ONE job
      // instead of an eager-checkpoint job plus a count job. The loop is
      // round-LATENCY-bound at moderate edge counts (measured identical
      // wall time at 4 and 32 threads), so one fewer job per round is a
      // direct wall-clock cut; the count fully materializes every
      // partition before the next round's two-branch union reads them,
      // so no partition is ever computed twice.
      val small = symLE.join(minsS, "u")
        .select(col("m").as("nu"), col("v"))
        .unionAll(minsS.select(col("m").as("nu"), col("u").as("v")))
        .select(col("nu").as("u"), col("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)

      // exact fixpoint test (counts + one-sided except on the checkpointed
      // sets): equal counts and an empty difference ⇒ identical edge sets.
      // No checksum false-positives.
      val nPrev = if (prevCount >= 0) prevCount else edges.count()
      val nCurr = small.count()
      prevCount = nCurr
      converged = nPrev == nCurr &&
        small.exceptAll(edges).limit(1).isEmpty
      // `small` is fully materialized by the count above and the fixpoint
      // test is the last read of the previous round's edges — release the
      // old blocks now, or 2-4 copies of the edge set sit in executor
      // storage until driver GC happens to collect the DataFrames (at
      // 100 TB that is the difference between fitting and spilling every
      // later round).
      unpersistCheckpoint(edges)
      edges = small
      it += 1
      // the first rounds do the massive contraction; once the survivor
      // set is driver-sized, the remaining rounds cost scheduling
      // latency, not work — finish locally
      if (!converged && driverFinishEdges > 0 && longIds &&
          nCurr <= driverFinishEdges)
        return unionFindFinish()
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxIterations rounds " +
        "(raise maxIterations; expected O(log^2 n) rounds)")

    // fixpoint edges form stars rooted at each component's minimum.
    // (The FINAL round's checkpoint stays pinned on purpose — the returned
    // plan reads it lazily; it is released by the session's ContextCleaner
    // once the caller drops the result.)
    edges.select(col("v").as("id"), col("u").as("cluster_id"))
      .unionAll(edges.select(col("u").as("id"), col("u").as("cluster_id")))
      .distinct()
  }

  /** Release the storage blocks behind a `localCheckpoint(eager = true)`d
    * DataFrame. `Dataset.unpersist` only clears CacheManager entries
    * (`.persist`/`.cache`), NOT checkpoint blocks — those are pinned on the
    * RDD the checkpoint wrapped in the plan's `LogicalRDD`, so that is what
    * must be unpersisted. Non-blocking: the blocks drop asynchronously.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The dedup DECISION: keep each cluster's canonical (minimum-id) member
    * plus every document not in any duplicate pair. One anti-join against
    * the (small — one row per clustered doc) component table.
    */
  def keepCanonical(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
