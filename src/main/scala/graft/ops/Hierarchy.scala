package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening by pointer doubling — resolve every node of an
  * adjacency table `(id, parent_id)` to its root, depth, and materialized
  * path in O(log depth) self-joins instead of O(depth) iterations or a
  * driver-side walk. The same exponential-jumping idea as
  * [[graft.ext.Clusters]]' star contraction, specialized to trees/forests
  * (category taxonomies, org charts, comment threads, domain
  * hierarchies).
  *
  * Each round joins the frontier's CURRENT ancestor pointer against the
  * (static, re-used) jump table, doubling the distance every pointer
  * covers: after k rounds every pointer spans 2^k edges, so a depth-50
  * taxonomy resolves in 6 shuffles. Rows whose pointer reaches a root
  * leave the frontier; the loop ends when the frontier is empty or
  * `maxRounds` (cycle guard — a parent cycle would otherwise loop
  * forever; hitting the cap raises rather than emitting wrong depths).
  */
object Hierarchy {

  /** Flatten `(idCol, parentCol)` adjacency to
    * `(id, root_id, depth, path)` — depth 0 at roots, `path` the
    * root-to-node id chain as an array. Roots are rows with null
    * `parentCol` (or `parentCol == id`). The input must be a forest;
    * cycles fail after `maxRounds` doublings.
    */
  def flatten(
      df: DataFrame,
      idCol: String,
      parentCol: String,
      maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 62,
      s"maxRounds out of 1..62: $maxRounds")
    val spark = df.sparkSession

    // jump(id) = (ancestor 1 edge up, [ids on that 1-edge path], done?)
    // Invariant after round k: anc is 2^k edges up (or the root),
    // trail = ids strictly between node and anc inclusive of anc... —
    // concretely: path from node (exclusive) to anc (inclusive), in
    // upward order; depth = trail length when done.
    val idSql = df.schema(idCol).dataType.sql
    val isRoot = col(parentCol).isNull || col(parentCol) === col(idCol)
    var jump = graft.Cached.persist(df.select(
      col(idCol).as("id"),
      when(isRoot, col(idCol)).otherwise(col(parentCol)).as("anc"),
      when(isRoot, array().cast(s"array<$idSql>"))
        .otherwise(array(col(parentCol))).as("trail"),
      isRoot.as("done")))
    jump.count()

    // the full jump table doubles each round; nodes already done pass
    // through untouched. anc-side lookup is the SAME table, so each
    // round is ONE self-equi-join on the ancestor id. A DANGLING parent
    // (an id referenced but absent from the table) resolves as an
    // implicit root via the coalesces — defined behavior, not a hang.
    var round = 0
    var remaining = jump.filter(!col("done")).count()
    while (remaining > 0 && round < maxRounds) {
      val a = jump.select(col("id").as("a_id"), col("anc").as("a_anc"),
        col("trail").as("a_trail"), col("done").as("a_done"))
      val next = graft.Cached.persist(
        jump.join(a, col("anc") === col("a_id"), "left").select(col("id"),
          when(col("done"), col("anc"))
            .otherwise(coalesce(col("a_anc"), col("anc"))).as("anc"),
          when(col("done"), col("trail"))
            .otherwise(concat(col("trail"),
              coalesce(col("a_trail"), array().cast(s"array<$idSql>"))))
            .as("trail"),
          (col("done") || coalesce(col("a_done"), lit(true))).as("done")))
      next.count()
      jump.unpersist()
      jump = next
      round += 1
      remaining = jump.filter(!col("done")).count()
    }
    val leftover = remaining
    require(leftover == 0,
      s"Hierarchy.flatten: $leftover nodes unresolved after $maxRounds " +
        "doublings - parent cycle or depth > 2^maxRounds")

    // The FINAL round's cached jump table backs the returned (lazy)
    // projection ([[graft.Cached]] decides when it goes). Eagerly
    // materializing here would double-buffer a table as large as the
    // input for callers that only scan the result once.
    jump.select(
      col("id"),
      col("anc").as("root_id"),
      size(col("trail")).cast("long").as("depth"),
      concat(reverse(col("trail")), array(col("id"))).as("path"))
  }
}
