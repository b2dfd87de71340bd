package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit hybrid skew join: split the probe side on its measured hot
  * keys, give the hot slice a broadcast (or salted) plan, shuffle only
  * the cold remainder, and union — result byte-identical to the plain
  * join, because hot/cold is a partition of the probe rows and each slice
  * joins the same build rows.
  *
  * AQE's skew-join handling already splits oversized SHUFFLE partitions
  * at runtime, but only for sort-merge joins it can see end to end.
  * This operator is for what that can't reach: skew known ahead of time
  * ([[Profile.keySkew]] is the pre-flight that measures it), plans where
  * the skewed join feeds an aggregation AQE won't re-split, and engines/
  * modes without AQE. The hot-key set is bounded by construction (topK
  * cap), so the driver never holds more than a page of keys.
  *
  * Plan shape at 100 TB: the rows of the few hottest keys — the ones that
  * would pin single reducers for hours — never enter ANY shuffle: they
  * stay where the scan put them and meet a broadcast of the (tiny,
  * hot-filtered) build slice. Everything else pays exactly the plain
  * join's cost. `broadcastHot = false` swaps the hot path for classic
  * salt-and-replicate (probe salted by partition id, build slice
  * replicated saltFactor ways) for the rare case of a build side too wide
  * to broadcast even when filtered to the hot keys.
  */
object SkewJoin {

  /** Inner or left-outer equi-join of `left` (big, skewed probe) with
    * `right` (build) on `leftKey == rightKey`, skew-split at keys whose
    * measured count exceeds `tasks` times an average task's share (the
    * same integer arithmetic [[Profile.keySkew]] reports as `salt > 1`).
    */
  def join(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      joinType: String = "inner",
      topK: Int = 100,
      tasks: Int = 200,
      broadcastHot: Boolean = true,
      saltFactor: Int = 16): DataFrame = {
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer",
      s"hybrid skew join supports inner/left joins, got $joinType")

    val hotKeys = graft.Driver.collect(
      Profile.keySkew(left, leftKey, topK = topK, tasks = tasks)
        .filter(col("salt") > 1).select(leftKey),
      topK, "SkewJoin.join hot keys (topK)").map(_.get(0))
    if (hotKeys.isEmpty)
      return left.join(right, col(leftKey) === col(rightKey), joinType)

    // null keys never match an equi-join predicate, so isin(hot) = false
    // routes them to the cold slice, which handles them per joinType
    val isHot = col(leftKey).isin(hotKeys.toSeq: _*)
    val leftHot = left.filter(isHot)
    val leftCold = left.filter(!isHot || col(leftKey).isNull)
    val rightHot = right.filter(col(rightKey).isin(hotKeys.toSeq: _*))

    val cold = leftCold.join(right, col(leftKey) === col(rightKey), joinType)
    val hot =
      if (broadcastHot)
        leftHot.join(broadcast(rightHot),
          col(leftKey) === col(rightKey), joinType)
      else {
        // salt-and-replicate: probe rows spread by their scan partition,
        // build slice replicated across every salt value
        val salted = leftHot
          .withColumn("__graft_salt_l",
            pmod(spark_partition_id(), lit(saltFactor)))
        val replicated = rightHot
          .withColumn("__graft_salt_r",
            explode(lit((0 until saltFactor).toArray)))
        salted
          .join(replicated,
            col(leftKey) === col(rightKey) &&
              col("__graft_salt_l") === col("__graft_salt_r"), joinType)
          .drop("__graft_salt_l", "__graft_salt_r")
      }
    cold.unionByName(hot)
  }
}
