package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CellFunctions, VectorFunctions}

/** Distributed k-means over an embedding column — the clustering primitive
  * behind semantic dedup (SemDeDup prunes within-cluster near-duplicates),
  * corpus domain discovery, and cluster-balanced data mixtures. The
  * reference has no vector operations at all; this extends the engine's
  * similarity stack ([[Similarity]] trains its IVF codebook on a bounded
  * DRIVER-side sample — fine for a quantizer, not a clustering of the
  * corpus).
  *
  * Design for 100 TB:
  *  - every iteration is ONE pass: centroids broadcast inside a single
  *    codegen'd assignment expression (the codebook rides along as a
  *    reference object, not nlist × dims literal nodes), then a refit
  *    aggregation over `(cell, dim)` — map-side partial sums collapse each
  *    partition to at most k × dims rows before the shuffle;
  *  - only O(k × dims) ever reaches the driver (the new centroids);
  *    assignments are never collected;
  *  - deterministic throughout: init = the k smallest-id vectors, distance
  *    ties break to the smaller cell id, so reruns produce identical
  *    models (no seeded sampling to disagree across runs).
  *
  * Cross-engine reproducibility: `roundDigits >= 0` rounds each refit
  * centroid component with the floor form (`floor(x*10^d + 0.5)/10^d`,
  * bit-identical in Spark and DuckDB double math) before the float cast,
  * which pins the model to something an independent engine can re-derive
  * exactly — the t-query oracle rebuilds the whole training loop in SQL.
  */
object Clustering {

  /** Ordered centroids; cell id = position. */
  final case class Model(centroids: Seq[Array[Float]]) {
    require(centroids.nonEmpty, "empty model")
    def k: Int = centroids.size
    def dims: Int = centroids.head.length

    /** Persistable form, compatible with [[Similarity.centroidsToDF]]'s
      * `(cell int, centroid array<float>)` layout.
      */
    def toDF(spark: SparkSession): DataFrame =
      Similarity.centroidsToDF(spark, centroids)
  }

  object Model {
    def fromDF(df: DataFrame): Model =
      Model(Similarity.centroidsFromDF(df))
  }

  /** The IVF sizing rule: `nlist ~ √corpus` (the standard FAISS guidance,
    * and measured on this repo's corpus — the removed `nlistStudy`,
    * `git show 52f1ea3:src/main/scala/graft/Prof.scala`: at the
    * SAME probe fraction, rule-sized cells beat fixed nlist=16 on both
    * wall time and recall, because finer cells make the probed fraction
    * better targeted). Serving cost per query is `nprobe × corpus /
    * nlist`, so a fixed nlist under a growing corpus silently degrades
    * toward a linear scan per cell — size the codebook per snapshot with
    * this, not a constant. Rounded √n, floored at 1; cap at the trainer's
    * budget if the caller's sample is small (k-means needs ≥ k vectors).
    */
  def suggestNlist(corpusCount: Long): Int = {
    require(corpusCount >= 0, s"suggestNlist: negative count $corpusCount")
    math.max(1L, math.round(math.sqrt(corpusCount.toDouble))).toInt
  }

  /** Lloyd's algorithm, full-corpus. `iterations` = number of refits after
    * the deterministic first-k-by-id init; a cell that captures no vectors
    * keeps its previous centroid (same policy as
    * [[Similarity.trainCentroids]]).
    */
  def kmeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      roundDigits: Int = -1): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val init = df.select(col(vecCol)).orderBy(col(idCol)).head(k)
      .map(_.getSeq[Float](0).toArray)
    require(init.length == k,
      s"kmeans: need at least k=$k vectors, found ${init.length}")
    var centroids: Seq[Array[Float]] = init.toSeq
    val refitRows = math.min(k.toLong * init.head.length, Int.MaxValue - 1L).toInt

    for (_ <- 0 until iterations) {
      val avgComponent = {
        val a = avg("val")
        if (roundDigits < 0) a
        else {
          val p = math.pow(10, roundDigits)
          floor(a * p + 0.5) / p
        }
      }
      val refit = graft.Driver.collect(
        df.select(cellOf(col(vecCol), centroids).as("cell"),
            posexplode(col(vecCol)).as(Seq("pos", "val")))
          .groupBy("cell", "pos")
          .agg(avgComponent.as("c")),
        refitRows, "Clustering.kmeans refit (k * dims)")
        .groupBy(_.getInt(0))
        .view.mapValues { rows =>
          rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }.toMap
      centroids = centroids.zipWithIndex.map { case (prev, cell) =>
        refit.getOrElse(cell, prev)
      }
    }
    Model(centroids)
  }

  /** Nearest-cell id for a vector against a fixed codebook (ties to the
    * smaller cell, [[graft.functions.NearestCells]] semantics).
    */
  def cellOf(vec: Column, centroids: Seq[Array[Float]]): Column =
    CellFunctions.nearest_cells(vec, centroids.map(_.toSeq), 1).getItem(0)

  /** Input plus the assigned `cell` column — one codegen'd expression, no
    * join, no shuffle.
    */
  def assign(
      df: DataFrame,
      vecCol: String,
      model: Model,
      cellCol: String = "cell"): DataFrame =
    df.withColumn(cellCol, cellOf(col(vecCol), model.centroids))

  /** Per-cluster size and within-cluster sum of squares:
    * `(cell, n, wcss)`. `|v − c|² = v·v − 2 v·c + c·c` keeps the math in
    * the codegen'd dot kernel — no per-row array reshaping.
    */
  def summary(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    assign(df, vecCol, model)
      .join(broadcast(cents), Seq("cell"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n"),
        sum(
          VectorFunctions.vector_dot(col(vecCol), col(vecCol))
            - lit(2.0) * VectorFunctions.vector_dot(col(vecCol), col("centroid"))
            + VectorFunctions.vector_dot(col("centroid"), col("centroid")))
          .as("wcss"))
  }

  /** Cluster-balanced deterministic sample: keep each vector with
    * probability `targetPerCluster / clusterSize` decided by md5 bits over
    * `idCol` (+ salt) — the same engine-independent coin as
    * [[Curation.stratifiedSample]], stratified here by the LEARNED
    * structure instead of a label column. Over-represented clusters thin
    * toward the target; smaller clusters pass through whole.
    */
  def balancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      targetPerCluster: Long,
      salt: String = ""): DataFrame = {
    val assigned = assign(df, vecCol, model)
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("_csize"))
    val rate = least(lit(1.0), lit(targetPerCluster.toDouble) / col("_csize"))
    assigned
      .join(broadcast(sizes), Seq("cell"))
      .filter(
        conv(substring(md5(concat_ws("|", col(idCol), lit(salt))), 1, 8),
          16, 10).cast("long") < rate * 4294967296.0)
      .drop("_csize")
  }

  /** D4-style diversification (Tirumala et al. 2023, "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification"): after
    * dedup, drop the `dropFraction` of each k-means cluster CLOSEST to
    * its centroid — the most prototypical points are the most
    * semantically redundant; the kept set preserves each cluster's
    * diverse fringe. Returns the kept rows plus `(cell, dist2)`, where
    * `dist2` is the squared centroid distance snapped to the 1e-6 grid
    * (the `|v|² − 2 v·c + |c|²` expansion inside the codegen'd dot
    * kernel, q87's oracle-proven arithmetic) — ranking happens on the
    * snapped value with `idCol` as tiebreak, so the exact kept set is
    * re-derivable by any engine.
    *
    * The per-cluster cut is ONE window over `cell`: a task is bounded by
    * the largest cluster, which at the D4 operating point (k ~ √corpus,
    * the [[suggestNlist]] rule) is ~√corpus rows — not a skew hazard.
    * Exactly ⌈dropFraction·n⌉ rows drop per cluster; prefer fractions
    * with exact binary representations (0.25, 0.5) so the ceil boundary
    * is engine-independent.
    */
  def diversify(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      dropFraction: Double,
      cellCol: String = "cell",
      distCol: String = "dist2"): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction < 1.0,
      s"dropFraction must be in [0, 1): $dropFraction")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF(cellCol, "_centroid")
    val d2 =
      VectorFunctions.vector_dot(col(vecCol), col(vecCol)) -
        lit(2.0) * VectorFunctions.vector_dot(col(vecCol), col("_centroid")) +
        VectorFunctions.vector_dot(col("_centroid"), col("_centroid"))
    val byDist = Window.partitionBy(col(cellCol))
      .orderBy(col(distCol), col(idCol))
    val whole = Window.partitionBy(col(cellCol))
    assign(df, vecCol, model, cellCol)
      .join(broadcast(cents), Seq(cellCol))
      .withColumn(distCol, floor(d2 * 1e6 + 0.5) / 1e6)
      .withColumn("_rn", row_number().over(byDist))
      .withColumn("_cn", count(lit(1)).over(whole))
      .filter(col("_rn") > ceil(lit(dropFraction) * col("_cn")))
      .drop("_rn", "_cn", "_centroid")
  }
}
