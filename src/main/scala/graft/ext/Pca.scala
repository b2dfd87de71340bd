package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MomentsFunctions.{project_vector, vector_moments}

/** Principal-component analysis over an embedding column — whitening
  * before semantic dedup (correlated dimensions make cosine thresholds
  * lie), low-rank compression before ANN indexing, and drift-friendly
  * corpus visualization. The reference has no vector math at all; this
  * completes the engine's embedding stack alongside [[Similarity]] and
  * [[Clustering]].
  *
  * Scale shape: the entire data pass is ONE narrow aggregation — the
  * [[graft.functions.VectorMoments]] TypedImperativeAggregate keeps an
  * O(d²) buffer per partition (map-side partial), so the shuffle carries
  * partials, never rows. The d×d covariance (embedding dims are small —
  * 32..4096) is eigensolved on the driver with cyclic Jacobi; projection
  * back over the corpus is a pure codegen'd expression with the component
  * matrix as a reference object. Nothing row-scale ever reaches the
  * driver; nothing d²-scale ever shuffles per row.
  */
object Pca {

  /** `components` row-major k×d, eigenvalue-descending; `eigenvalues` the
    * matching population variances along each component.
    */
  final case class Model(
      mean: Seq[Double],
      components: Seq[Seq[Double]],
      eigenvalues: Seq[Double],
      totalVariance: Double) {
    def k: Int = components.size
    def dims: Int = mean.size

    /** Fraction of total variance captured by the k components. */
    def explainedVariance: Double =
      if (totalVariance <= 0) 0.0 else eigenvalues.sum / totalVariance

    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      components.zip(eigenvalues).zipWithIndex
        .map { case ((c, ev), i) => (i, c, ev, mean, totalVariance) }
        .toDF("component", "loadings", "eigenvalue", "mean", "total_variance")
    }
  }

  object Model {
    def fromDF(df: DataFrame): Model = {
      val rows = graft.Driver.collect(df.select(col("component"),
          col("loadings"), col("eigenvalue"), col("mean"), col("total_variance")),
        graft.Driver.MaxRows, "Pca.Model.fromDF (Driver.MaxRows)")
        .sortBy(_.getInt(0))
      require(rows.nonEmpty, "Pca.Model.fromDF: empty frame")
      Model(
        rows.head.getSeq[Double](3),
        rows.map(_.getSeq[Double](1)).toSeq,
        rows.map(_.getDouble(2)).toSeq,
        rows.head.getDouble(4))
    }
  }

  /** The one data pass: `(n, mean, cov)` with cov row-major d×d. */
  def moments(df: DataFrame, vecCol: String): (Long, Array[Double], Array[Double]) = {
    val row = df.agg(vector_moments(col(vecCol)).as("m"))
      .select(col("m.n"), col("m.mean"), col("m.cov"))
      .head()
    (row.getLong(0),
      row.getSeq[Double](1).toArray,
      row.getSeq[Double](2).toArray)
  }

  /** Covariance in long format `(i, j, cov)` — the oracle-friendly view of
    * the same single-pass aggregate.
    */
  def covarianceDF(df: DataFrame, vecCol: String): DataFrame =
    df.agg(vector_moments(col(vecCol)).as("m"))
      .select(col("m.cov").as("cov"),
        size(col("m.mean")).as("d"))
      .select(col("d"), posexplode(col("cov")).as(Seq("p", "cov")))
      .select(
        (col("p") / col("d")).cast("int").as("i"),
        pmod(col("p"), col("d")).cast("int").as("j"),
        col("cov"))

  /** Fit top-`k` components. Deterministic: cyclic Jacobi on the exact
    * covariance (no sampling, no seeds); each component's sign is fixed by
    * making its largest-magnitude loading positive.
    */
  def fit(df: DataFrame, vecCol: String, k: Int): Model = {
    val (_, mean, cov) = moments(df, vecCol)
    val d = mean.length
    require(k >= 1 && k <= d, s"k=$k out of 1..$d")
    val (values, vectors) = jacobiEigen(cov, d)
    val order = values.zipWithIndex.sortBy(-_._1).take(k)
    val comps = order.map { case (_, idx) =>
      val v = Array.tabulate(d)(r => vectors(r * d + idx))
      val dom = v.maxBy(math.abs)
      val s = if (dom < 0) -1.0 else 1.0
      v.map(_ * s).toSeq
    }
    Model(mean.toSeq, comps.toSeq, order.map(_._1).toSeq,
      Array.tabulate(d)(i => cov(i * d + i)).sum)
  }

  /** Input plus `outCol` = the k-dimensional projection `R·(x − μ)`;
    * `whiten` scales each row by `1/sqrt(λ)` so the output has identity
    * covariance. One codegen'd expression — no join, no shuffle.
    */
  def transform(
      df: DataFrame,
      vecCol: String,
      model: Model,
      whiten: Boolean = false,
      outCol: String = "projection"): DataFrame = {
    val rows =
      if (!whiten) model.components
      else model.components.zip(model.eigenvalues).map { case (c, ev) =>
        val s = 1.0 / math.sqrt(math.max(ev, 1e-12))
        c.map(_ * s)
      }
    df.withColumn(outCol, project_vector(col(vecCol), model.mean, rows))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (row-major
    * d×d). Returns (eigenvalues, column-eigenvector matrix row-major).
    * Deterministic sweep order; converges quadratically — 20 sweeps is
    * far past double precision for any d this engine meets.
    */
  private[ext] def jacobiEigen(
      matrix: Array[Double], d: Int): (Array[Double], Array[Double]) = {
    val a = matrix.clone()
    val v = new Array[Double](d * d)
    var i = 0
    while (i < d) { v(i * d + i) = 1.0; i += 1 }
    var sweep = 0
    var off = offDiag(a, d)
    while (sweep < 30 && off > 1e-14) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p * d + q)
          if (math.abs(apq) > 1e-18) {
            val app = a(p * d + p)
            val aqq = a(q * d + q)
            val theta = (aqq - app) / (2.0 * apq)
            // tan of the zeroing rotation; θ=0 means a 45° rotation
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r * d + p)
              val arq = a(r * d + q)
              a(r * d + p) = c * arp - s * arq
              a(r * d + q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p * d + r)
              val aqr = a(q * d + r)
              a(p * d + r) = c * apr - s * aqr
              a(q * d + r) = s * apr + c * aqr
              r += 1
            }
            r = 0
            while (r < d) {
              val vrp = v(r * d + p)
              val vrq = v(r * d + q)
              v(r * d + p) = c * vrp - s * vrq
              v(r * d + q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a, d)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i * d + i)), v)
  }

  private def offDiag(a: Array[Double], d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        if (i != j) s += a(i * d + j) * a(i * d + j)
        j += 1
      }
      i += 1
    }
    s
  }
}
