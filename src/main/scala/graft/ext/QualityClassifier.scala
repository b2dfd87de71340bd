package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashedLinearScore.linear_score

/** Trained document-quality classifier — the GPT-3/Gopher pattern: fit a
  * linear model over hashed bag-of-words features with "known good" text
  * as positives and raw crawl (or synthetic corruptions) as negatives,
  * then keep documents the model scores as good. Complements
  * [[TextAnalysis.qualityScore]] (fixed heuristics) and [[LanguageModel]]
  * (distribution fit): this is the only one of the three that LEARNS what
  * the curator labels as quality.
  *
  * Logistic regression by full-batch gradient descent, built to Spark's
  * strengths:
  *  - features are row-local: hashed token indices (`pmod(hash(token),
  *    dims)`, duplicates kept up to the [[Model]]'s saturation cap so
  *    counts weight naturally but stuffing can't dominate — see
  *    [[featureIndices]]);
  *  - ONE aggregation per epoch: every row appends a sentinel index
  *    `dims` to its feature array, so `explode → groupBy(index) → sum` of
  *    the per-row residual yields every weight gradient AND the bias
  *    gradient (the sentinel's slot) in the same map-side-combined pass;
  *  - the margin `w·x + b` is a codegen'd expression with the weights as
  *    a reference object ([[graft.functions.HashedLinearScore]]) — no
  *    join, no weight shipping, no second shuffle;
  *  - only O(dims) ever reaches the driver per epoch.
  *
  * 100 TB: each epoch is one corpus pass with a `dims`-bounded shuffle.
  * For a quality classifier dims is small (2^12..2^16) because hashed
  * unigram collisions are part of the deal — and at that size the model
  * broadcasts anywhere. Scoring is a pure projection.
  */
object QualityClassifier {

  final case class Model(
      weights: Seq[Double], bias: Double, dims: Int, countCap: Int = 3) {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      weights.zipWithIndex.map { case (w, i) => (i, w) }
        .toDF("idx", "w")
        .unionByName(Seq((-1, bias), (-2, countCap.toDouble)).toDF("idx", "w"))
    }
  }

  object Model {
    def fromDF(df: DataFrame): Model = {
      val rows = graft.Driver.collect(df.select(col("idx"), col("w")),
        graft.Driver.MaxRows, "QualityClassifier.Model.fromDF (Driver.MaxRows)")
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val dims = rows.keys.max + 1
      // A missing countCap row (idx = -2) means the artifact predates the
      // saturation cap and was trained on RAW counts — default to 0 (raw)
      // so legacy models keep scoring exactly as trained. Only artifacts
      // written by the current toDF carry an explicit cap.
      Model(Seq.tabulate(dims)(i => rows.getOrElse(i, 0.0)),
        rows.getOrElse(-1, 0.0), dims,
        rows.getOrElse(-2, 0.0).toInt)
    }
  }

  /** Hashed feature indices of a text column. Per-row counts SATURATE at
    * `countCap` (cap <= 0 keeps raw counts): a linear model on raw counts
    * cannot separate a short genuine document from keyword stuffing — a
    * 15-token real doc and one word repeated 15 times have the same total
    * count mass, so any weights that accept the former admit the latter.
    * Capping makes the count profile (many distinct tokens vs one token
    * at the cap) linearly separable again; measured on the t16 eval split
    * this takes held-out accuracy from 0.85-0.93 to ~1 at every scale.
    * The cap is part of the [[Model]] because train and score must hash
    * AND saturate identically.
    *
    * The cap is one row-local native kernel
    * ([[graft.functions.CapOccurrences]]) — no shuffle, order irrelevant
    * downstream (features sum).
    */
  def featureIndices(text: Column, dims: Int, countCap: Int = 3): Column = {
    val ids = transform(Shingles.tokens(text), t => pmod(hash(t), lit(dims)))
    if (countCap <= 0) ids
    else graft.functions.CapOccurrences.cap_occurrences(ids, countCap)
  }

  /** Fit by full-batch GD. `labelCol` must be 0/1 (1 = good).
    *
    * Feature extraction (tokenize → hash → saturate, the part that scans
    * text) runs through the Catalyst expressions once; the epoch loop
    * then runs over the extracted `(y, idx)` RDD with one
    * `treeAggregate` per epoch. The loop is the one place in the library
    * where an RDD genuinely wins: each epoch's gradient depends on the
    * previous epoch's weights, so a DataFrame formulation builds a NEW
    * plan per epoch — 20 epochs paid 20 Catalyst plannings + 20 Janino
    * compiles + 20 shuffled aggregations to move a 2 KB gradient
    * (measured: the whole-plan loop was ~2× the extraction cost at every
    * scale). The labeled training set is bounded by construction (labels
    * are expensive); the 100 TB path — [[score]]/[[keepGood]] — stays a
    * codegen'd projection.
    */
  def train(
      df: DataFrame,
      textCol: Column,
      labelCol: Column,
      dims: Int = 4096,
      epochs: Int = 30,
      learningRate: Double = 1.0,
      l2: Double = 1e-6,
      countCap: Int = 3): Model = {
    require(dims >= 2 && epochs >= 1)
    graft.Cached.scope {
      val rows = graft.Cached.persist(df
        .select(labelCol.cast("double").as("y"),
          // sentinel index `dims` = the bias slot: one occurrence per row
          concat(featureIndices(textCol, dims, countCap), array(lit(dims)))
            .as("idx"))
        .rdd
        // Null text tokenizes to a null idx array (concat propagates null);
        // null labels are equally unusable. Drop such rows from the
        // gradient AND from n — the pre-RDD epoch loop did the same
        // implicitly (explode(null) contributed nothing). The skip lives
        // HERE, not as a DataFrame filter on the alias: Catalyst pushes an
        // isNotNull predicate below the projection by SUBSTITUTING the
        // expression, so the whole tokenize+hash pipeline would run twice
        // per row (measured: 2.2 s vs 1.0 s for the t16 extraction).
        .flatMap { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) None
          else {
            val s = r.getSeq[Int](1)
            val a = new Array[Int](s.length)
            var i = 0
            while (i < a.length) { a(i) = s(i); i += 1 }
            Some((r.getDouble(0), a))
          }
        })
      val n = rows.count().toDouble
      require(n > 0, "train: empty input")
      var w = new Array[Double](dims)
      var b = 0.0
      for (_ <- 0 until epochs) {
        val wl = w
        val bl = b
        // acc slot `dims` accumulates the bias gradient
        val grad = rows.treeAggregate(new Array[Double](dims + 1))(
          seqOp = { case (acc, (y, idx)) =>
            var m = bl
            var i = 0
            while (i < idx.length) {
              if (idx(i) < dims) m += wl(idx(i))
              i += 1
            }
            val r = 1.0 / (1.0 + math.exp(-m)) - y
            i = 0
            while (i < idx.length) { acc(idx(i)) += r; i += 1 }
            acc
          },
          combOp = { (a, c) =>
            var i = 0
            while (i < a.length) { a(i) += c(i); i += 1 }
            a
          })
        val nw = new Array[Double](dims)
        var j = 0
        while (j < dims) {
          nw(j) = w(j) - learningRate * (grad(j) / n + l2 * w(j))
          j += 1
        }
        b -= learningRate * grad(dims) / n
        w = nw
      }
      Model(w.toSeq, b, dims, countCap)
    }
  }

  /** Input plus `quality_prob` — P(good) under the model. A pure
    * projection: one codegen'd dot product per row.
    */
  def score(
      df: DataFrame,
      textCol: Column,
      model: Model,
      outCol: String = "quality_prob"): DataFrame = {
    val margin =
      linear_score(featureIndices(textCol, model.dims, model.countCap),
        model.weights, model.bias)
    df.withColumn(outCol, lit(1.0) / (lit(1.0) + exp(-margin)))
  }

  /** The filter: keep rows the model scores at or above `minProb`. */
  def keepGood(
      df: DataFrame,
      textCol: Column,
      model: Model,
      minProb: Double = 0.5): DataFrame =
    score(df, textCol, model).filter(col("quality_prob") >= minProb)
      .drop("quality_prob")
}
