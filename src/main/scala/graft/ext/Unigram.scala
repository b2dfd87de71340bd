package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.UnigramEncode

/** Unigram language-model tokenizer (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece `unigram` algorithm): the OTHER
  * production subword tokenizer next to [[Bpe]]. Where BPE grows a
  * vocabulary bottom-up by merging, unigram starts from a large seed of
  * candidate substrings and SHRINKS it: EM fits piece probabilities to
  * maximize corpus likelihood under all segmentations, then the pieces
  * contributing least are pruned, repeating until the target size.
  *
  * Scale split — identical to [[Bpe]]'s: the corpus-scale part of
  * [[train]] is ONE distributed word-frequency aggregation (one shuffle
  * of distinct word forms, partial-combinable); seeding, EM
  * (forward-backward over each dictionary word), and pruning all run on
  * the driver over the capped dictionary. A 100 TB corpus trains in one
  * pass + O(dictionary × wordLen × maxPieceLen) driver work. Encoding is
  * the native Viterbi expression ([[graft.functions.UnigramEncode]]),
  * corpus-wide with no shuffle.
  *
  * Faithfulness note: the E-step is the paper's exact forward-backward
  * expected-count computation; pruning keeps the pieces with the largest
  * expected counts (never single code points) at `shrinkFactor` per
  * round — the common reimplementation of the paper's
  * likelihood-loss ranking, deterministic here via (count desc, piece)
  * ordering. Training is reproducible run-to-run: the dictionary is
  * collected in (freq desc, word) order and every accumulation loop
  * follows it.
  */
object Unigram {

  /** A trained piece table (piece → natural-log probability). */
  final case class Model(pieces: Seq[(String, Double)], unkLogProb: Double) {
    def encode(c: Column): Column = UnigramEncode(c, pieces, unkLogProb)
    def tokenCount(c: Column): Column = size(encode(c))

    /** Persist as `(piece, logprob)` parquet — train once per corpus
      * snapshot, reuse the identical vocabulary everywhere (token
      * budgets must not drift between pipeline runs). Doubles
      * round-trip parquet bit-exactly.
      */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      pieces.toDF("piece", "logprob").repartition(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Load a persisted [[Model]] (piece order restored deterministically:
    * logprob desc, then piece — the order [[train]] emits).
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      unkLogProb: Double = DefaultUnk): Model =
    Model(graft.Driver.collect(
        graft.Parquet.read(spark, path).orderBy(desc("logprob"), col("piece")),
        graft.Driver.MaxRows, "Unigram.load (Driver.MaxRows)")
      .map(r => (r.getString(0), r.getDouble(1)))
      .toSeq, unkLogProb)

  private val DefaultUnk = -1e2

  /** Train a unigram vocabulary of (at most) `vocabSize` pieces —
    * with one documented floor: every single code point seen in the
    * dictionary is kept unconditionally (total coverage is what makes
    * the Viterbi round-trip invariant hold), so on a corpus whose
    * alphabet alone exceeds `vocabSize` the returned model holds that
    * alphabet and zero multi-char pieces. Size the budget above the
    * alphabet (SentencePiece rejects such configurations outright).
    *
    * @param maxPieceLen seed substrings up to this many code points
    * @param seedSize    multi-char seed candidates kept (by weighted
    *                    substring count; single chars always survive)
    * @param emIters     EM sub-iterations between prunes
    * @param shrinkFactor fraction of multi-char pieces kept per prune
    */
  def train(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 6,
      seedSize: Int = 4096,
      emIters: Int = 2,
      shrinkFactor: Double = 0.75,
      maxWordForms: Int = 65536,
      unkLogProb: Double = DefaultUnk): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    require(shrinkFactor > 0 && shrinkFactor < 1, "shrinkFactor in (0,1)")

    // the one corpus-scale pass: words as code-point arrays, once
    val words: Array[(Array[String], Long)] =
      Bpe.wordForms(df, textCol, maxWordForms)

    // seed: all substrings up to maxPieceLen, weighted by word freq
    val seedCounts = mutable.HashMap.empty[String, Double]
    for ((cps, n) <- words; s <- cps.indices;
         e <- (s + 1) to math.min(cps.length, s + maxPieceLen)) {
      val piece = cps.slice(s, e).mkString
      seedCounts(piece) = seedCounts.getOrElse(piece, 0.0) + n.toDouble
    }
    def isSingle(p: String): Boolean = p.codePointCount(0, p.length) == 1
    val multiSeed = seedCounts.iterator
      .filter { case (p, _) => !isSingle(p) }
      .toSeq.sortBy { case (p, c) => (-c, p) }
      .take(seedSize).map(_._1)
    val singleSeed = seedCounts.keys.filter(isSingle).toSeq.sorted

    def logprobs(counts: Map[String, Double]): Map[String, Double] = {
      val total = counts.values.sum
      counts.map { case (p, c) => p -> math.log(c / total) }
    }
    def lse(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else {
        val m = math.max(a, b)
        m + math.log(math.exp(a - m) + math.exp(b - m))
      }

    // E-step: exact forward-backward expected counts under `table`
    def expectedCounts(table: Map[String, Double]): Map[String, Double] = {
      val out = mutable.HashMap.empty[String, Double]
      for ((cps, n) <- words) {
        val L = cps.length
        def plp(s: Int, e: Int): Double = {
          val piece = cps.slice(s, e).mkString
          table.get(piece) match {
            case Some(v) => v
            case None => if (e - s == 1) unkLogProb else Double.NaN
          }
        }
        val alpha = Array.fill(L + 1)(Double.NegativeInfinity)
        val beta = Array.fill(L + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        for (e <- 1 to L; s <- math.max(0, e - maxPieceLen) until e) {
          val v = plp(s, e)
          if (!v.isNaN && alpha(s) != Double.NegativeInfinity)
            alpha(e) = lse(alpha(e), alpha(s) + v)
        }
        beta(L) = 0.0
        for (s <- L - 1 to 0 by -1;
             e <- (s + 1) to math.min(L, s + maxPieceLen)) {
          val v = plp(s, e)
          if (!v.isNaN && beta(e) != Double.NegativeInfinity)
            beta(s) = lse(beta(s), v + beta(e))
        }
        val z = alpha(L)
        if (z != Double.NegativeInfinity) {
          for (e <- 1 to L; s <- math.max(0, e - maxPieceLen) until e) {
            val v = plp(s, e)
            if (!v.isNaN && alpha(s) != Double.NegativeInfinity &&
              beta(e) != Double.NegativeInfinity) {
              val post = math.exp(alpha(s) + v + beta(e) - z)
              if (post > 0) {
                val piece = cps.slice(s, e).mkString
                out(piece) = out.getOrElse(piece, 0.0) + n.toDouble * post
              }
            }
          }
        }
      }
      out.toMap
    }

    // counts floor: a piece EM never touches must not become log(0)
    def floored(c: Map[String, Double]): Map[String, Double] =
      c.map { case (p, v) => p -> math.max(v, 1e-9) }

    var counts: Map[String, Double] = floored(
      (singleSeed ++ multiSeed).map(p => p -> seedCounts(p)).toMap)
    var done = false
    while (!done) {
      var it = 0
      while (it < emIters) {
        val table = logprobs(counts)
        // EM preserves the vocabulary: expected counts restricted to the
        // current pieces (unk-covered singles re-enter so coverage chars
        // keep earning mass)
        val e = expectedCounts(table)
        counts = floored(counts.map { case (p, _) =>
          p -> e.getOrElse(p, 0.0) })
        it += 1
      }
      val nSingles = counts.keys.count(isSingle)
      val budget = math.max(vocabSize - nSingles, 0)
      val multisNow = counts.keys.filterNot(isSingle).toSeq
      if (multisNow.size <= budget) done = true
      else {
        val target = math.max(budget,
          math.floor(multisNow.size * shrinkFactor).toInt)
        val keepN =
          if (target >= multisNow.size) multisNow.size - 1 else target
        val keep = multisNow.map(p => (p, counts(p)))
          .sortBy { case (p, c) => (-c, p) }
          .take(keepN).map(_._1).toSet
        counts = counts.filter { case (p, _) => isSingle(p) || keep(p) }
      }
    }
    val lp = logprobs(counts)
    Model(lp.toSeq.sortBy { case (p, l) => (-l, p) }, unkLogProb)
  }
}
