package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BpeEncode

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the token-budget
  * arithmetic of a training-data pipeline: packing (`Curation.pack`),
  * dataset sizing, and per-document cost all need a real subword count,
  * not a whitespace approximation.
  *
  * Scale split: classic BPE trains on the WORD-FREQUENCY dictionary, not
  * the raw corpus — so the corpus-scale part of [[train]] is one
  * distributed word-count aggregation (partial-combinable, one shuffle of
  * distinct word forms), and the merge loop runs on the driver over a
  * capped dictionary (`maxWordForms`, an explicit driver-memory bound the
  * same way `Similarity`'s brute-force cap is). A 100 TB corpus therefore
  * trains in one pass + O(dictionary) driver work. Encoding is a native
  * expression ([[graft.functions.BpeEncode]]) applied corpus-wide with no
  * shuffle at all.
  *
  * Tokenization boundary matches the rest of the text stack (`trim` +
  * Java `\s+`, the exact semantics the t-family oracles pin): merges
  * never cross word boundaries, so concatenating a word's tokens always
  * rebuilds the word — the round-trip invariant t11 checks corpus-wide.
  */
object Bpe {

  /** An ordered merge list; earlier = higher priority (lower rank). */
  final case class Model(merges: Seq[(String, String)]) {
    def encode(c: Column): Column = BpeEncode(c, merges)
    def tokenCount(c: Column): Column = size(encode(c))

    /** Persist as `(rank, left, right)` parquet — train once on a
      * corpus sample, reuse the identical vocabulary across every later
      * job (token budgets must not drift between pipeline runs).
      */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
        .repartition(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Load a persisted [[Model]]; merge order restored by rank. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model =
    Model(graft.Driver.collect(graft.Parquet.read(spark, path).orderBy("rank"),
        graft.Driver.MaxRows, "Bpe.load (Driver.MaxRows)")
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq)

  /** The dictionary [[train]] and [[Unigram.train]] learn from: the top
    * `maxWordForms` word forms by (freq desc, word), as code points.
    */
  private[ext] def wordForms(df: DataFrame, textCol: String,
      maxWordForms: Int): Array[(Array[String], Long)] =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .head(maxWordForms)
      .map(r => (r.getString(0).codePoints().toArray
        .map(cp => new String(Character.toChars(cp))), r.getLong(1)))

  /** The char-level model: no merges, every code point its own token. */
  val charModel: Model = Model(Nil)

  /** Learn `numMerges` merges from the corpus' word-frequency dictionary.
    *
    * One distributed agg builds `word -> freq`; the top `maxWordForms`
    * forms (by freq, then word — deterministic) are collected and the
    * standard greedy loop runs on the driver: count adjacent symbol pairs
    * weighted by word freq, merge the most frequent pair (ties broken by
    * the lexicographically smallest pair, so training is reproducible),
    * repeat. Dropping tail word forms below the cap only perturbs pair
    * counts by their (tiny) total mass — the standard practical
    * approximation at corpus scale.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxWordForms: Int = 65536): Model = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    // word forms as mutable symbol sequences
    val forms = wordForms(df, textCol, maxWordForms)
      .map { case (cps, n) => (mutable.ArrayBuffer.from(cps), n) }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      forms.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // max count, ties to the lexicographically smallest pair
        val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
          case (acc, kv @ (p, n)) => acc match {
            case Some((bp, bn)) if n < bn => acc
            case Some((bp, bn)) if n == bn &&
              implicitly[Ordering[(String, String)]].lteq(bp, p) => acc
            case _ => Some(kv)
          }
        }.get._1
        merges += best
        val joined = best._1 + best._2
        forms.foreach { case (syms, _) =>
          var i = 0
          while (i < syms.length - 1) {
            // left-to-right single pass: a merge can never create a new
            // occurrence of the SAME pair (the joined symbol is strictly
            // longer than either side), so no back-step is needed
            if (syms(i) == best._1 && syms(i + 1) == best._2) {
              syms.update(i, joined)
              syms.remove(i + 1)
            } else i += 1
          }
        }
        round += 1
      }
    }
    Model(merges.toSeq)
  }
}
