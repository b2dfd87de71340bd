package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DoReMi — Domain Reweighting with Minimax Optimization (Xie et al.,
  * NeurIPS 2023): compute a domain-mixture weight vector for a grouped
  * corpus, upweighting the domains with the most "learnable headroom"
  * (excess loss), then resample the corpus toward that mixture.
  *
  * The published recipe trains a small proxy NETWORK under Group DRO:
  * the inner player minimizes the α-weighted loss, the outer player
  * raises α on domains whose per-example loss exceeds a pretrained
  * reference model's. Re-expressed over this repo's count-based trigram
  * LM ([[LanguageModel]]), both players become closed forms:
  *
  *   - inner (proxy "training"): the weighted-MLE mixture LM — per-gram
  *     expected counts `w(g) = Σ_d α_d · (T / tot_d) · c(g, d)`, i.e.
  *     each domain contributes an `α_d` share of the T-gram training
  *     budget distributed per its own gram distribution (Σ_g w = T);
  *   - reference: the per-domain SPECIALIST model — the add-k trigram LM
  *     trained on that domain alone. This keeps the paper's semantics
  *     (excess = how far the shared model sits above what is achievable
  *     on the domain) while staying a closed form; with a count model
  *     the paper's uniform-trained reference would equal the α₀ proxy
  *     exactly and the dynamics would never move;
  *   - outer: the exponentiated-gradient step on per-domain clipped
  *     excess loss `ex_d = mean_docs max(0, ℓ_α(x) − ℓ_ref(x))`,
  *     `α'_d ∝ α_d · exp(η · ex_d)`, mixed with uniform (the paper's
  *     smoothing term keeps every domain alive). The returned weight is
  *     the average of the α iterates, the paper's final output.
  *
  * Determinism contract (the repo's cross-engine grid discipline):
  * per-doc avg-NLLs snap to the 1e-4 grid, per-domain excess to 1e-6,
  * α iterates to 1e-9 after each normalize, shares/rates to 1e-6 — so
  * the oracle replays every step bit-for-bit. The residual risk class is
  * the one t15/t19 already accept: ulp-order noise in float sums (and
  * libm exp/ln parity) sitting exactly on a grid boundary.
  *
  * Scale shape (100 TB posture): the corpus text is tokenized ONCE, by a
  * row-local kernel, into a persisted per-doc sorted gram-count VECTOR
  * frame (one row per document — no corpus-sized (doc, gram) shuffle);
  * the vocabulary-bounded integer sufficient statistics (domain, gram,
  * count) are aggregated from it and collected once (the same driver
  * residency the previous shape paid per step to build each broadcast
  * model side). Every later pass — one per EG step — is then a MAP-ONLY
  * scan of the vector frame under a broadcast per-gram NLL table: zero
  * joins, zero corpus-sized exchanges, and the per-step driver work is
  * O(vocabulary) closed-form arithmetic (alphabet^n at worst, like
  * [[LanguageModel.score]]'s model side). Driver state is O(domains)
  * per step (α, totals, excess) plus the one-time O(vocab × domains)
  * statistics — the bounded-model-state exception [[Clustering.kmeans]]
  * established, and no larger than the per-step broadcast builds it
  * replaces. (The previous shape re-scanned the persisted (doc, gram)
  * frame through two broadcast joins and a per-doc shuffle per step —
  * guide §2.3/§2.4: the per-doc score needs only the doc's own counts
  * and the vocabulary-bounded model, so the corpus never re-shuffles.)
  *
  * Reference basis: the reference repo has no data-selection surface
  * (its processors stop at column hygiene,
  * etl_projects/base/processors/spark/spark_dataframe_service.py) —
  * this extends the LLM-training-pipeline surface next to [[Dsir]]
  * (instance-level selection) with the published DOMAIN-level mixture
  * optimizer.
  */
object Doremi {

  /** Per-domain mixture weights + deterministic resample verdicts.
    *
    * Output, one row per domain, ordered by nothing (caller sorts):
    * `(domainCol, n_docs, share, excess, weight, rate, n_kept)` —
    * `share` the domain's document share of the corpus (1e-6 grid),
    * `excess` the final EG step's clipped excess loss (1e-6), `weight`
    * the averaged α iterate (1e-9), `rate = min(1, weight / share)`
    * (1e-6; downsample-only, the [[Curation.temperatureSample]]
    * posture), and `n_kept` the count of documents surviving the
    * md5-coin resample at that rate.
    *
    * Documents with fewer than `n` characters produce no grams, score
    * under no model, and are excluded from the excess means (they still
    * count toward `share` and play the resample coin — membership is a
    * pure function of the id). A domain whose every document is
    * unscoreable keeps excess 0 and rides the smoothing floor.
    */
  def domainWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      n: Int = 3,
      addK: Double = 0.5,
      alphabetSize: Int = 64,
      steps: Int = 3,
      eta: Double = 1.0,
      smoothing: Double = 1e-3,
      salt: String = "doremi"): DataFrame =
    // every consumer of plan's per-doc cache runs eagerly inside the EG
    // loop (the collects); the returned frame reads only `docs` and
    // driver-built rows, so the scope releases the cache on return
    graft.Cached.scope(plan(docs, idCol, textCol, domainCol, n, addK,
      alphabetSize, steps, eta, smoothing, salt))

  /** Resample the corpus toward the computed mixture: keep each document
    * with probability `rate` of its domain, decided by the repo's pure
    * md5-coin (`conv(md5(id ∥ salt)[1..5]) < ⌊rate · 2^20⌋`) — the exact
    * surviving row set is re-derivable on any engine. `weights` is
    * [[domainWeights]]' output (only `domainCol` and `rate` are read);
    * downsample-only, like the published pipeline's resampling stage.
    */
  def resample(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      weights: DataFrame,
      salt: String = "doremi"): DataFrame =
    docs
      .join(broadcast(weights.select(col(domainCol), col("rate"))),
        Seq(domainCol), "left")
      // a domain absent from the fit (the crawl evolved after the
      // offline snapshot) passes through at rate 1 rather than silently
      // vanishing — the fail-open choice a GATE must make; re-fit per
      // snapshot to bring new domains under the mixture
      .filter(coin(idCol, salt) <
        floor(coalesce(col("rate"), lit(1.0)) * 1048576L).cast("long"))
      .drop("rate")

  // ----------------------------------------------------------- internals

  private def coin(idCol: String, salt: String) =
    conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5),
      16, 10).cast("long")

  private def g4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
  private def g6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6

  private def grid(v: Double, g: Double): Double =
    math.floor(v * g + 0.5) / g

  private def plan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      n: Int,
      addK: Double,
      alphabetSize: Int,
      steps: Int,
      eta: Double,
      smoothing: Double,
      salt: String): DataFrame = {
    require(n >= 2, s"order-$n model has no context; need n >= 2")
    require(steps >= 1, s"steps must be >= 1: $steps")
    require(addK > 0 && alphabetSize > 1, "bad smoothing parameters")
    require(smoothing >= 0 && smoothing < 1, s"smoothing in [0,1): $smoothing")
    val spark = docs.sparkSession
    import spark.implicits._

    // ONE row-local text pass: per-doc gram-count vectors, grams sorted
    // within each doc so every per-doc sum below runs in a pinned order.
    // The gram walk is the exact CharNGrams expression kernel (byte-level
    // UTF-8 char starts), so gram identity matches the previous
    // explode(charNGramsAll) form bit-for-bit. Documents producing no
    // grams (shorter than n) emit no row — they score under no model and
    // are excluded from the excess means, exactly as before.
    val nLocal = n
    val docVec = graft.Cached.persist(docs
      .filter(col(textCol).isNotNull)
      .select(col(domainCol).as("_dom"), col(textCol).as("_txt"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (dom, txt) =>
          val gs = graft.functions.ExprRuntimes.charNGrams(
            org.apache.spark.unsafe.types.UTF8String.fromString(txt),
            nLocal, false)
          val sz = gs.numElements()
          if (sz == 0) Iterator.empty
          else {
            val m = new java.util.HashMap[String, java.lang.Long](
              math.min(sz * 2, 1 << 17))
            var i = 0
            while (i < sz) {
              val g = gs.getUTF8String(i).toString
              val prev = m.get(g)
              m.put(g, if (prev == null) 1L else prev.longValue() + 1L)
              i += 1
            }
            val grams = m.keySet.toArray(new Array[String](m.size))
            java.util.Arrays.sort(grams,
              java.util.Comparator.naturalOrder[String]())
            val cs = grams.map(g => m.get(g).longValue())
            Iterator.single((dom, grams.toSeq, cs.toSeq))
          }
        }
      }
      .toDF("_dom", "grams", "cs"))

    // vocabulary-bounded INTEGER sufficient statistics (domain, gram,
    // count), aggregated in one pass and collected once — the previous
    // shape already gave the driver this residency, once per step, as
    // the build side of each broadcast model join
    val dgcRows: Array[(String, String, Long)] = graft.Driver.collect(docVec
        .select(col("_dom"),
          explode(arrays_zip(col("grams"), col("cs"))).as("z"))
        .groupBy(col("_dom"), col("z.grams").as("gram"))
        .agg(sum(col("z.cs")).as("dc"))
        .as[(String, String, Long)],
      graft.Driver.MaxRows, "Doremi.domainWeights dgcRows (Driver.MaxRows)")

    // first n-1 code points — the substring(gram, 1, n-1) context key
    def preOf(g: String): String =
      g.substring(0, g.offsetByCodePoints(0, nLocal - 1))

    // O(domains) driver state: gram totals and document counts (exact
    // integer sums — order-free)
    val tots: Map[String, Long] = dgcRows.groupBy(_._1)
      .map { case (d, rs) => d -> rs.map(_._3).sum }
    val nDocs: Map[String, Long] = graft.Driver.collect(
      docs.groupBy(col(domainCol)).agg(count(lit(1)).as("nd")),
      graft.Driver.MaxRows, "Doremi.domainWeights nDocs (Driver.MaxRows)")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(!nDocs.contains(null),
      "domainWeights: null domain values — fill or filter them first")
    val domains = nDocs.keys.toSeq.sorted
    val totalGrams = tots.values.sum.toDouble
    val totalDocs = nDocs.values.sum.toDouble
    val nd = domains.size

    // per-gram (domain, count) lists in sorted-domain order (pins the
    // mixture sum), and the sorted vocabulary (pins the context sums)
    val byGram = new java.util.HashMap[String, Array[(String, Long)]]()
    dgcRows.groupBy(_._2).foreach { case (g, rs) =>
      byGram.put(g, rs.map(r => (r._1, r._3)).sortBy(_._1))
    }
    val sortedGrams: Array[String] = {
      val a = byGram.keySet.toArray(new Array[String](byGram.size))
      java.util.Arrays.sort(a, java.util.Comparator.naturalOrder[String]())
      a
    }
    // per-(domain, pre) context totals — exact integer sums
    val dccMap = new java.util.HashMap[(String, String), java.lang.Long]()
    dgcRows.foreach { case (d, g, dc) =>
      val k = (d, preOf(g))
      val prev = dccMap.get(k)
      dccMap.put(k, if (prev == null) dc else prev.longValue() + dc)
    }

    // reference: each domain's own specialist model — a closed-form
    // per-(domain, gram) NLL table, broadcast once and looked up inside
    // every step's scoring pass (the doc's lref re-derives per step for
    // the cost of one hash probe per distinct gram, cheaper than
    // materializing a second persisted per-doc frame)
    val refMap: Map[String, java.util.HashMap[String, java.lang.Double]] =
      dgcRows.groupBy(_._1).map { case (d, rs) =>
        val m = new java.util.HashMap[String, java.lang.Double](rs.length * 2)
        rs.foreach { case (_, g, dc) =>
          m.put(g, -math.log((dc.toDouble + addK) /
            (dccMap.get((d, preOf(g))).longValue().toDouble +
              addK * alphabetSize)))
        }
        d -> m
      }
    val refB = spark.sparkContext.broadcast(refMap)

    // exponentiated-gradient loop; α and excess live on the driver,
    // O(domains) per step. Each step: O(vocab) closed-form model
    // arithmetic on the driver, then ONE map-only pass over the per-doc
    // vector frame (no joins, no corpus-sized exchange).
    var alpha: Map[String, Double] = domains.map(_ -> 1.0 / nd).toMap
    val iterates = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var lastExcess: Map[String, Double] = domains.map(_ -> 0.0).toMap

    for (_ <- 0 until steps) {
      // proxy = weighted-MLE mixture of the per-domain distributions:
      // scale_d = α_d · (T / tot_d); w(g) = Σ_d c(g,d) · scale_d.
      // The product order (c · (α · (T / tot))) is pinned — the oracle
      // computes the identical sequence — and the per-gram sum runs in
      // sorted-domain order, the context sum in sorted-gram order.
      val scale: Map[String, Double] = domains.map { d =>
        val tot = tots.getOrElse(d, 0L)
        d -> (if (tot == 0L) 0.0 else alpha(d) * (totalGrams / tot))
      }.toMap
      val w =
        new java.util.HashMap[String, java.lang.Double](sortedGrams.length * 2)
      val wc = new java.util.HashMap[String, java.lang.Double]()
      sortedGrams.foreach { g =>
        var s = 0.0
        byGram.get(g).foreach { case (d, dc) => s += dc.toDouble * scale(d) }
        w.put(g, s)
        val pre = preOf(g)
        val prev = wc.get(pre)
        wc.put(pre, if (prev == null) s else prev.doubleValue() + s)
      }
      val nll =
        new java.util.HashMap[String, java.lang.Double](sortedGrams.length * 2)
      sortedGrams.foreach { g =>
        nll.put(g, -math.log((w.get(g).doubleValue() + addK) /
          (wc.get(preOf(g)).doubleValue() + addK * alphabetSize)))
      }
      val nllB = spark.sparkContext.broadcast(nll)
      val excessRows = graft.Driver.collect(docVec
        .as[(String, Seq[String], Seq[Long])]
        .mapPartitions { it =>
          val nm = nllB.value
          val rm = refB.value
          it.map { case (dom, grams, cs) =>
            val rdm = rm(dom)
            var num = 0.0
            var rnum = 0.0
            var den = 0L
            var i = 0
            while (i < grams.length) {
              val g = grams(i)
              val c = cs(i)
              num += c * nm.get(g).doubleValue()
              rnum += c * rdm.get(g).doubleValue()
              den += c
              i += 1
            }
            val l = math.floor(num / den * 1e4 + 0.5) / 1e4
            val lref = math.floor(rnum / den * 1e4 + 0.5) / 1e4
            (dom, math.max(l - lref, 0.0))
          }
        }
        .toDF("_dom", "exd")
        .groupBy("_dom")
        .agg(g6(avg(col("exd"))).as("ex")),
        domains.size, "Doremi.domainWeights excess (domains.size)")
      nllB.destroy()
      val excess = domains.map(_ -> 0.0).toMap ++
        excessRows.map(r => r.getString(0) -> r.getDouble(1)).toMap
      lastExcess = excess
      // EG update, uniform-smoothed, α snapped to the 1e-9 grid; the sum
      // runs in sorted-domain order so the normalizer is deterministic
      val unnorm = domains.map(d => d -> alpha(d) * math.exp(eta * excess(d)))
      val z = unnorm.map(_._2).sum
      alpha = unnorm.map { case (d, u) =>
        d -> grid((1.0 - smoothing) * (u / z) + smoothing / nd, 1e9)
      }.toMap
      iterates += alpha
    }
    refB.destroy()

    // final weight = mean of the α iterates (the paper's output), and the
    // downsample-only resample verdicts
    val outRows = domains.map { d =>
      val weight = grid(iterates.map(_(d)).sum / steps, 1e9)
      val share = grid(nDocs(d) / totalDocs, 1e6)
      val rate = grid(math.min(1.0, weight / share), 1e6)
      Row(d, nDocs(d), share, lastExcess(d), weight, rate)
    }
    val outDF = spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1),
      StructType(Seq(
        StructField(domainCol, StringType),
        StructField("n_docs", LongType),
        StructField("share", DoubleType),
        StructField("excess", DoubleType),
        StructField("weight", DoubleType),
        StructField("rate", DoubleType))))

    // one ids-only corpus pass counts the md5-coin survivors per domain
    val kept = docs
      .join(broadcast(outDF.select(col(domainCol), col("rate"))),
        Seq(domainCol))
      .filter(coin(idCol, salt) <
        floor(col("rate") * 1048576L).cast("long"))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("_nk"))
    outDF
      .join(kept, Seq(domainCol), "left")
      .select(col(domainCol), col("n_docs"), col("share"), col("excess"),
        col("weight"), col("rate"),
        coalesce(col("_nk"), lit(0L)).as("n_kept"))
  }
}
