package graft

import org.apache.spark.sql.functions._

/** Contracts of [[Soak]]'s in-engine 10× corpus synthesis (the round-15
  * scale-soak input). The soak's measured ratios are only meaningful if
  * the synthesized corpus has the duplicate/near-dup/perturbation
  * structure the recipe claims, so each clause of the recipe scaladoc is
  * pinned here at sf0.01 with 3 replicas.
  */
class SoakSpec extends SparkSpec {

  // sf0.01, not sf0.001: the exact/near bands are md5-coin 2% draws, and
  // at 50 docs a band is empty with probability ~0.36 — at 500 docs the
  // existence assertions are deterministic in practice (~4e-5)
  private val src = "/root/testdata/sf0.01"

  private def tmp(name: String): String =
    Scratch.ephemeralDir(s"soakspec-$name")

  test("synthDocuments: replica structure, exact band, near band, rotation") {
    val out = tmp("docs")
    Soak.synthDocuments(spark, src, out, replicas = 3)
    val base = SparkEntry.rd(spark, src, "documents").cache()
    val syn = spark.read.parquet(s"$out/documents.parquet").cache()
    val n = base.count()
    syn.count() shouldBe 3 * n

    // replica 0 is the source verbatim
    val r0 = syn.filter(col("doc_id") < 1020000000L)
    r0.count() shouldBe n
    r0.select("doc_id", "text").except(base.select("doc_id", "text"))
      .count() shouldBe 0L

    // the exact band (the same md5-coin the recipe uses) keeps its text
    // verbatim in EVERY replica — the cross-replica clique shape
    val exactBand = base
      .withColumn("b", pmod(xxhash64(col("doc_id"), lit("soakband")), lit(100)))
      .filter(col("b") < 2)
      .select(col("doc_id"), col("text").as("base_text"))
    assert(exactBand.count() > 0, "exact band empty at sf0.01")
    val exactMismatch = exactBand.join(
      syn.withColumn("base_id", pmod(col("doc_id"), lit(1020000000L)))
        .select(col("base_id").as("doc_id"), col("text")),
      "doc_id").filter(col("text") =!= col("base_text")).count()
    exactMismatch shouldBe 0L

    // near band: replica text = base text + a replica tag (token-set
    // Jaccard stays high); rotated docs share no alphabetic token with
    // their base (bijection disjointness) apart from the appended ' a'
    val joined = base.select(col("doc_id"), col("text").as("base_text"))
      .join(syn.filter(col("doc_id") >= 1020000000L)
          .withColumn("base_id", pmod(col("doc_id"), lit(1020000000L)))
          .select(col("base_id").as("doc_id"), col("text")),
        "doc_id")
      .withColumn("is_near", col("text").startsWith(col("base_text")))
      .withColumn("bt", array_distinct(split(col("base_text"), "\\s+")))
      .withColumn("st", array_distinct(split(col("text"), "\\s+")))
      .withColumn("jaccard",
        array_size(array_intersect(col("bt"), col("st"))).cast("double")
          / array_size(array_union(col("bt"), col("st"))))
    // every non-verbatim, non-near doc is an alphabet rotation: its
    // token set is (near-)disjoint from its base's — only the appended
    // stopword and rare shifted-word-hits-another-vocab-word collisions
    // can overlap, far below the near band's >= 0.8 Jaccard
    val rotatedLeaky = joined
      .filter(!col("is_near") && col("text") =!= col("base_text"))
      .filter(col("jaccard") > 0.2).count()
    rotatedLeaky shouldBe 0L
    // and near-dups exist
    assert(joined.filter(col("is_near") && col("text") =!= col("base_text"))
      .count() > 0, "no near-dup band synthesized")
    base.unpersist(); syn.unpersist()
  }

  test("synthEmbeddings: counts, exact band bit-equality, ~0.95 cosine") {
    val out = tmp("embs")
    Soak.synthEmbeddings(spark, src, out, replicas = 3)
    val base = spark.read.parquet(s"$src/embeddings.parquet").cache()
    val syn = spark.read.parquet(s"$out/embeddings.parquet").cache()
    val n = base.count()
    syn.count() shouldBe 3 * n

    import graft.functions.VectorFunctions.{vector_dot, vector_norm}
    val pairs = base.select(col("vec_id"), col("embedding").as("be"))
      .join(syn.filter(col("vec_id") >= 1020000000L)
          .withColumn("base_id", pmod(col("vec_id"), lit(1020000000L)))
          .select(col("base_id").as("vec_id"), col("embedding").as("se")),
        "vec_id")
      .withColumn("cos",
        vector_dot(col("be"), col("se"))
          / (vector_norm(col("be")) * vector_norm(col("se"))))
      .cache()
    // exact band: bit-identical vectors exist; perturbed: cosine in a
    // tight band around 0.95, never below 0.9 (the soak's "dense
    // near-dup cells" claim)
    assert(pairs.filter(col("be") === col("se")).count() > 0,
      "no exact embedding band")
    val minCos = pairs.agg(min("cos")).head().getDouble(0)
    assert(minCos > 0.9, f"perturbation too strong: min cosine $minCos%.4f")
    pairs.unpersist(); base.unpersist(); syn.unpersist()
  }

  test("synthEvents: disjoint user axes, timestamps untouched") {
    val out = tmp("evts")
    Soak.synthEvents(spark, src, out, replicas = 3)
    val base = SparkEntry.rd(spark, src, "events").cache()
    val syn = spark.read.parquet(s"$out/events.parquet")
    val synR = SparkEntry.rd(spark, out, "events").cache()
    syn.count() shouldBe 3 * base.count()
    // user axes are disjoint per replica: every replica-i user id sits in
    // [i*Offset, i*Offset + Offset)
    val crossed = synR.withColumn("rep", floor(col("user_id") / 1020000000L))
      .withColumn("eidRep", floor(col("event_id") / 1020000000L))
      .filter(col("rep") =!= col("eidRep")).count()
    crossed shouldBe 0L
    // same wall-clock span as the base (timestamps untouched)
    val Seq(bLo, bHi) = base.agg(min("ts"), max("ts")).head().toSeq
      .map(_.toString)
    val Seq(sLo, sHi) = synR.agg(min("ts"), max("ts")).head().toSeq
      .map(_.toString)
    sLo shouldBe bLo
    sHi shouldBe bHi
    base.unpersist(); synR.unpersist()
  }

  test("renderReport labels the base scale from the sf dir it ran on") {
    val drain = Soak.Drain(1.0, "/unused", 10L, 100L, 0)
    val report = Soak.renderReport("/data/sf0.01", 50L, 50L, 50L,
      1.0, 1.0, 0.3, 0.3,
      Seq(Soak.ChainResult("s9_stream_funnel", 1.0, 4.0, 10L, 100L)),
      Seq(("x2pr_minhash_prod_recall", 0.95, 5L, true)),
      Soak.AnnPosture(4, 12, 3, 9, 5, Seq(5 -> 0.95), 1.0, 2.0, 3.0, 10L),
      drain, drain, drain, 10L)
    report should include("past sf0.01")
    report should include("| chain | t(sf0.01) s |")
    report should include("rows sf0.01 → 10×")
    report should include("| sf0.01, default provider |")
    report should not include "sf0.1"
  }
}
