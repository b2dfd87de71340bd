package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.{Cached, SparkSpec}
import graft.functions.Winnow

class FingerprintSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: all k-gram MD5₄₈ hashes via String code-point
    * slicing, O(n·w) window mins, distinct in first-window order.
    */
  private def reference(s: String, k: Int, w: Int): Seq[Long] = {
    val cps = s.codePointCount(0, s.length)
    if (cps == 0) return Seq.empty
    val md = MessageDigest.getInstance("MD5")
    def gram(i: Int): String = { // i is 0-based code-point index
      val from = s.offsetByCodePoints(0, i)
      val until = s.offsetByCodePoints(0, math.min(i + k, cps))
      s.substring(from, until)
    }
    val nGrams = math.max(cps - k + 1, 1)
    val h = (0 until nGrams).map { i =>
      val d = md.digest(gram(i).getBytes("UTF-8"))
      ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    }
    val nWin = math.max(nGrams - w + 1, 1)
    (0 until nWin).map(i => h.slice(i, i + w).min).distinct
  }

  private def run(texts: Seq[String], k: Int, w: Int,
      portable: Boolean = true): Seq[Seq[Long]] =
    texts.toDF("t")
      .select(Winnow.fingerprints(col("t"), k, w, portable).as("f"))
      .collect().map(_.getSeq[Long](0)).toSeq

  test("kernel matches the O(n·w) reference, order included") {
    val rng = new scala.util.Random(7)
    val texts = Seq.tabulate(20)(i =>
      rng.alphanumeric.take(5 + rng.nextInt(200)).mkString + i)
    run(texts, k = 5, w = 4) shouldBe texts.map(reference(_, 5, 4))
    run(texts, k = 12, w = 7) shouldBe texts.map(reference(_, 12, 7))
  }

  test("multi-byte text: gram boundaries are code points, kernel = reference") {
    val texts = Seq("héllo wörld ünïcode déjà vu ré",
      "日本語のテキストで指紋を計算する", "mixed ascii と 日本語 ügly")
    run(texts, k = 4, w = 3) shouldBe texts.map(reference(_, 4, 3))
  }

  test("winnowing guarantee: a shared k+w-1 char span shares a fingerprint") {
    val k = 5; val w = 4
    val rng = new scala.util.Random(11)
    val span = rng.alphanumeric.take(k + w - 1).mkString
    (1 to 20).foreach { i =>
      val a = rng.alphanumeric.take(50).mkString + span +
        rng.alphanumeric.take(50).mkString
      val b = rng.alphanumeric.take(70).mkString + span +
        rng.alphanumeric.take(30).mkString
      val Seq(fa, fb) = run(Seq(a, b), k, w)
      assert(fa.toSet.intersect(fb.toSet).nonEmpty,
        s"iteration $i: no shared fingerprint across a shared span")
    }
  }

  test("density: ~2/(w+1) of grams survive on random text") {
    val rng = new scala.util.Random(3)
    val text = rng.alphanumeric.take(5000).mkString
    val k = 8; val w = 9
    val nGrams = 5000 - k + 1
    val nFp = run(Seq(text), k, w).head.size
    val expected = 2.0 / (w + 1) * nGrams
    assert(nFp > expected * 0.5 && nFp < expected * 2.0,
      s"$nFp fingerprints vs expected ~$expected")
  }

  test("short and empty documents") {
    // shorter than k: whole text is the single gram -> one fingerprint
    run(Seq("ab"), k = 30, w = 8).head.size shouldBe 1
    // empty: none
    run(Seq(""), k = 30, w = 8).head shouldBe Seq.empty
    // fewer grams than w: min over all -> exactly one
    run(Seq("abcdefgh"), k = 5, w = 8).head.size shouldBe 1
    // null text -> null out (explode would drop it)
    Seq[String](null).toDF("t")
      .select(Winnow.fingerprints(col("t"), 30, 8).as("f"))
      .collect().head.isNullAt(0) shouldBe true
  }

  test("portable=false (XXH64) pairs the same planted duplicates") {
    val rng = new scala.util.Random(5)
    val boiler = rng.alphanumeric.take(60).mkString
    val docs = (1L to 4L).map(i =>
      (i, rng.alphanumeric.take(100).mkString + boiler +
        rng.alphanumeric.take(100).mkString)) ++
      (5L to 8L).map(i => (i, rng.alphanumeric.take(260).mkString))
    def pairs(portable: Boolean) =
      Fingerprint.spanCandidates(docs.toDF("id", "t"), "id", "t",
        k = 10, w = 5, minShared = 2, portable = portable)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)).toSet
    pairs(portable = true) shouldBe expected
    pairs(portable = false) shouldBe expected
  }

  test("maxDocsPerFp drops boilerplate-only pairs; minShared separates") {
    val rng = new scala.util.Random(13)
    val boiler = rng.alphanumeric.take(60).mkString
    val docs = (1L to 5L).map(i =>
      (i, rng.alphanumeric.take(80).mkString + boiler +
        rng.alphanumeric.take(80).mkString))
    val df = docs.toDF("id", "t")
    // every fingerprint of the shared span is carried by all 5 docs;
    // cap at 4 removes them all -> no pairs survive
    Fingerprint.spanCandidates(df, "id", "t", k = 10, w = 5,
      minShared = 1, maxDocsPerFp = 4).count() shouldBe 0L
    // without the cap the clique is complete
    Fingerprint.spanCandidates(df, "id", "t", k = 10, w = 5,
      minShared = 1, maxDocsPerFp = 1000).count() shouldBe 10L
  }

  test("plan: candidates via equi-join, stop-list broadcast, no cartesian") {
    val df = Seq((1L, "abcdefghijkl"), (2L, "zyxwvutsrqpo")).toDF("id", "t")
    val plan = Fingerprint.spanCandidates(df, "id", "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // the anti stop-join
  }

  test("exciseSharedSpans cuts exactly the shared passage, merged as one span") {
    // 13 docs embed the same 30-char passage; 12 of them also share the
    // " unique tail " context after it. EVERYTHING >10-doc-shared goes:
    // docs 1-12 lose " <passage> unique tail " (44 chars, one merged
    // span — the shared context is itself shared text), doc 50 loses
    // " <passage>" (31 chars; its other context is unique), and the
    // per-doc digits survive because every gram containing them is rare
    val boiler = "SHARED BOILERPLATE PASSAGE XYZ"
    boiler.length shouldBe 30
    val docs = (1 to 12).map(i =>
      (i.toLong, s"unique prefix $i $boiler unique tail $i")) ++ Seq(
      (50L, s"start $boiler"),               // passage at end: empty tail
      (99L, "totally unique text with no repeats at all here"))
    val out = Fingerprint.exciseSharedSpans(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = 15, maxDocs = 10)
      .select("doc_id", "clean", "n_spans_removed", "n_chars_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    out(1L) shouldBe (("unique prefix 11", 1L, 44L))
    out(12L) shouldBe (("unique prefix 1212", 1L, 44L))
    out(50L) shouldBe (("start", 1L, 31L))
    out(99L) shouldBe (("totally unique text with no repeats at all here", 0L, 0L))
  }

  test("exciseSharedSpans agrees with a naive reference on a random corpus") {
    // 60 random docs over a 4-char alphabet: heavy gram sharing, plenty
    // of overlap/adjacency merges, docs shorter than k, and fully-cut
    // docs — checked against an independent driver-side implementation
    val k = 5
    val maxDocs = 3
    val rng = new scala.util.Random(0x67726166745221L)
    val alphabet = "abcd"
    val docs = (0 until 60).map { i =>
      val len = rng.nextInt(45)
      (i.toLong,
        (0 until len).map(_ => alphabet(rng.nextInt(4))).mkString)
    }
    // naive reference: exact gram->distinct-doc counts on raw strings
    val gramDocs = scala.collection.mutable.Map[String, Set[Long]]()
    for ((id, t) <- docs; j <- 0 to t.length - k if t.length >= k)
      gramDocs.updateWith(t.substring(j, j + k))(
        s => Some(s.getOrElse(Set.empty) + id))
    val hot = gramDocs.collect {
      case (g, ids) if ids.size > maxDocs => g
    }.toSet
    val expected = docs.map { case (id, t) =>
      val starts = (0 to t.length - k)
        .filter(j => t.length >= k && hot(t.substring(j, j + k)))
      // merge [j, j+k-1] intervals when start <= prevEnd + 1
      val merged = starts.foldLeft(List.empty[(Int, Int)]) {
        case (acc, j) => acc match {
          case (s, e) :: rest if j <= e + 1 => (s, math.max(e, j + k - 1)) :: rest
          case _ => (j, j + k - 1) :: acc
        }
      }.reverse
      val clean = merged.foldRight(t) { case ((s, e), cur) =>
        cur.substring(0, s) + cur.substring(e + 1)
      }
      id -> ((clean, merged.size.toLong,
        merged.map { case (s, e) => (e - s + 1).toLong }.sum))
    }.toMap
    val out = Fingerprint.exciseSharedSpans(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = k,
      maxDocs = maxDocs)
      .select("doc_id", "clean", "n_spans_removed", "n_chars_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out.keySet shouldBe expected.keySet
    expected.foreach { case (id, exp) =>
      withClue(s"doc $id (text '${docs(id.toInt)._2}'):") {
        out(id) shouldBe exp
      }
    }
  }

  test("exciseSharedSpans passes short and null docs through untouched") {
    val docs = Seq((1L, "tiny"), (2L, null.asInstanceOf[String])) ++
      (10 to 30).map(i => (i.toLong, "the very same repeated body text"))
    val out = Fingerprint.exciseSharedSpans(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = 15, maxDocs = 10)
      .select("doc_id", "clean", "n_spans_removed", "n_chars_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    out(1L) shouldBe (("tiny", 0L, 0L))
    out(2L)._1 shouldBe null
    out(2L)._2 shouldBe 0L
    // identical docs: the whole body is one merged span, clean is empty
    out(10L) shouldBe (("", 1L, 32L))
  }

  test("Cached.scope: spanCandidates releases the fingerprint cache, even on throw") {
    // one-sided: earlier tests' localCheckpoint blocks release
    // ASYNCHRONOUSLY (ContextCleaner), so the global count may shrink
    // while this test runs — a leak from THIS call can only show as
    // after > before, never as after < before
    def cachedCount() = spark.sparkContext.getPersistentRDDs.size
    val before = cachedCount()
    val df = Seq((1L, "abcdefghijkl"), (2L, "abcdefghijkl")).toDF("id", "t")
    Cached.scope {
      Fingerprint.spanCandidates(df, "id", "t", k = 5, w = 3)
        .count() shouldBe 1L
    }
    cachedCount() should be <= before
    intercept[RuntimeException] {
      Cached.scope {
        Fingerprint.spanCandidates(df, "id", "t")
        throw new RuntimeException("boom")
      }
    }
    cachedCount() should be <= before
  }
}
