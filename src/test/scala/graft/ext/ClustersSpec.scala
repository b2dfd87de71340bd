package graft.ext

import org.apache.spark.sql.functions._

import graft.{Cached, SparkSpec}

class ClustersSpec extends SparkSpec {

  // driverFinish = 0 forces the DISTRIBUTED contraction path (the spec
  // graphs are all tiny, so the default would finish on the driver)
  private def cc(pairs: Seq[(Long, Long)], driverFinish: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    Clusters.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b",
      driverFinishEdges = driverFinish)
      .as[(Long, Long)].collect().toMap
  }

  test("two cliques bridged by one edge collapse into one cluster") {
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L))
    assert(cc(clique) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(cc(clique :+ (3L, 10L)) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("chain components converge (the pathological diameter case)") {
    // a 200-link path: naive propagation needs 200 rounds, star
    // contraction must finish inside the default budget
    val chain = (0L until 200L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.size === 201)
    assert(got.values.toSet === Set(0L))
  }

  test("direction, duplicates, and self-loops in the pair input are ignored") {
    val messy = Seq((5L, 2L), (2L, 5L), (2L, 5L), (7L, 7L), (5L, 9L))
    assert(cc(messy) === Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("empty pair set yields an empty clustering (both paths)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clusters.connectedComponents(empty, "id_a", "id_b").count() === 0L)
    assert(Clusters.connectedComponents(empty, "id_a", "id_b",
      driverFinishEdges = 0L).count() === 0L)
  }

  test("driver union-find finish equals the distributed fixpoint") {
    // same pinned random graph through both paths: the default finishes
    // on the driver (edges << 1M), driverFinishEdges = 0 iterates the
    // star contraction to its fixpoint
    val rng = new scala.util.Random(graft.Check.PinnedSeed + 1)
    val pairs = Seq.fill(500)((rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      .filter(p => p._1 != p._2)
    assert(cc(pairs, driverFinish = 1000000L) === cc(pairs, driverFinish = 0L))
    // mid-loop trigger: threshold crossed only after the first round's
    // contraction shrinks a long chain's edge set
    val chain = (0L until 150L).map(i => (i, i + 1))
    assert(cc(chain, driverFinish = 60L) === cc(chain, driverFinish = 0L))
  }

  test("matches union-find on a pinned random graph") {
    import spark.implicits._
    val rng = new scala.util.Random(graft.Check.PinnedSeed)
    val n = 400
    val pairs = Seq.fill(300)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter(p => p._1 != p._2)

    // reference union-find with path compression
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // canonical = min node id of the component among PRESENT nodes
    val expected = nodes.groupBy(id => find(id.toInt)).values
      .flatMap(ids => ids.map(_ -> ids.min)).toMap

    assert(cc(pairs) === expected)
  }

  test("connectedComponents releases intermediate checkpoints (one pinned set)") {
    // Each round localCheckpoints the contracted edge set; previous rounds'
    // blocks must be unpersisted as soon as the next round materializes —
    // otherwise 2-4 copies of a 100 TB-scale edge set stay pinned. A chain
    // graph forces several contraction rounds; afterwards at most ONE new
    // persistent RDD (the final fixpoint set) may remain.
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 64L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val out = Clusters.connectedComponents(chain, "id_a", "id_b",
      driverFinishEdges = 0L).collect()
    assert(out.length === 64 && out.forall(_.getLong(1) == 0L))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"expected at most 1 pinned checkpoint, found ${after - before}")
  }

  test("group-graph components equal doc-graph components (incl. isolated dup groups, empty text)") {
    import spark.implicits._
    // fixture exercises every branch of the group-level rewrite:
    //  - a near-dup CHAIN across distinct token sets (cross-group edges)
    //  - an exact-duplicate group fused to the chain (expansion inside a
    //    cross component)
    //  - an ISOLATED exact-duplicate group (30/31: no cross pair — must be
    //    restored as its own component)
    //  - blank-text docs (40/41: the tokenizer yields the {""} singleton
    //    set for blank text, so they are set-identical at Jaccard 1 and
    //    form their own isolated component — the truly-empty-set branch
    //    (intra Jaccard 0) is unreachable through tokenSet but stays
    //    guarded in nearDuplicateComponents for set-valued callers)
    //  - an unrelated singleton (50: absent)
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river",
      2L -> "the quick brown fox jumps over the lazy dog near the creek",
      3L -> "the quick brown fox jumps over the lazy dog near the creek bed",
      4L -> "the quick brown fox jumps over the lazy dog near the river", // = 1
      30L -> "columnar storage formats and shuffle services in depth",
      31L -> "columnar storage formats and shuffle services in depth", // = 30
      40L -> "   ",
      41L -> "",
      50L -> "completely unrelated content about distributed consensus protocols"
    ).toDF("doc_id", "text")

    val docLevel = Cached.scope {
      Clusters.connectedComponents(Dedup.nearDuplicatesMinhash(
          docs, "doc_id", "text", threshold = 0.5,
          numHashes = 128, bands = 32), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    }
    val groupLevel = Dedup.nearDuplicateComponents(
      docs, "doc_id", "text", threshold = 0.5, numHashes = 128, bands = 32)
      .as[(Long, Long)].collect().toMap

    assert(groupLevel === docLevel)
    assert(groupLevel.contains(30L) && groupLevel(31L) === 30L) // isolated group restored
    assert(groupLevel(40L) === 40L && groupLevel(41L) === 40L) // blank text: {""} sets
    assert(!groupLevel.contains(50L))
    assert(groupLevel(4L) === groupLevel(1L)) // exact dup rides its group's component
  }

  test("group-graph components equal doc-graph components on a pinned random corpus") {
    import spark.implicits._
    // random docs drawn from a small template pool with per-doc mutations:
    // produces a mix of exact-duplicate groups, near-dup chains, and
    // singletons — the shapes that exercise contraction + restoration
    val rng = new scala.util.Random(graft.Check.PinnedSeed)
    val templates = Vector(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet cyan magenta white")
    val docs = (0L until 120L).map { i =>
      val base = templates(rng.nextInt(templates.length)).split(" ")
      val mutated =
        if (rng.nextBoolean()) base
        else base.updated(rng.nextInt(base.length), s"tok${rng.nextInt(4)}")
      (i, mutated.mkString(" "))
    }.toDF("doc_id", "text")

    val docLevel = Cached.scope {
      Clusters.connectedComponents(Dedup.nearDuplicatesMinhash(
          docs, "doc_id", "text", threshold = 0.7,
          numHashes = 128, bands = 32), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    }
    val groupLevel = Dedup.nearDuplicateComponents(
      docs, "doc_id", "text", threshold = 0.7, numHashes = 128, bands = 32)
      .as[(Long, Long)].collect().toMap
    assert(groupLevel === docLevel)
    assert(groupLevel.nonEmpty) // the pool guarantees collisions
  }

  test("leakageSafeSplitByComponents equals leakageSafeSplit on the same graph") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, if (i % 4 == 0) s"shared shared shared token doc" else s"unique text number $i with more words"))
      .toDF("doc_id", "text")
    val direct = Cached.scope {
      val pairs =
        Dedup.nearDuplicatesMinhash(docs, "doc_id", "text", threshold = 0.8)
      Curation.leakageSafeSplit(docs, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    }
    val byComponents = Curation.leakageSafeSplitByComponents(docs, "doc_id",
      Dedup.nearDuplicateComponents(docs, "doc_id", "text", threshold = 0.8),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(byComponents === direct)
  }

  test("keepCanonical keeps cluster minima and untouched rows") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Clusters.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(0L, 1L, 4L, 5L, 6L, 7L, 9L))
  }
}
