package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

/** Scratch LSH parameter sweep (round 4). Not part of the contract.
  * Times topKLsh / nearDuplicatesEmbedding configs and measures recall
  * against the exact plans, mirroring y2r/x6r.
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def settle(): Unit = { spark.catalog.clearCache(); System.gc(); Thread.sleep(300) }

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    if (args.headOption.contains("semdedup")) {
      // x10 parameter sweep: IVF-cell near-dup recall vs the exact twin
      val exact = Dedup.nearDuplicatesEmbeddingExact(
          emb, "vec_id", "embedding", 0.45)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (nlist <- Seq(8, 16, 32); nprobe <- Seq(2, 3, 4)) {
        settle()
        val t0 = System.nanoTime()
        val got = Dedup.nearDuplicatesSemantic(
            emb, "vec_id", "embedding", 0.45, nlist = nlist, nprobe = nprobe)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[sweep] nlist=$nlist%2d nprobe=$nprobe recall=${
          (exact & got).size.toDouble / exact.size}%.3f pairs=${got.size} $dt%5.2fs")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("stages")) {
      // decompose the current y2 config: where do the seconds go?
      import graft.functions.VectorFunctions.{vector_dot, vector_norm}
      val d = 64
      def time(name: String)(f: => Any): Unit = {
        settle()
        val t0 = System.nanoTime()
        val r = f
        println(f"[sweep] $name: ${(System.nanoTime() - t0) / 1e9}%6.2f s -> $r")
      }
      val sig = emb.select(
        col("vec_id").as("id"),
        explode(graft.ext.Similarity.bandedBuckets(
          col("embedding"), 18, 4, d, 42L)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      time("sig only")(sig.count())
      val cand0 = sig.select(col("id").as("query_id"), col("band"), col("bucket"))
        .join(sig.select(col("id").as("neighbor_id"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      time("cand pre-dedup")(cand0.count())
      val cand = cand0.distinct()
      time("cand distinct")(cand.count())
      val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        vector_norm(col("embedding")).as("n"))
      val scored = cand
        .join(vecs.select(col("id").as("query_id"), col("v").as("qv"), col("n").as("qn")), Seq("query_id"))
        .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv"), col("n").as("cn")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (vector_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      time("scored")(scored.count())
      time("full y2")(graft.ext.Similarity.topKLsh(
        emb, "vec_id", "embedding", k = 5).count())
      scored.explain("formatted")
      spark.stop()
      return
    }

    if (args.headOption.contains("y6")) {
      // y6 serving sweep: smallest (nprobe, rescoreFactor) holding the
      // cross-split recall >= 0.9 bar, with the index built once (as the
      // serving path would) so timings isolate the SEARCH cost.
      import graft.ext.Clustering
      val snapshot = emb.filter(pmod(col("vec_id"), lit(10)) < 9)
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val coarse = Clustering.kmeans(snapshot, "vec_id", "embedding",
        k = 16, iterations = 1, roundDigits = 6).centroids
      val pq = Similarity.trainPqDeterministic(snapshot, "vec_id", "embedding",
        m = 16, ksub = 256, iterations = 1, roundDigits = 6, dims = 64)
      val index = Similarity.buildIvfPqIndex(
        snapshot, "vec_id", "embedding", coarse, pq)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      index.count()
      val exact = Similarity.topKBruteForce(
        batch, snapshot, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"[sweep] y6 exact cross-split top-5 pairs: ${exact.size}")
      for (nprobe <- Seq(4, 6, 8, 10, 12); rf <- Seq(4, 8, 16, 32, 64)) {
        val approx = Similarity.searchIvfPqIndex(batch, index, snapshot,
          "vec_id", "embedding", k = 5, coarse = coarse, pq = pq,
          nprobe = nprobe, rescoreFactor = rf)
        approx.count() // warm
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        val got = approx.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        val rec = if (exact.isEmpty) 1.0
          else exact.count(got.contains).toDouble / exact.size
        println(f"[sweep] y6 nprobe=$nprobe%2d rf=$rf%2d " +
          f"time=$dt%6.2f s recall=$rec%.4f")
      }
      index.unpersist()
      spark.stop()
      return
    }

    // ---- y2 family: topKLsh vs brute-force top-5 of queries < 100
    val exactTop = Similarity.topKBruteForce(
      emb.filter(col("vec_id") < 100), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[sweep] exact top-5 pairs (q<100): ${exactTop.size}")

    def bestOf(runs: Int)(f: => Long): (Double, Long) = {
      f // warm: Janino + JIT, untimed (the bench's warm pass pays this)
      var best = Double.MaxValue; var n = 0L
      (1 to runs).foreach { _ =>
        settle()
        val t0 = System.nanoTime()
        n = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, n)
    }

    val y2Grid = Seq((4, 18), (4, 14), (4, 16), (3, 8), (3, 10), (3, 12), (5, 20))
    y2Grid.foreach { case (b, l) =>
      val approx = Similarity.topKLsh(
        emb, "vec_id", "embedding", k = 5, bands = l, planesPerBand = b)
      val (dt, n) = bestOf(2)(approx.count())
      val got = approx.filter(col("query_id") < 100)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = if (exactTop.isEmpty) 1.0
        else exactTop.count(got.contains).toDouble / exactTop.size
      println(f"[sweep] y2 b=$b%d L=$l%2d time=$dt%6.2f s rows=$n%d recall=$rec%.4f")
    }

    // ---- x6 family: nearDuplicatesEmbedding vs exact pairs >= 0.45
    val exactPairs = Dedup.nearDuplicatesEmbeddingExact(
      emb, "vec_id", "embedding", minCosine = 0.45)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[sweep] exact pairs >=0.45: ${exactPairs.size}")

    val x6Grid = Seq((3, 12), (4, 10), (4, 12), (4, 13), (5, 16), (5, 21))
    x6Grid.foreach { case (b, l) =>
      val approx = Dedup.nearDuplicatesEmbedding(
        emb, "vec_id", "embedding", minCosine = 0.45,
        bands = l, planesPerBand = b)
      val (dt, n) = bestOf(2)(approx.count())
      val got = approx.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = if (exactPairs.isEmpty) 1.0
        else exactPairs.count(got.contains).toDouble / exactPairs.size
      println(f"[sweep] x6 b=$b%d L=$l%2d time=$dt%6.2f s rows=$n%d recall=$rec%.4f")
    }
    spark.stop()
  }
}
