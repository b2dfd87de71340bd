package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiling main (round 3). Not part of the contract. */
object Prof {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("order")) {
      SparkEntry.queries.keys.zipWithIndex.foreach { case (k, i) => println(f"$i%2d $k") }
      return
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJAGG_FALLBACK", "128"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s -> $r")
    }
    def settle(): Unit = { spark.catalog.clearCache(); System.gc(); Thread.sleep(300) }
    def run(n: String): Long = SparkEntry.queries(n)(spark, dir).count()

    if (args.headOption.contains("explain")) {
      args.drop(1).foreach { n =>
        println(s"===== $n =====")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
      spark.stop()
      return
    }
    // q73_drift_ks bimodality root-cause (round-11 verdict #2): two
    // canary-quiet records read ~1.8 s while clean subset runs read
    // 0.24-0.35 s — the split only shows up in FULL-surface runs, so the
    // suspect is cross-query JVM state (codegen-cache eviction → Janino
    // recompile, JIT deopt, heap debris), not the query's own plan.
    // Protocol: baseline passes in a fresh JVM, then one pass of every
    // OTHER query to reproduce full-run pressure, then the same timed
    // passes again — each pass annotated with ΔGC-time, ΔJIT-time and
    // ΔJanino-compilation-count so a slow pass attributes itself, plus a
    // watchdog stack dump at +900 ms for direct evidence.
    if (args.headOption.contains("q73bi")) {
      val target = args.lift(1).getOrElse("q73_drift_ks")
      val data = Scratch.stage(dir)
      val gcBeans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans
      def gcMs: Long = {
        var s = 0L; gcBeans.forEach(b => s += b.getCollectionTime); s
      }
      val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
      def jitMs: Long = jitBean.getTotalCompilationTime
      def janinoCount: Long = org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def janinoMs: Long = org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
      val watchdog = new java.util.Timer("q73bi-watchdog", true)
      def dumpStacks(tag: String): Unit = {
        val sb = new StringBuilder(s"[q73bi] STACKS $tag\n")
        Thread.getAllStackTraces.forEach { (t, frames) =>
          if (t.getState == Thread.State.RUNNABLE && frames.nonEmpty &&
              frames.exists(f => f.getClassName.contains("spark") ||
                f.getClassName.contains("janino") ||
                f.getClassName.contains("codegen")))
            sb.append(s"  ${t.getName}\n")
              .append(frames.take(10).map(f => s"    $f").mkString("\n"))
              .append("\n")
        }
        System.err.println(sb)
      }
      def settleB(): Unit = {
        spark.catalog.clearCache(); System.gc(); Thread.sleep(100)
      }
      def pass(tag: String): Double = {
        val g0 = gcMs; val j0 = jitMs; val c0 = janinoCount
        val task = new java.util.TimerTask {
          def run(): Unit = dumpStacks(tag)
        }
        watchdog.schedule(task, 900)
        val t0 = System.nanoTime()
        SparkEntry.queries(target)(spark, data).count()
        val dt = (System.nanoTime() - t0) / 1e9
        task.cancel()
        println(f"[q73bi] $tag wall=$dt%.3fs gc=+${gcMs - g0}ms " +
          f"jit=+${jitMs - j0}ms janino=+${janinoCount - c0}")
        settleB()
        dt
      }
      SparkEntry.queries(target)(spark, data).count() // warm
      settleB()
      (1 to 6).foreach(i => pass(s"baseline#$i"))
      println(s"[q73bi] pressure: one pass of every other query " +
        s"(janino total before=${janinoCount}, ${janinoMs / 1000000} ms)")
      SparkEntry.queries.keys.filter(_ != target).foreach { n =>
        try SparkEntry.queries(n)(spark, data).count()
        catch { case e: Throwable =>
          System.err.println(s"[q73bi] $n failed: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
      settleB()
      println(s"[q73bi] pressure done " +
        s"(janino total=${janinoCount}, ${janinoMs / 1000000} ms)")
      (1 to 6).foreach(i => pass(s"after-surface#$i"))
      spark.stop()
      return
    }
    // Same-JVM A/B of the s1 dedup-gate trigger: RAW index artifact
    // (per-trigger collapseIndex aggregation, the pre-round-15 path) vs
    // COLLAPSED artifact (indexPreCollapsed). Alternating rounds in one
    // JVM — the only timing protocol that survives this host's ±50%
    // cross-session drift (verify-skill lesson). Cold = cache cleared
    // before the trigger; warm = second trigger with the retained index
    // cache, the sink's steady state.
    if (args.headOption.contains("s1ab")) {
      import org.apache.spark.sql.functions._
      val data = Scratch.stage(dir)
      val raw = spark.read.parquet(SparkEntry.s1IndexPath(spark, data))
      val collapsed = spark.read.parquet(SparkEntry.s13IndexPath(spark, data))
      val crawl = SparkEntry.rd(spark, data, "documents")
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
        .select("doc_id", "text", "lang", "source")
      val out = Scratch.ephemeralDir("s1ab")
      var n = 0
      def trigger(tag: String, ix: org.apache.spark.sql.DataFrame,
          pre: Boolean): Unit = {
        n += 1
        val t0 = System.nanoTime()
        graft.streaming.EventStream.applyDedupGateBatch(
          crawl, n.toLong, ix, "doc_id", "text", 0.8, s"$out/o$n",
          numHashes = 128, bands = 32, indexPreCollapsed = pre)
        println(f"[s1ab] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      (1 to 4).foreach { i =>
        settle()
        trigger(s"raw-cold#$i", raw, pre = false)
        trigger(s"raw-warm#$i", raw, pre = false)
        settle()
        trigger(s"col-cold#$i", collapsed, pre = true)
        trigger(s"col-warm#$i", collapsed, pre = true)
      }
      spark.stop()
      return
    }
    // Same-JVM A/B of the round-16 DoReMi carrier rewrite. OLD shape =
    // per-(doc, gram) count frame + specialist-reference scoring pass +
    // per-EG-step broadcast-model joins and per-doc shuffles (the
    // pre-round-16 ext.Doremi.plan, inlined verbatim below); NEW shape =
    // the shipped ext.Doremi (per-doc vector frame, sufficient statistics
    // collected once, map-only step passes). Alternating rounds in one
    // JVM — the only timing protocol that survives this host's ±50%
    // cross-session drift — and the two outputs are compared row-for-row
    // (the rewrite must be a carrier change only; the oracle pins the
    // same claim cross-engine).
    if (args.headOption.contains("doremiAb")) {
      import org.apache.spark.sql.{DataFrame, Row}
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      import org.apache.spark.storage.StorageLevel
      val data = Scratch.stage(dir)
      def g4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
      def g6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
      def gridD(v: Double, g: Double): Double = math.floor(v * g + 0.5) / g
      def coin(idCol: String, salt: String) =
        conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 5),
          16, 10).cast("long")
      // the pre-round-16 plan, verbatim (params fixed at q98's values)
      def oldDomainWeights(docs: DataFrame, idCol: String, textCol: String,
          domainCol: String, salt: String): DataFrame = {
        val n = 3; val addK = 0.01; val alphabetSize = 64
        val steps = 3; val eta = 1.0; val smoothing = 1e-3
        val pg = docs
          .filter(col(textCol).isNotNull)
          .select(col(idCol).as("_id"), col(domainCol).as("_dom"),
            explode(ext.Shingles.charNGramsAll(col(textCol), n)).as("gram"))
          .groupBy("_id", "_dom", "gram")
          .agg(count(lit(1)).as("c"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val dgc = pg.groupBy("_dom", "gram").agg(sum("c").as("dc"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val dctx = dgc.groupBy(col("_dom"),
            substring(col("gram"), 1, n - 1).as("pre"))
          .agg(sum("dc").as("dcc"))
        val tots: Map[String, Long] = dgc.groupBy("_dom")
          .agg(sum("dc").as("tot")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val nDocs: Map[String, Long] = docs.groupBy(col(domainCol))
          .agg(count(lit(1)).as("nd")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val domains = nDocs.keys.toSeq.sorted
        val totalGrams = tots.values.sum.toDouble
        val totalDocs = nDocs.values.sum.toDouble
        val nd = domains.size
        val refNllExpr = -log(
          (col("dc").cast("double") + addK) /
            (col("dcc").cast("double") + addK * alphabetSize))
        val dctxR = dctx.select(col("_dom").as("_domc"), col("pre"), col("dcc"))
        val refNll = pg
          .join(broadcast(dgc), Seq("_dom", "gram"))
          .join(broadcast(dctxR),
            col("_dom") === col("_domc") &&
              substring(col("gram"), 1, n - 1) === col("pre"))
          .groupBy(col("_id"), col("_dom"))
          .agg((sum(col("c") * refNllExpr) / sum(col("c")).cast("double"))
            .as("_l"))
          .select(col("_id"), col("_dom"), g4(col("_l")).as("lref"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        var alpha: Map[String, Double] = domains.map(_ -> 1.0 / nd).toMap
        val iterates = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
        var lastExcess: Map[String, Double] = domains.map(_ -> 0.0).toMap
        for (_ <- 0 until steps) {
          val scaleRows = domains.map { d =>
            val tot = tots.getOrElse(d, 0L)
            Row(d, if (tot == 0L) 0.0 else alpha(d) * (totalGrams / tot))
          }
          val scaleDF = spark.createDataFrame(
            spark.sparkContext.parallelize(scaleRows, 1),
            StructType(Seq(StructField("_dom", StringType),
              StructField("scale", DoubleType))))
          val model = dgc.join(broadcast(scaleDF), Seq("_dom"))
            .groupBy("gram")
            .agg(sum(col("dc").cast("double") * col("scale")).as("w"))
          val ctx = model.groupBy(substring(col("gram"), 1, n - 1).as("pre"))
            .agg(sum("w").as("wc"))
          val mixNll = -log(
            (col("w") + addK) / (col("wc") + addK * alphabetSize))
          val scored = pg
            .join(broadcast(model), Seq("gram"))
            .join(broadcast(ctx), substring(col("gram"), 1, n - 1) === col("pre"))
            .groupBy(col("_id"), col("_dom"))
            .agg((sum(col("c") * mixNll) / sum(col("c")).cast("double"))
              .as("_l"))
            .select(col("_id"), g4(col("_l")).as("l"))
          val excessRows = scored
            .join(refNll.select(col("_id"), col("_dom"), col("lref")), Seq("_id"))
            .groupBy("_dom")
            .agg(g6(avg(greatest(col("l") - col("lref"), lit(0.0)))).as("ex"))
            .collect()
          val excess = domains.map(_ -> 0.0).toMap ++
            excessRows.map(r => r.getString(0) -> r.getDouble(1)).toMap
          lastExcess = excess
          val unnorm = domains.map(d => d -> alpha(d) * math.exp(eta * excess(d)))
          val z = unnorm.map(_._2).sum
          alpha = unnorm.map { case (d, u) =>
            d -> gridD((1.0 - smoothing) * (u / z) + smoothing / nd, 1e9)
          }.toMap
          iterates += alpha
        }
        val outRows = domains.map { d =>
          val weight = gridD(iterates.map(_(d)).sum / steps, 1e9)
          val share = gridD(nDocs(d) / totalDocs, 1e6)
          val rate = gridD(math.min(1.0, weight / share), 1e6)
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
        val kept = docs
          .join(broadcast(outDF.select(col(domainCol), col("rate"))),
            Seq(domainCol))
          .filter(coin(idCol, salt) <
            floor(col("rate") * 1048576L).cast("long"))
          .groupBy(col(domainCol))
          .agg(count(lit(1)).as("_nk"))
        val weights = outDF
          .join(kept, Seq(domainCol), "left")
          .select(col(domainCol), col("n_docs"), col("share"), col("excess"),
            col("weight"), col("rate"),
            coalesce(col("_nk"), lit(0L)).as("n_kept"))
        Seq(pg, dgc, refNll).foreach(_.unpersist(blocking = false))
        weights
      }
      val docs = SparkEntry.rd(spark, data, "documents")
      def runOld(): Array[Row] =
        oldDomainWeights(docs, "doc_id", "text", "source", "q98")
          .orderBy("source").collect()
      def runNew(): Array[Row] =
        ext.Doremi.domainWeights(docs, "doc_id", "text", "source",
          n = 3, addK = 0.01, alphabetSize = 64, steps = 3, eta = 1.0,
          smoothing = 1e-3, salt = "q98").orderBy("source").collect()
      var oldOut: Array[Row] = null
      var newOut: Array[Row] = null
      (1 to 3).foreach { i =>
        settle()
        time(s"doremi OLD #$i") { oldOut = runOld(); oldOut.length }
        settle()
        time(s"doremi NEW #$i") { newOut = runNew(); newOut.length }
      }
      val same = oldOut.length == newOut.length &&
        oldOut.zip(newOut).forall { case (a, b) => a == b }
      println(s"[doremiAb] outputs identical: $same")
      if (!same)
        oldOut.zip(newOut).filter { case (a, b) => a != b }
          .foreach { case (a, b) =>
            println(s"[doremiAb]   OLD $a\n[doremiAb]   NEW $b") }
      spark.stop()
      return
    }
    // Stage volumes for the s1/s13 per-trigger against-index pair plan
    // (round-16 ask #2): how many index-side rows flow into the band
    // join, and what a batch-band-key semi-filter would cut them to.
    if (args.headOption.contains("s1parts")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.DataFrame
      val data = Scratch.stage(dir)
      val gIndex = spark.read.parquet(SparkEntry.s13IndexPath(spark, data))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val crawl = SparkEntry.rd(spark, data, "documents")
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
        .select("doc_id", "text")
      val gBatch = graft.ext.Dedup.collapseIndex(
        graft.ext.Dedup.minhashIndex(crawl, "doc_id", "text", 128, 32))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def expl(ix: DataFrame, side: String): DataFrame = ix
        .select(col("gid").as(s"${side}_gid"), col("nsh").as(s"${side}_nsh"),
          explode(col("bands")).as("bb"))
        .select(col(s"${side}_gid"), col(s"${side}_nsh"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      time("index groups")(gIndex.count())
      time("batch groups")(gBatch.count())
      val exIx = expl(gIndex, "corpus")
      val exB = expl(gBatch, "new")
      time("exploded index rows")(exIx.count())
      time("exploded batch rows")(exB.count())
      val keys = exB.select(col("band"), col("bucket")).distinct()
      time("batch band keys")(keys.count())
      val pruned = exIx.join(broadcast(keys), Seq("band", "bucket"),
        "left_semi")
      time("index rows after band-key semi")(pruned.count())
      val joined = exIx.join(exB, Seq("band", "bucket"))
        .filter(least(col("corpus_nsh"), col("new_nsh")).cast("double") >=
          greatest(col("corpus_nsh"), col("new_nsh")) * 0.8)
      time("band-join rows")(joined.count())
      time("candidates distinct")(
        joined.select(col("corpus_gid"), col("new_gid")).distinct().count())
      println("[s1parts] ==== pairs plan (current shipped shape) ====")
      graft.ext.Dedup.withNearDuplicatesAgainstIndex(
        gIndex, crawl, "doc_id", "text", 0.8, 128, 32,
        indexPreCollapsed = true) { pairs =>
        pairs.explain("formatted")
        time("full pairs")(pairs.count())
      }
      spark.stop()
      return
    }
    // Same-JVM A/B of retainIndexCache on the collapsed-artifact gate
    // (round-15 verdict ask #5): with the artifact pre-collapsed, does
    // keeping the index frame cached across triggers actually buy the
    // warm triggers anything? Protocol: alternating rounds; each round
    // clears the cache, then runs 3 consecutive triggers (cold + 2 warm)
    // with retain on vs off. retain=off re-persists and releases the
    // index inside every trigger; retain=on leaves the CacheManager
    // entry hot so triggers 2-3 hit it.
    if (args.headOption.contains("s1retain")) {
      import org.apache.spark.sql.functions._
      val data = Scratch.stage(dir)
      val collapsed = spark.read.parquet(SparkEntry.s13IndexPath(spark, data))
      val crawl = SparkEntry.rd(spark, data, "documents")
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
        .select("doc_id", "text", "lang", "source")
      val out = Scratch.ephemeralDir("s1retain")
      var n = 0
      def trigger(tag: String, retain: Boolean): Unit = {
        n += 1
        val t0 = System.nanoTime()
        graft.streaming.EventStream.applyDedupGateBatch(
          crawl, n.toLong, collapsed, "doc_id", "text", 0.8, s"$out/o$n",
          numHashes = 128, bands = 32, indexPreCollapsed = true,
          retainIndexCache = retain)
        println(f"[s1retain] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      (1 to 4).foreach { i =>
        settle()
        trigger(s"on-cold#$i", retain = true)
        trigger(s"on-warm1#$i", retain = true)
        trigger(s"on-warm2#$i", retain = true)
        settle()
        trigger(s"off-cold#$i", retain = false)
        trigger(s"off-warm1#$i", retain = false)
        trigger(s"off-warm2#$i", retain = false)
      }
      spark.stop()
      return
    }
    // Same-JVM A/B of x13's minhash-store shape (round 16): RAW store
    // (write per-doc index, re-collapse on every read — the pre-round-16
    // declaration) vs COLLAPSED store (collapse once at build, read the
    // group form). Times the store write + the dup pass, the two stages
    // the artifact shape touches.
    if (args.headOption.contains("x13ab")) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      val tmp = Scratch.ephemeralDir("prof-x13ab")
      def dupCount(path: String, pre: Boolean): Long =
        ext.Dedup.nearDuplicatesAgainstIndex(
          spark.read.parquet(path), batch, "doc_id", "text",
          threshold = 0.8, numHashes = 128, bands = 32,
          indexPreCollapsed = pre).count()
      (1 to 3).foreach { i =>
        settle()
        time(s"raw write+dup #$i") {
          ext.Dedup.minhashIndex(corpus, "doc_id", "text", 128, 32)
            .write.mode("overwrite").parquet(s"$tmp/raw")
          dupCount(s"$tmp/raw", pre = false)
        }
        settle()
        time(s"collapsed write+dup #$i") {
          ext.Dedup.collapseIndex(
            ext.Dedup.minhashIndex(corpus, "doc_id", "text", 128, 32))
            .write.mode("overwrite").parquet(s"$tmp/col")
          dupCount(s"$tmp/col", pre = true)
        }
      }
      spark.stop()
      return
    }
    // Same-JVM A/B of the LSH top-k scoring mirror (round 16): OLD tail =
    // mirror the candidate ids first, attach vectors and score BOTH
    // directions (3.16M cosines at sf0.1); NEW tail (shipped in
    // Similarity.topKLshImpl) = score each unordered pair once, mirror
    // the scored rows with a generator. Outputs compared row-for-row.
    if (args.headOption.contains("y2ab")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.Row
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val planes = SparkEntry.y2Planes
      def oldY2(): org.apache.spark.sql.DataFrame = {
        val sig = emb.select(col("vec_id").as("id"),
          explode(ext.Similarity.bandedBucketsFromPlanes(
            col("embedding"), planes)).as("bb"))
          .select(col("id"), col("bb.band").as("band"),
            col("bb.bucket").as("bucket"))
        val half = sig.select(col("id").as("id_a"), col("band"), col("bucket"))
          .join(sig.select(col("id").as("id_b"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .distinct()
        val cand = half
          .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
          .unionByName(half
            .select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
        val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
          graft.functions.VectorFunctions.vector_norm(col("embedding")).as("n"))
        cand
          .join(vecs.select(col("id").as("query_id"), col("v").as("qv"),
            col("n").as("qn")), Seq("query_id"))
          .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv"),
            col("n").as("cn")), Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            try_divide(graft.functions.VectorFunctions.vector_dot(
              col("qv"), col("cv")), col("qn") * col("cn")).as("cosine"))
          .groupBy("query_id")
          .agg(graft.functions.TopKFunctions.top_k_pairs(
            struct(col("cosine"), col("neighbor_id")), 5, dedupIds = true)
            .as("_top"))
          .select(col("query_id"), posexplode(col("_top")))
          .select(col("query_id"), col("col.id").as("neighbor_id"),
            (col("pos") + 1).cast("int").as("rank"),
            col("col.score").as("cosine"))
          .orderBy("query_id", "rank")
      }
      def newY2(): org.apache.spark.sql.DataFrame =
        ext.Similarity.topKLshWithPlanes(emb, "vec_id", "embedding",
          k = 5, planes = planes).orderBy("query_id", "rank")
      var a: Array[Row] = null
      var b: Array[Row] = null
      (1 to 3).foreach { i =>
        settle()
        time(s"y2 OLD #$i") { a = oldY2().collect(); a.length }
        settle()
        time(s"y2 NEW #$i") { b = newY2().collect(); b.length }
      }
      println(s"[y2ab] outputs identical: ${a.sameElements(b)}")
      spark.stop()
      return
    }
    // y2 LSH candidate-volume audit (round-16 ask #7): the fixed (12, 3)
    // plane model is the DECLARED super-linear scaling contrast (bucket
    // population n/2^3), so this mode only MEASURES the volumes — band
    // collisions, unique candidate pairs, final rows — to document how
    // far candidates sit from the k·n output and why no lossless prune
    // exists (top-k has no threshold to prune against; any candidate can
    // enter some query's top 5).
    if (args.headOption.contains("y2parts")) {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val planes = SparkEntry.y2Planes
      val sig = emb.select(col("vec_id").as("id"),
        explode(ext.Similarity.bandedBucketsFromPlanes(
          col("embedding"), planes)).as("bb"))
        .select(col("id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("vectors")(emb.count())
      time("signature rows")(sig.count())
      val half = sig.select(col("id").as("id_a"), col("band"), col("bucket"))
        .join(sig.select(col("id").as("id_b"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
      time("band-collision rows (a<b)")(half.count())
      time("unique candidate pairs")(
        half.select("id_a", "id_b").distinct().count())
      time("full y2 rows")(SparkEntry.queries("y2_knn_lsh")(spark, dir).count())
      sig.unpersist()
      spark.stop()
      return
    }
    // x13 composition breakdown: the halves (y7-shaped serve over the
    // post-expiry store; x9-shaped dedup against the stored minhash index)
    // each run ~1s standalone, so a slow x13 is a composition effect —
    // time each stage separately to find it.
    if (args.headOption.contains("x13parts")) {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val s1 = emb.filter(pmod(col("vec_id"), lit(10)) < 8)
      val s2 = emb.filter(pmod(col("vec_id"), lit(10)) === 8)
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val t0 = System.nanoTime()
      val nlist = ext.Clustering.suggestNlist(s1.count())
      val nprobe = math.ceil(0.75 * nlist).toInt
      val coarse = ext.Clustering.kmeans(s1, "vec_id", "embedding",
        k = nlist, iterations = 1, roundDigits = 6).centroids
      val pq = ext.Similarity.trainPqDeterministic(s1, "vec_id",
        "embedding", m = 16, ksub = 256, iterations = 1, roundDigits = 6,
        dims = 64)
      println(f"[x13] train: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val tmp = Scratch.ephemeralDir("prof-x13")
      time("write ann store") {
        ext.Similarity.buildIvfPqIndex(s1, "vec_id", "embedding", coarse, pq)
          .withColumn("snap", when(pmod(col("id"), lit(10)) < 2,
            lit("2024-01")).otherwise(lit("2024-02")))
          .write.mode("overwrite").partitionBy("snap").parquet(s"$tmp/ann")
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      time("write mh store") {
        ext.Dedup.minhashIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 8),
          "doc_id", "text", numHashes = 128, bands = 32)
          .write.mode("overwrite").parquet(s"$tmp/mh")
      }
      time("expire") {
        lake.Retention.expirePartitions(spark, s"$tmp/ann", "snap", "2024-02")
      }
      val index = ext.Similarity.appendToIvfPqIndex(
        spark.read.parquet(s"$tmp/ann").drop("snap"),
        s2, "vec_id", "embedding", coarse, pq)
      val corpus = emb.filter(pmod(col("vec_id"), lit(10)).between(2, 8))
      val knn = ext.Similarity.searchIvfPqIndex(batch, index, corpus,
        "vec_id", "embedding", k = 5, coarse = coarse, pq = pq,
        nprobe = nprobe, rescoreFactor = 16)
      time("knn count") { knn.count() }
      val dup = ext.Dedup.nearDuplicatesAgainstIndex(
        spark.read.parquet(s"$tmp/mh"),
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        "doc_id", "text", threshold = 0.8, numHashes = 128, bands = 32)
      time("dup count") { dup.count() }
      val u = knn.select(lit("knn").as("kind"), col("query_id").as("a"),
          col("neighbor_id").as("b"), col("rank"), col("cosine").as("score"))
        .unionByName(dup.select(lit("dup").as("kind"),
          col("corpus_id").as("a"), col("new_id").as("b"),
          lit(0).as("rank"), col("jaccard").as("score")))
        .orderBy("kind", "a", "b", "rank")
      time("union orderBy count") { u.count() }
      time("union write (verify shape)") {
        u.write.mode("overwrite").parquet(s"$tmp/out")
      }
      spark.stop()
      return
    }
    // Build-vs-search breakdown for the IVF-PQ serving pair. This split is
    // how the round-9 fusion bug was isolated: build-and-count was 0.1 s
    // while the composed search was 12 s, because `count()` PRUNES non-key
    // projections — the O(ksub·d) pq_encode only ran when a consumer
    // actually read `codes`, and whole-stage codegen had inlined it into
    // the probe join's output loop (once per CANDIDATE row; jstack showed
    // PqEncode.encode under hashAgg). Kept as the regression probe for the
    // by-cell exchange barrier now inside buildIvfPqIndex: `search` should
    // stay within ~2x of `build+sum-codes`, and a return to ~10x means a
    // rewrite re-fused the encode past the barrier.
    if (args.headOption.contains("y6parts")) {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val snapshot = emb.filter(pmod(col("vec_id"), lit(10)) < 9)
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val coarse = ext.Clustering.kmeans(snapshot, "vec_id", "embedding",
        k = 16, iterations = 1, roundDigits = 6).centroids
      val pq = ext.Similarity.trainPqDeterministic(snapshot, "vec_id",
        "embedding", m = 16, ksub = 256, iterations = 1, roundDigits = 6,
        dims = 64)
      (1 to 3).foreach { i =>
        val index = ext.Similarity.buildIvfPqIndex(snapshot, "vec_id",
          "embedding", coarse, pq)
        // sum over the codes forces the encode (count() would prune it)
        time(s"build+sum-codes #$i") {
          index.agg(sum(element_at(col("codes"), 1))).collect()(0)
        }
        time(s"search #$i") {
          ext.Similarity.searchIvfPqIndex(batch, index,
            snapshot, "vec_id", "embedding", k = 5, coarse = coarse,
            pq = pq, nprobe = 12, rescoreFactor = 16).count()
        }
        settle()
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("t16acc")) {
      import org.apache.spark.sql.functions._
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { d =>
        val raw = spark.read.parquet(s"$d/documents.parquet")
        val pos = raw.select(col("doc_id"), col("text"), lit(1).as("label"))
        val neg = raw.select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(15)),
            _ => element_at(split(trim(col("text")), "\\s+"), 1))).as("text"),
          lit(0).as("label"))
        val all = pos.unionByName(neg)
        val m = ext.QualityClassifier.train(
          all.filter(col("doc_id") % 5 =!= 0), col("text"), col("label"),
          dims = 2048, epochs = 20)
        val acc = ext.QualityClassifier.score(
          all.filter(col("doc_id") % 5 === 0), col("text"), m)
          .agg(avg(((col("quality_prob") >= 0.5).cast("int") === col("label"))
            .cast("int"))).collect()(0).getDouble(0)
        println(f"[prof] t16 acc $d: $acc%.4f")
        ext.QualityClassifier.score(
          all.filter(col("doc_id") % 5 === 0), col("text"), m)
          .withColumn("pred", (col("quality_prob") >= 0.5).cast("int"))
          .groupBy("label", "pred").count().orderBy("label", "pred")
          .collect().foreach(r => println(s"[prof]   label=${r.get(0)} pred=${r.get(1)} n=${r.get(2)}"))
        ext.QualityClassifier.score(
          all.filter(col("doc_id") % 5 === 0), col("text"), m)
          .withColumn("pred", (col("quality_prob") >= 0.5).cast("int"))
          .filter(col("pred") =!= col("label"))
          .select(col("doc_id"), col("label"), col("quality_prob"),
            substring(col("text"), 1, 60).as("head"),
            size(split(trim(col("text")), "\\s+")).as("n_tok"))
          .orderBy("doc_id").limit(5)
          .collect().foreach(r => println(s"[prof]   miss: $r"))
      }
      spark.stop()
      return
    }
    // nlist-sizing evidence for the √corpus rule documented on topKIvf:
    // per-query candidate work is nprobe × corpus / nlist, so recall held
    // constant (nprobe scaled with nlist), bigger nlist must cut both the
    // candidate count and the wall time on the same corpus.
    if (args.headOption.contains("nlistStudy")) {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val brute = ext.Similarity.topKBruteForce(emb, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq((16, 4), (45, 11)).foreach { case (nlist, nprobe) =>
        def run() = ext.Similarity.topKIvf(emb, "vec_id", "embedding",
          k = 5, nlist = nlist, nprobe = nprobe, iterations = 5,
          sampleSize = 2048, seed = 42L)
        (1 to 2).foreach { i => time(s"ivf nlist=$nlist nprobe=$nprobe #$i")(run().count()); settle() }
        val got = run().select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (got intersect brute).size.toDouble / brute.size
        println(f"[prof] ivf nlist=$nlist nprobe=$nprobe recall=$recall%.3f (probe fraction ${nprobe.toDouble / nlist}%.2f)")
      }
      spark.stop()
      return
    }
    // Append-staleness evidence for Similarity.suggestRebuild: under the
    // SNAPSHOT-trained coarse/PQ models, an in-distribution delta keeps
    // appended-serve recall at the rebuilt level and the delta/index
    // quantization-error ratio near 1; a distribution-shifted delta (and
    // the shifted queries that come with a real drift) blows the ratio
    // and collapses appended recall while a fresh rebuild restores it.
    if (args.headOption.contains("appendStudy")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.{Column, DataFrame}
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      def drift(c: Column, off: Double): Column =
        transform(c, x => (x + lit(off)).cast("float"))
      val index = emb.filter(pmod(col("vec_id"), lit(10)) < 8)
      val nIdx = index.count()
      val nlist = ext.Clustering.suggestNlist(nIdx)
      val nprobe = math.ceil(0.75 * nlist).toInt
      val coarse = ext.Clustering.kmeans(index, "vec_id", "embedding",
        k = nlist, iterations = 1, roundDigits = 6).centroids
      val pq = ext.Similarity.trainPqDeterministic(index, "vec_id",
        "embedding", m = 16, ksub = 256, iterations = 1, roundDigits = 6,
        dims = 64)
      val baseIdx = ext.Similarity.buildIvfPqIndex(
        index, "vec_id", "embedding", coarse, pq)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def recall(exact: DataFrame, approx: DataFrame): Double = {
        val e = exact.select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val g = approx.select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (g intersect e).size.toDouble / e.size
      }
      Seq(0.0, 0.1, 0.25, 0.5).foreach { off =>
        val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 8)
          .select(col("vec_id"), drift(col("embedding"), off).as("embedding"))
        val queries = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
          .select(col("vec_id"), drift(col("embedding"), off).as("embedding"))
        val union = index.select("vec_id", "embedding").unionByName(delta)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val brute = ext.Similarity.topKBruteForce(
          queries, union, "vec_id", "embedding", k = 5)
        val appended = ext.Similarity.searchIvfPqIndex(queries,
          ext.Similarity.appendToIvfPqIndex(baseIdx, delta, "vec_id",
            "embedding", coarse, pq),
          union, "vec_id", "embedding", k = 5, coarse = coarse, pq = pq,
          nprobe = nprobe, rescoreFactor = 4)
        val nU = union.count()
        val nlist2 = ext.Clustering.suggestNlist(nU)
        val coarse2 = ext.Clustering.kmeans(union, "vec_id", "embedding",
          k = nlist2, iterations = 1, roundDigits = 6).centroids
        val pq2 = ext.Similarity.trainPqDeterministic(union, "vec_id",
          "embedding", m = 16, ksub = 256, iterations = 1,
          roundDigits = 6, dims = 64)
        val rebuilt = ext.Similarity.searchIvfPqIndex(queries,
          ext.Similarity.buildIvfPqIndex(union, "vec_id", "embedding",
            coarse2, pq2),
          union, "vec_id", "embedding", k = 5, coarse = coarse2, pq = pq2,
          nprobe = math.ceil(0.75 * nlist2).toInt, rescoreFactor = 4)
        val rep = ext.Similarity.indexStalenessReport(
          index, delta, "embedding", coarse).collect()(0)
        println(f"[prof] appendStudy off=$off%.2f qerr_ratio=${rep.getAs[Double]("qerr_ratio")}%.4f rebuild=${rep.getAs[Boolean]("rebuild")} recall_appended=${recall(brute, appended)}%.3f recall_rebuilt=${recall(brute, rebuilt)}%.3f")
        union.unpersist()
      }
      baseIdx.unpersist()
      spark.stop()
      return
    }
    // Stage volumes for x11_containment: where do the 8-gram sets explode?
    if (args.headOption.contains("x11parts")) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val (result, caches) = ext.Dedup.containmentPairsPlan(
        docs, "doc_id", "text", 0.8,
        shingleFn = ext.Shingles.charNGrams(_, 8))
      val sets = caches.head
      time("sets")(sets.count())
      val toks = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      time("toks")(toks.count())
      val docFreq = toks.groupBy("shingle").agg(count(lit(1)).as("df"))
      time("docFreq")(docFreq.count())
      val prefixLen = (col("nsh") - ceil(lit(0.8) * col("nsh")) + 1).cast("int")
      val ranked = toks.join(docFreq, Seq("shingle"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy(col("df"), col("shingle"))))
      val probes = ranked
        .filter(col("rk") <= prefixLen)
        .select(col("id").as("a"), col("nsh").as("nsh_a"), col("shingle"))
      time("probes")(probes.count())
      val postings = ranked.select(col("id").as("b"), col("nsh").as("nsh_b"), col("shingle"), col("rk").as("rk_b"))
      val joined = probes.join(postings, Seq("shingle"))
        .filter(col("a") =!= col("b") && col("nsh_b") >= lit(0.8) * col("nsh_a"))
      time("probe-join rows (pre-positional)")(joined.count())
      val positional = joined.filter(
        col("rk_b") <= col("nsh_b") - ceil(lit(0.8) * col("nsh_a")) + 1)
      time("rows into distinct (positional)")(positional.count())
      val candidates = positional.select(col("a"), col("b")).distinct()
      time("candidates")(candidates.count())
      val bmPruned = candidates
        .join(sets.select(col("id").as("a"), col("nsh").as("nsh_a"), col("bm").as("bm_a")), Seq("a"))
        .join(sets.select(col("id").as("b"), col("bm").as("bm_b")), Seq("b"))
        .filter(col("nsh_a") -
          graft.functions.BitmapFunctions.bitmap_andnot_count(col("bm_a"), col("bm_b")) >=
          lit(0.8) * col("nsh_a"))
      time("bitmap survivors")(bmPruned.count())
      time("full x11")(result.count())
      caches.foreach(_.unpersist())
      spark.stop()
      return
    }
    // A/B: doc-graph vs group-graph connected components on the same host
    if (args.headOption.contains("x7ab")) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      (1 to 3).foreach { i =>
        time(s"doc-graph cc #$i") {
          ext.Dedup.withNearDuplicatesMinhash(docs, "doc_id", "text",
            threshold = 0.8, numHashes = 128, bands = 32) { pairs =>
            ext.Clusters.connectedComponents(pairs, "id_a", "id_b").count()
          }
        }
        settle()
        time(s"group-graph cc #$i") {
          ext.Dedup.nearDuplicateComponents(docs, "doc_id", "text",
            threshold = 0.8, numHashes = 128, bands = 32).count()
        }
        spark.catalog.clearCache(); settle()
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("entry")) {
      time("entry rows")(SparkEntry.entry(spark).count())
      spark.stop()
      return
    }
    // Stage breakdown for x9_dedup_incremental (the round-9 heaviest
    // query): index-build cost per side (bands forced via an aggregate
    // over a bucket — count() would prune the signature), band-join
    // candidate volume before/after distinct, and the verify tail.
    if (args.headOption.contains("x9parts")) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      def idx(d: org.apache.spark.sql.DataFrame) =
        ext.Dedup.minhashIndex(d, "doc_id", "text", numHashes = 128, bands = 32)
      def forceBands(d: org.apache.spark.sql.DataFrame) =
        d.agg(sum(element_at(col("bands"), 1).getField("bucket"))).collect()(0)
      (1 to 3).foreach { i =>
        time(s"index(corpus) #$i")(forceBands(idx(corpus)))
        time(s"index(batch) #$i")(forceBands(idx(batch)))
        def expl(ix: org.apache.spark.sql.DataFrame, side: String) = ix
          .select(col("id").as(s"${side}_id"), col("nsh").as(s"${side}_nsh"),
            explode(col("bands")).as("bb"))
          .select(col(s"${side}_id"), col(s"${side}_nsh"),
            col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val joined = expl(idx(corpus), "corpus")
          .join(expl(idx(batch), "new"), Seq("band", "bucket"))
          .filter(least(col("corpus_nsh"), col("new_nsh")).cast("double") >=
            greatest(col("corpus_nsh"), col("new_nsh")) * 0.8)
        time(s"band-join rows #$i")(joined.count())
        time(s"candidates distinct #$i")(
          joined.select(col("corpus_id"), col("new_id")).distinct().count())
        time(s"full x9 #$i")(run("x9_dedup_incremental"))
        settle()
      }
      spark.stop()
      return
    }
    val names = if (args.nonEmpty) args.toSeq else Seq("x2_dedup_minhash")
    names.foreach { n =>
      time(s"$n warm")(run(n)); settle()
      time(s"$n t1")(run(n)); settle()
      time(s"$n t2")(run(n)); settle()
      time(s"$n t3")(run(n)); settle()
    }
    spark.stop()
  }
}
