package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  test("windowed agg over a memory stream: counts per tumbling window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = EventStream.windowedEventAgg(events, "ts", "10 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(4), "view", 5.0),
        (ts(12), "click", 3.0))
      q.processAllAvailable()
      // advance watermark far past the first window so it finalizes
      input.addData((ts(40), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select("window_start", "event_type", "n_events", "total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((Timestamp.valueOf("2024-03-01 10:00:00"), "click", 2L, 3.0)))
      assert(rows.contains((Timestamp.valueOf("2024-03-01 10:00:00"), "view", 1L, 5.0)))
      assert(rows.contains((Timestamp.valueOf("2024-03-01 10:10:00"), "click", 1L, 3.0)))
    } finally q.stop()
  }

  test("late event beyond the watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.windowedEventAgg(
      input.toDF().toDF("ts", "event_type", "value"), "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("late_agg")
      .outputMode("append").start()
    try {
      input.addData((ts(1), "click", 1.0))
      q.processAllAvailable()
      input.addData((ts(50), "click", 1.0)) // watermark -> 10:45
      q.processAllAvailable()
      input.addData((ts(2), "click", 100.0)) // hopelessly late: dropped
      q.processAllAvailable()
      input.addData((ts(59), "click", 1.0))
      q.processAllAvailable()
      val first = spark.table("late_agg")
        .filter(col("window_start") === Timestamp.valueOf("2024-03-01 10:00:00"))
        .select("n_events", "total_value")
        .as[(Long, Double)].collect().toSeq
      assert(first === Seq((1L, 1.0))) // the late 100.0 never lands
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per fingerprint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = EventStream.dedupStream(
      input.toDF().toDF("ts", "text"), "text", "ts")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), "Hello  World"), (ts(2), "hello world"), (ts(3), "other doc"))
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").select("text").as[String].collect()
      assert(texts.length === 2) // case/whitespace variants collapse
      assert(texts.contains("other doc"))
    } finally q.stop()
  }

  test("s13 near-dup pairs (Dedup.nearDuplicatesAgainstIndex): per-batch batch-plan pairs, exact-dup expansion, distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the river"),
      (3L, "completely different text about spark query engines and joins"))
      .toDF("doc_id", "text")
    // the sink takes the COLLAPSED artifact: docs 1+2 are one group
    val index = graft.ext.Dedup.collapseIndex(graft.ext.Dedup.minhashIndex(
      corpus, "doc_id", "text", numHashes = 128, bands = 32))
    val dir = Files.createTempDirectory("ndp_sink").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.landingSink(input.toDF().toDF("doc_id", "text"),
        s"$dir/out", s"$dir/ckpt") { (batch, land) =>
      land(graft.ext.Dedup.nearDuplicatesAgainstIndex(index, batch, "doc_id",
        "text", threshold = 0.5, numHashes = 128, bands = 32,
        indexPreCollapsed = true))
    }.start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy cat near the river"),
        (11L, "totally unrelated sentence with no shared vocabulary at all"))
      q.processAllAvailable()
      input.addData(
        (12L, "completely different text about spark query engines and joins"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/out")
      .select("corpus_id", "new_id", "jaccard") // the sink adds `batch`
      .as[(Long, Long, Double)].collect().toSet
    // group (1,2) expands to BOTH members against doc 10; pairs are
    // distinct (one row per pair, unlike the transform's per-band rows)
    rows.map(p => (p._1, p._2)) shouldBe Set((1L, 10L), (2L, 10L), (3L, 12L))
    rows.find(_._2 == 12L).get._3 shouldBe 1.0
    rows.forall(_._3 >= 0.5) shouldBe true
  }

  test("streaming near-dup against a static minhash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "completely different text about spark query engines and joins"))
      .toDF("doc_id", "text")
    val index = graft.ext.Dedup.collapseIndex(graft.ext.Dedup.minhashIndex(
      corpus, "doc_id", "text", numHashes = 128, bands = 32))

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val pairs = EventStream.nearDupAgainstIndexStream(
      docs, "doc_id", "text", index, threshold = 0.5,
      numHashes = 128, bands = 32)
    // per-batch uniqueness, the documented foreachBatch pattern
    val seen = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = pairs.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.dropDuplicates("corpus_id", "new_id")
          .collect().foreach(r =>
            seen += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        ()
      }.start()
    try {
      // batch 1: near-dup of corpus doc 1 (one word changed) + unrelated
      input.addData(
        (10L, "the quick brown fox jumps over the lazy cat near the river"),
        (11L, "totally unrelated sentence with no shared vocabulary at all"))
      q.processAllAvailable()
      // batch 2: exact token-set dup of corpus doc 2
      input.addData(
        (12L, "completely different text about spark query engines and joins"))
      q.processAllAvailable()
    } finally q.stop()

    assert(seen.map(p => (p._1, p._2)) === Set((1L, 10L), (2L, 12L)))
    val exact = seen.find(_._2 == 12L).get
    assert(exact._3 === 1.0) // identical token set
    assert(seen.forall(_._3 >= 0.5))
  }

  test("availableNow run lands parquet exactly once and is idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-stream-").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    Files.write(java.nio.file.Paths.get(s"$src/a.json"),
      Seq("""{"user_id": 1, "event_type": "click"}""",
        """{"user_id": 2, "event_type": "view"}""")
        .mkString("\n").getBytes("UTF-8"))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_type", "string")
    def run(): Unit = EventStream.runAvailableNow(EventStream.parquetSink(
      EventStream.readJsonlStream(spark, src, schema),
      s"$root/out", s"$root/ckpt"))
    run()
    assert(spark.read.parquet(s"$root/out").count() === 2)
    run() // second incremental run: no new input, no duplicate rows
    assert(spark.read.parquet(s"$root/out").count() === 2)
  }

  test("summarySink maintains a materialized rollup across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-summary-").toString
    val table = s"$root/summary"
    val input = MemoryStream[(String, Double, Long)]
    val q = EventStream.summarySink(
      input.toDF().toDF("event_type", "value", "user_id"),
      table, s"$root/ckpt", Seq("event_type"),
      sumCols = Seq("value"), ndvCols = Seq("user_id"))
      .start()
    try {
      input.addData(("click", 1.0, 1L), ("click", 2.0, 2L), ("view", 5.0, 1L))
      q.processAllAvailable()
      input.addData(("click", 4.0, 1L), ("view", 1.0, 3L))
      q.processAllAvailable()
    } finally q.stop()

    val got = graft.pipeline.IncrementalAgg.estimate(
      spark.read.parquet(table), Seq("user_id"))
      .orderBy("event_type").collect()
    got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))) shouldBe
      Array(("click", 3L, 7.0, 2L), ("view", 2L, 6.0, 2L))
  }

  test("summarySink fences a redelivered batch (no double counting)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fence-").toString
    val table = s"$root/summary"
    val batch = Seq(("click", 1.0, 1L), ("view", 2.0, 2L))
      .toDF("event_type", "value", "user_id")
    def apply(id: Long) = EventStream.applySummaryBatch(
      batch, id, table, Seq("event_type"), Seq("value"), Nil, Seq("user_id"))

    apply(0L) shouldBe true
    apply(0L) shouldBe false // redelivery of the same batch: fenced
    apply(1L) shouldBe true  // a genuinely new batch still folds
    val n = spark.read.parquet(table)
      .agg(sum("n"), sum("sum_value")).head()
    (n.getLong(0), n.getDouble(1)) shouldBe ((4L, 6.0))
  }

  test("summarySink restarts from its checkpoint: stop mid-stream, land " +
      "more input, restart — final table equals the batch fold of the " +
      "full input") {
    // THE recovery guarantee the idempotent folds exist for: a sink
    // stopped after batch N and restarted from the same checkpoint
    // directory must resume at N+1 (no re-fold of already-applied input,
    // no gap). A file source makes the restart real — unlike
    // MemoryStream, its offsets live entirely in the checkpoint.
    val root = Files.createTempDirectory("graft-restart-sum-").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_type", "string").add("value", "double")
      .add("user_id", "long")
    def sink() = EventStream.summarySink(
      EventStream.readJsonlStream(spark, src, schema),
      s"$root/summary", s"$root/ckpt", Seq("event_type"),
      sumCols = Seq("value"))
    Files.write(java.nio.file.Paths.get(s"$src/a.json"),
      Seq("""{"event_type":"click","value":1.0,"user_id":1}""",
        """{"event_type":"view","value":5.0,"user_id":2}""")
        .mkString("\n").getBytes("UTF-8"))
    val q1 = sink().start()
    try q1.processAllAvailable() finally q1.stop()
    // input lands while the sink is DOWN
    Files.write(java.nio.file.Paths.get(s"$src/b.json"),
      """{"event_type":"click","value":4.0,"user_id":3}"""
        .getBytes("UTF-8"))
    val q2 = sink().start() // same checkpoint: resume, not reprocess
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$root/summary")
      .select("event_type", "n", "sum_value").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // a.json re-folded after restart would read (click,3,6.0),(view,2,10.0)
    got shouldBe Array(("click", 2L, 5.0), ("view", 1L, 5.0))
  }

  test("cdcSink restarts from its checkpoint and folds only the new " +
      "changes into the surviving table") {
    val root = Files.createTempDirectory("graft-restart-cdc-").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("seq", "long").add("op", "string")
      .add("name", "string")
    def sink() = EventStream.cdcSink(
      EventStream.readJsonlStream(spark, src, schema),
      s"$root/table", s"$root/ckpt", Seq("id"), "seq", "op")
    Files.write(java.nio.file.Paths.get(s"$src/a.json"),
      Seq("""{"id":1,"seq":1,"op":"I","name":"alice"}""",
        """{"id":2,"seq":2,"op":"I","name":"bob"}""")
        .mkString("\n").getBytes("UTF-8"))
    val q1 = sink().start()
    try q1.processAllAvailable() finally q1.stop()
    Files.write(java.nio.file.Paths.get(s"$src/b.json"),
      Seq("""{"id":2,"seq":3,"op":"U","name":"bob2"}""",
        """{"id":1,"seq":4,"op":"D","name":""}""")
        .mkString("\n").getBytes("UTF-8"))
    val q2 = sink().start()
    try q2.processAllAvailable() finally q2.stop()
    import spark.implicits._
    spark.read.parquet(s"$root/table").select("id", "name")
      .as[(Long, String)].collect().toSet shouldBe Set((2L, "bob2"))
  }

  test("stateful sessionization: gap split, accumulation, timeout close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = EventStream.sessionizeStream(
      input.toDS(), gapMs = 10L * 60 * 1000, lateness = "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5m apart (one session), then 20m gap (new one)
      input.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(25), 4.0))
      q.processAllAvailable()
      // push event time far ahead so the watermark times the sessions out
      input.addData((2L, Timestamp.valueOf("2024-03-01 12:00:00"), 0.0))
      q.processAllAvailable()
      input.addData((2L, Timestamp.valueOf("2024-03-01 13:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter(col("user_id") === 1L)
        .select("session_start", "n_events", "total_value")
        .as[(Timestamp, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), 2L, 3.0)))  // 10:00+10:05 merged
      assert(rows.contains((ts(25), 1L, 4.0))) // split by the 20m gap
    } finally q.stop()
  }

  test("sessionization handles out-of-order events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = EventStream.sessionizeStream(
      input.toDS(), gapMs = 10L * 60 * 1000, lateness = "2 hours")
    val q = sessions.writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(30), 1.0))
      q.processAllAvailable()
      // in-gap late event BEFORE the open session start: merges, start moves
      input.addData((1L, ts(25), 2.0))
      q.processAllAvailable()
      // far-before late event: its own session, emitted immediately
      input.addData((1L, ts(0), 4.0))
      q.processAllAvailable()
      // time out everything
      input.addData((2L, Timestamp.valueOf("2024-03-01 23:00:00"), 0.0))
      q.processAllAvailable()
      input.addData((2L, Timestamp.valueOf("2024-03-01 23:59:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ooo_sessions")
        .filter(col("user_id") === 1L)
        .select("session_start", "n_events", "total_value")
        .as[(Timestamp, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), 1L, 4.0)))  // isolated late event
      assert(rows.contains((ts(25), 2L, 3.0))) // merged, start lowered to 10:25
    } finally q.stop()
  }

  test("stream-stream interval join matches within the bound, not beyond") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = EventStream.intervalJoinStream(
      imps.toDF().toDF("imp_user", "imp_ts"),
      clicks.toDF().toDF("click_user", "click_ts"),
      "imp_user", "click_user", "imp_ts", "click_ts",
      before = "0 minutes", after = "10 minutes", lateness = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData(
        (1L, ts(5)),  // in [imp, imp+10m]: match
        (1L, ts(20)), // beyond the bound: no match
        (3L, ts(5)))  // no impression for this user
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select("imp_user", "imp_ts", "click_ts")
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      rows shouldBe Set((1L, ts(0), ts(5)))
    } finally q.stop()
  }

  test("cdc sink folds micro-batches into a parquet table across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cdc_sink").toString
    val input = MemoryStream[(Long, Long, String, String, Double)]
    val writer = EventStream.cdcSink(
      input.toDF().toDF("id", "seq", "op", "name", "bal"),
      s"$dir/table", s"$dir/ckpt", Seq("id"), "seq", "op")
    val q = writer.start()
    try {
      // batch 1: two inserts
      input.addData((1L, 1L, "I", "alice", 100.0), (2L, 2L, "I", "bob", 200.0))
      q.processAllAvailable()
      spark.read.parquet(s"$dir/table").count() shouldBe 2
      // batch 2: update 1, delete 2, insert 3 — folds into the snapshot
      input.addData(
        (1L, 3L, "U", "alice", 150.0),
        (2L, 4L, "D", "bob", 0.0),
        (3L, 5L, "I", "carol", 300.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/table")
        .select("id", "name", "bal")
        .as[(Long, String, Double)].collect().toSet
      rows shouldBe Set((1L, "alice", 150.0), (3L, "carol", 300.0))
    } finally q.stop()
  }

  test("windowed heavy hitters: per-window Misra-Gries summary, rank order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val hh = EventStream.heavyHittersStream(
      input.toDF().toDF("ts", "item"), "ts", "item",
      capacity = 8, window = "10 minutes", lateness = "5 minutes")
    val q = hh.writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), "a"), (ts(2), "a"), (ts(3), "a"),
        (ts(4), "b"), (ts(5), "b"), (ts(6), "c"))
      q.processAllAvailable()
      input.addData((ts(40), "z")) // advance watermark, finalize the window
      q.processAllAvailable()
      val rows = spark.table("hh_stream")
        .filter(col("window_start") === Timestamp.valueOf("2024-03-01 10:00:00"))
        .select("rank", "item", "est", "err")
        .as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq
      rows shouldBe Seq((1, "a", 3L, 0L), (2, "b", 2L, 0L), (3, "c", 1L, 0L))
    } finally q.stop()
  }

  test("streaming funnel: completion emits once, window expiry emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val hits = EventStream.funnelStream(
      input.toDS(), Seq("a", "b", "c"),
      windowMs = 10L * 60 * 1000, lateness = "5 minutes")
    val q = hits.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // user 1 completes within 10 minutes; user 2 stalls at stage 2;
      // user 3's completion lands beyond the window
      input.addData(
        (1L, ts(0), "a"), (1L, ts(2), "b"),
        (2L, ts(0), "a"), (2L, ts(1), "b"),
        (3L, ts(0), "a"), (3L, ts(1), "b"))
      q.processAllAvailable()
      input.addData((1L, ts(4), "c"), (3L, ts(15), "c"))
      q.processAllAvailable()
      input.addData((9L, ts(59), "a")) // advance watermark, fire timeouts
      q.processAllAvailable()
      val rows = spark.table("funnel_stream")
        .as[FunnelHit].collect().toSeq
      rows.map(_.user_id) shouldBe Seq(1L)
      rows.head.ts_first shouldBe ts(0)
      rows.head.ts_last shouldBe ts(4)
      rows.head.duration_ms shouldBe 4L * 60 * 1000
    } finally q.stop()
  }

  test("streaming funnel: inline window reset lets the expiring event start a fresh cycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val hits = EventStream.funnelStream(
      input.toDS(), Seq("a", "b"),
      windowMs = 10L * 60 * 1000, lateness = "5 minutes")
    val q = hits.writeStream.format("memory").queryName("funnel_reset")
      .outputMode("append").start()
    try {
      // head at 10:00 expires when a@10:15 arrives (>10 min): the chain
      // resets INLINE and a@10:15 itself becomes the new head, so
      // b@10:16 completes — no dependence on timeout/watermark timing
      input.addData((1L, ts(0), "a"), (1L, ts(15), "a"), (1L, ts(16), "b"))
      q.processAllAvailable()
      val rows = spark.table("funnel_reset").as[FunnelHit].collect().toSeq
      rows.map(h => (h.ts_first, h.ts_last)) shouldBe Seq((ts(15), ts(16)))
    } finally q.stop()
  }

  test("streaming funnel: completion clears the chain WITHIN a batch (multi-cycle)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val hits = EventStream.funnelStream(
      input.toDS(), Seq("a", "b"),
      windowMs = 60L * 60 * 1000, lateness = "5 minutes")
    val q = hits.writeStream.format("memory").queryName("funnel_multi")
      .outputMode("append").start()
    try {
      // both cycles land in ONE micro-batch: output must not depend on
      // where the batch boundary falls
      input.addData(
        (1L, ts(0), "a"), (1L, ts(1), "b"),
        (1L, ts(2), "a"), (1L, ts(3), "b"))
      q.processAllAvailable()
      val rows = spark.table("funnel_multi").as[FunnelHit].collect().toSeq
        .sortBy(_.ts_first.getTime)
      rows.map(h => (h.ts_first, h.ts_last)) shouldBe
        Seq((ts(0), ts(1)), (ts(2), ts(3)))
    } finally q.stop()
  }

  test("streaming funnel: stage order enforced, completion starts a fresh cycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val hits = EventStream.funnelStream(
      input.toDS(), Seq("a", "b"),
      windowMs = 60L * 60 * 1000, lateness = "5 minutes")
    val q = hits.writeStream.format("memory").queryName("funnel_order")
      .outputMode("append").start()
    try {
      // b before a must not count; a then b completes; a second a+b pair
      // after completion starts a FRESH chain (state was cleared)
      input.addData((1L, ts(0), "b"), (1L, ts(1), "a"))
      q.processAllAvailable()
      input.addData((1L, ts(3), "b"))
      q.processAllAvailable()
      input.addData((1L, ts(5), "a"), (1L, ts(6), "b"))
      q.processAllAvailable()
      val rows = spark.table("funnel_order").as[FunnelHit].collect().toSeq
        .sortBy(_.ts_first.getTime)
      rows.map(h => (h.ts_first, h.ts_last)) shouldBe
        Seq((ts(1), ts(3)), (ts(5), ts(6)))
    } finally q.stop()
  }

  test("deterministic samplers run unchanged on a stream (stateless)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the md5-threshold samplers are pure projections+filters — no RNG
    // state, no watermark, no aggregation — so the SAME call works on a
    // streaming frame and picks the SAME rows the batch call picks
    val input = MemoryStream[Long]
    val sampled = graft.ext.Curation.stratifiedSample(
      input.toDF().toDF("id").withColumn("stratum", lit("s")),
      "id", "stratum", Map("s" -> 0.5), salt = "st")
    val q = sampled.writeStream.format("memory").queryName("strm_sample")
      .outputMode("append").start()
    try {
      input.addData(1L to 1000L: _*)
      q.processAllAvailable()
      val streamed = spark.table("strm_sample")
        .select("id").as[Long].collect().toSet
      val batch = graft.ext.Curation.stratifiedSample(
        (1L to 1000L).toDF("id").withColumn("stratum", lit("s")),
        "id", "stratum", Map("s" -> 0.5), salt = "st")
        .select("id").as[Long].collect().toSet
      streamed shouldBe batch
      batch.size.toDouble shouldBe 500.0 +- 60.0
    } finally q.stop()
  }

  test("transitionsStream: pairs bridge micro-batches, O(1) state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val q = EventStream.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("trans")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1), "a", 1L), (1L, ts(2), "b", 2L),
        (2L, ts(1), "x", 3L))
      q.processAllAvailable()
      // next batch: u1 bridges b -> c from the carried state
      input.addData((1L, ts(3), "c", 4L), (2L, ts(4), "y", 5L))
      q.processAllAvailable()
      val rows = spark.table("trans")
        .select("user_id", "from_state", "to_state")
        .as[(Long, String, String)].collect().toSet
      rows shouldBe Set(
        (1L, "a", "b"), (1L, "b", "c"), (2L, "x", "y"))
      // batch twin over the same events yields the same matrix
      val batch = graft.ops.Funnel.transitions(
        Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
          (1L, ts(3), 3L, "c"), (2L, ts(1), 4L, "x"),
          (2L, ts(4), 5L, "y"))
          .toDF("u", "ts", "eid", "tpe"), "u", "ts", "eid", "tpe")
        .select("from_state", "to_state").as[(String, String)]
        .collect().toSet
      rows.map(r => (r._2, r._3)) shouldBe batch
    } finally q.stop()
  }

  test("transitionsStream: same-µs events for one entity order by the tiebreak id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val q = EventStream.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("trans_tie")
      .outputMode("append").start()
    try {
      // "a" (id 1) and "b" (id 2) share one microsecond: the emitted
      // pairs must mirror the batch sort key (ts, event_id) — s→a→b —
      // not shuffle arrival order (which could read s→b→a)
      input.addData((1L, ts(0), "s", 0L), (1L, ts(1), "b", 2L),
        (1L, ts(1), "a", 1L))
      q.processAllAvailable()
      val rows = spark.table("trans_tie")
        .select("from_state", "to_state")
        .as[(String, String)].collect().toSet
      rows shouldBe Set(("s", "a"), ("a", "b"))
    } finally q.stop()
  }

  test("funnelStream: a stage-1 event in the completing stage's very ms starts no cycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val hits = EventStream.funnelStream(
      input.toDS(), Seq("a", "b"),
      windowMs = 60L * 60 * 1000, lateness = "5 minutes")
    val q = hits.writeStream.format("memory").queryName("funnel_tie")
      .outputMode("append").start()
    try {
      // completion at 10:01; an "a" in that very ms (later micros —
      // processed after) arrives in the NEXT batch, so the boundary
      // must survive the batch split in state. The batch walk demands
      // h > bnd = the completion time, so this "a" heads nothing and
      // the b@10:02 finds no chain; a@10:03 + b@10:04 then prove fresh
      // cycles still start strictly after the boundary.
      val sameMs = new Timestamp(ts(1).getTime)
      sameMs.setNanos(500000)
      input.addData((1L, ts(0), "a"), (1L, ts(1), "b"))
      q.processAllAvailable()
      input.addData((1L, sameMs, "a"), (1L, ts(2), "b"))
      q.processAllAvailable()
      input.addData((1L, ts(3), "a"), (1L, ts(4), "b"))
      q.processAllAvailable()
      val rows = spark.table("funnel_tie").as[FunnelHit].collect().toSeq
        .sortBy(_.ts_first.getTime)
      rows.map(h => (h.ts_first, h.ts_last)) shouldBe
        Seq((ts(0), ts(1)), (ts(3), ts(4)))
    } finally q.stop()
  }

  test("driftStream: stable window scores ~0, shifted window alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform 1..100, 4 equi-depth buckets (share 0.25 each)
    val ref = (1 to 100).map(v => Tuple1(v.toDouble)).toDF("value")
    val (bounds, shares) =
      graft.ops.Drift.referenceProfile(ref, "value", buckets = 4,
        exact = true)
    bounds.size shouldBe 3
    shares shouldBe Seq(0.25, 0.25, 0.25, 0.25)

    val input = MemoryStream[(Timestamp, Double)]
    val out = EventStream.driftStream(
      input.toDF().toDF("ts", "value"), "ts", "value", bounds, shares)
    val q = out.writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    try {
      // window 10:00 matches the reference: one event per bucket
      input.addData((ts(1), 10.0), (ts(2), 30.0), (ts(3), 60.0),
        (ts(4), 90.0))
      // window 10:10 is collapsed onto bucket 0
      input.addData((ts(11), 5.0), (ts(12), 6.0), (ts(13), 7.0),
        (ts(14), 8.0))
      q.processAllAvailable()
      input.addData((ts(45), 50.0)) // advance watermark, finalize both
      q.processAllAvailable()
      val rows = spark.table("drift")
        .select("window_start", "bucket", "cur_n", "psi", "window_psi")
        .as[(Timestamp, Int, Long, Double, Double)].collect()
      val w1 = rows.filter(_._1 == Timestamp.valueOf("2024-03-01 10:00:00"))
      val w2 = rows.filter(_._1 == Timestamp.valueOf("2024-03-01 10:10:00"))
      w1.map(_._2).sorted shouldBe Array(0, 1, 2, 3)
      w1.foreach { r => r._3 shouldBe 1L; r._4 shouldBe 0.0 +- 1e-9 }
      w1.head._5 shouldBe 0.0 +- 1e-9
      // shifted window: bucket 0 holds all 4 events, psi alarms
      w2.find(_._2 == 0).get._3 shouldBe 4L
      w2.head._5 should be > 0.25
      w2.foreach(r => assert(!r._5.isNaN && !r._5.isInfinite))
    } finally q.stop()
  }

  test("s17 ANN serving (Similarity.searchIvfPqIndex): streamed batches reproduce the batch index search") {
    import graft.ext.{Clustering, Similarity}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic toy corpus: 40 vectors of 8 dims
    val rng = new scala.util.Random(graft.Check.PinnedSeed)
    def vec(): Seq[Float] = Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat)
    val corpus = (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val queriesAll = (100L until 110L).map(i => (i, vec()))

    // train once on the snapshot, build the static index once — the
    // models and index never see the stream
    val coarse = Clustering.kmeans(
      corpus, "vec_id", "embedding", k = 4, iterations = 1,
      roundDigits = 6).centroids
    val pq = Similarity.trainPqDeterministic(
      corpus, "vec_id", "embedding", m = 4, ksub = 8, iterations = 1,
      roundDigits = 6, dims = 8)
    val index = Similarity.buildIvfPqIndex(
      corpus, "vec_id", "embedding", coarse, pq)

    val expected = Similarity.searchIvfPqIndex(
      queriesAll.toDF("vec_id", "embedding"), index, corpus,
      "vec_id", "embedding", k = 3, coarse = coarse, pq = pq,
      nprobe = 2, rescoreFactor = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty)

    val outDir = Files.createTempDirectory("ann-serve-out").toString
    val ckpt = Files.createTempDirectory("ann-serve-ckpt").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.landingSink(
        input.toDF().toDF("vec_id", "embedding"), outDir, ckpt) {
      (batch, land) =>
        land(Similarity.searchIvfPqIndex(batch, index, corpus,
          "vec_id", "embedding", k = 3, coarse = coarse, pq = pq,
          nprobe = 2, rescoreFactor = 2))
    }.start()
    try {
      input.addData(queriesAll.take(5): _*)
      q.processAllAvailable()
      input.addData(queriesAll.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    got shouldBe expected
  }

  test("s16 DSIR scores (Dsir.scoreWithModel): streamed batches reproduce the batch model scores") {
    import graft.ext.Dsir
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = Seq((1L, "theorem proof lemma algebra"),
      (2L, "proof of the lemma by induction")).toDF("doc_id", "text")
    val rawAll = (10L until 30L).map { i =>
      (i, if (i % 2 == 0) s"algebra proof notes v$i"
          else s"goal striker penalty stadium v$i")
    }
    // fit once offline; the stream only ever sees the persisted model
    val tmp = Files.createTempDirectory("dsir-stream").toString
    Dsir.fit(target, rawAll.toDF("doc_id", "text"), "doc_id", "text",
      buckets = 256).write.parquet(s"$tmp/lam")
    val lam = spark.read.parquet(s"$tmp/lam")

    val expected = Dsir.scoreWithModel(
      rawAll.toDF("doc_id", "text"), lam, "doc_id", "text", buckets = 256)
      .as[(Long, Double)].collect().toSet
    assert(expected.size === rawAll.size)

    val outDir = Files.createTempDirectory("dsir-score-out").toString
    val ckpt = Files.createTempDirectory("dsir-score-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.landingSink(
        input.toDF().toDF("doc_id", "text"), outDir, ckpt) { (batch, land) =>
      land(Dsir.scoreWithModel(batch, lam, "doc_id", "text",
        buckets = 256, salt = "dsir"))
    }.start()
    try {
      input.addData(rawAll.take(7): _*)
      q.processAllAvailable()
      input.addData(rawAll.drop(7): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id", "score") // the sink adds `batch`
      .as[(Long, Double)].collect().toSet
    got shouldBe expected
  }

  test("s2 perplexity gate (LanguageModel.filterByPerplexity): streamed gate keeps exactly the batch filter's survivors") {
    import graft.ext.LanguageModel
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // trusted corpus: plain sentences; the crawl mixes fluent and noise
    val trusted = Seq((1L, "the cat sat on the mat and looked out"),
      (2L, "the dog sat on the mat and looked in")).toDF("doc_id", "text")
    val crawlAll = (10L until 26L).map { i =>
      (i, if (i % 2 == 0) s"the cat sat on the mat v$i"
          else s"zqx jwv qpt kzz v$i")
    }
    // train once offline, persist, gate the stream from the artifact
    val tmp = Files.createTempDirectory("lm-gate").toString
    LanguageModel.save(
      LanguageModel.train(trusted, col("text"), n = 3), s"$tmp/model")
    val model = LanguageModel.load(spark, s"$tmp/model")

    val expected = LanguageModel.filterByPerplexity(
      crawlAll.toDF("doc_id", "text"), Seq("doc_id"), col("text"),
      model, maxPpl = 40.0)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < crawlAll.size,
      s"gate should split the crawl, kept $expected")

    val outDir = Files.createTempDirectory("lm-gate-out").toString
    val ckpt = Files.createTempDirectory("lm-gate-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.landingSink(
        input.toDF().toDF("doc_id", "text"), outDir, ckpt) { (batch, land) =>
      land(LanguageModel.filterByPerplexity(batch, Seq("doc_id"),
        col("text"), model, maxPpl = 40.0))
    }.start()
    try {
      input.addData(crawlAll.take(5): _*)
      q.processAllAvailable()
      input.addData(crawlAll.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect()
    got.toSet shouldBe expected
    got.length shouldBe expected.size // each survivor landed exactly once
  }

  test("s3 mixture gate (Doremi.resample): streamed gate equals the batch resample") {
    import graft.ext.Doremi
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed two-domain crawl; fit the mixture on a reference snapshot
    val snapshot = (0L until 60L).map { i =>
      (i, if (i % 3 == 0) "b" else "a",
        if (i % 3 == 0) s"thy thyme rhythm myth v$i"
        else s"the theme thematic theory v$i")
    }.toDF("doc_id", "source", "text")
    val tmp = Files.createTempDirectory("mix-gate").toString
    Doremi.domainWeights(snapshot, "doc_id", "text", "source",
        addK = 0.01, salt = "mixspec")
      .write.mode("overwrite").parquet(s"$tmp/weights")
    val weights = spark.read.parquet(s"$tmp/weights")

    val crawlAll = (100L until 140L).map { i =>
      (i, if (i % 4 == 0) "b" else "a", s"payload $i")
    }
    val crawlDF = crawlAll.toDF("doc_id", "source", "text")
    val expected = Doremi.resample(crawlDF, "doc_id", "source", weights,
        salt = "mixspec")
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < crawlAll.size,
      s"gate should thin the crawl, kept ${expected.size}/${crawlAll.size}")

    val outDir = Files.createTempDirectory("mix-gate-out").toString
    val ckpt = Files.createTempDirectory("mix-gate-ckpt").toString
    val input = MemoryStream[(Long, String, String)]
    val q = EventStream.landingSink(
        input.toDF().toDF("doc_id", "source", "text"), outDir, ckpt) {
      (batch, land) =>
        land(Doremi.resample(batch, "doc_id", "source", weights,
          salt = "mixspec"))
    }.start()
    try {
      input.addData(crawlAll.take(15): _*)
      q.processAllAvailable()
      input.addData(crawlAll.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect()
    got.toSet shouldBe expected
    got.length shouldBe expected.size
  }

  test("s1 near-dup gate (Dedup.nearDuplicatesAgainstIndex): streamed gate equals the batch dedup-vs-index") {
    import graft.ext.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus snapshot: two distinctive documents; the crawl mixes
    // near-copies (even ids) and fresh text (odd ids)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "text")
    val crawlAll = (10L until 22L).map { i =>
      (i, if (i % 2 == 0)
            "the quick brown fox jumps over the lazy dog tonight"
          else s"completely fresh unseen content number $i with words")
    }
    val tmp = Files.createTempDirectory("dd-gate-idx").toString
    Dedup.minhashIndex(corpus, "doc_id", "text",
      numHashes = 64, bands = 16)
      .write.mode("overwrite").parquet(s"$tmp/idx")
    val index = spark.read.parquet(s"$tmp/idx")

    val crawlDF = crawlAll.toDF("doc_id", "text")
    val dupIds = Dedup.nearDuplicatesAgainstIndex(index, crawlDF,
        "doc_id", "text", threshold = 0.8)
      .select(col("new_id")).as[Long].collect().toSet
    val expected = crawlAll.map(_._1).toSet -- dupIds
    assert(dupIds.nonEmpty && expected.nonEmpty,
      s"gate should split the crawl: dups=$dupIds")

    val outDir = Files.createTempDirectory("dd-gate-out").toString
    val ckpt = Files.createTempDirectory("dd-gate-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.landingSink(
        input.toDF().toDF("doc_id", "text"), outDir, ckpt) { (batch, land) =>
      val pairs = Dedup.nearDuplicatesAgainstIndex(index, batch, "doc_id",
        "text", threshold = 0.8)
      land(batch.join(pairs.select(col("new_id").as("doc_id")),
        Seq("doc_id"), "left_anti"))
    }.start()
    try {
      input.addData(crawlAll.take(5): _*)
      q.processAllAvailable()
      input.addData(crawlAll.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect()
    got.toSet shouldBe expected
    got.length shouldBe expected.size // each survivor landed exactly once
  }

  test("s4 decontamination gate (Curation.semanticDecontaminate): streamed gate equals the batch decontamination") {
    import graft.ext.{Curation, Similarity}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = 8
    def vec(axis: Int, seed: Int, noise: Float): Seq[Float] = {
      val rng = new scala.util.Random(seed)
      Seq.tabulate(dims)(i =>
        (if (i == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * noise)
    }
    // eval suite on axis 0; the crawl mixes eval-like (even ids) and
    // unrelated (odd ids) vectors
    val evalSet = Seq((100L, vec(0, 7, 0.0f)), (101L, vec(0, 8, 0.1f)))
      .toDF("vec_id", "embedding")
    val crawlAll = (10L until 26L).map { i =>
      (i, if (i % 2 == 0) vec(0, 7, 0.05f) else vec(1, i.toInt, 0.4f))
    }
    val crawlDF = crawlAll.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(
      crawlDF, "vec_id", "embedding", nlist = 2, iterations = 3,
      sampleSize = 16, seed = 42L)
    val expected = Curation.semanticDecontaminate(crawlDF, evalSet,
        "vec_id", "embedding", minCosine = 0.9, cents, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < crawlAll.size,
      s"gate should split the crawl, kept $expected")

    val outDir = Files.createTempDirectory("dc-gate-out").toString
    val ckpt = Files.createTempDirectory("dc-gate-ckpt").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.landingSink(
        input.toDF().toDF("vec_id", "embedding"), outDir, ckpt) {
      (batch, land) =>
        land(Curation.semanticDecontaminate(batch, evalSet,
          "vec_id", "embedding", minCosine = 0.9, cents, nprobe = 2))
    }.start()
    try {
      input.addData(crawlAll.take(5): _*)
      q.processAllAvailable()
      input.addData(crawlAll.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("vec_id").as[Long].collect()
    got.toSet shouldBe expected
    got.length shouldBe expected.size // each survivor landed exactly once
  }
}
