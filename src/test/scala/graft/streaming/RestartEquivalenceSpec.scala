package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Sessions, SparkEntry, SparkSpec}

/** Every stateful shape the streaming rows run gives the same output when
  * stopped after its first batch and restarted on the same checkpoint as
  * in one run, under both state-store providers:
  *
  *  - s5's watermarked windowed aggregation (built-in window state) and
  *    s12's windowed heavy hitters (a Misra-Gries summary per window),
  *  - s6's sessionization, s9's funnel and s10's transitions
  *    (flatMapGroupsWithState with event-time timeouts),
  *  - s14's `dropDuplicatesWithinWatermark` (dedup state keyed on the
  *    content fingerprint),
  *  - s8's stream-stream interval join (both sides' join buffers; here
  *    one staged source split into the two sides) and s11's drift
  *    monitor (a per-window bucket-count aggregation).
  *
  * The restart reads back the offset log, commit log, state-store files
  * and file-sink log, so it covers every file the checkpoint manager
  * writes. Each shape keeps a window, session, chain or last event open
  * across the restart (the dedup shape, a fingerprint seen before it; the
  * join, a left row whose partner arrives after it), which proves its
  * state was restored, not rebuilt.
  */
class RestartEquivalenceSpec extends SparkSpec {
  import RestartEquivalenceSpec.Shape

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  private lazy val shapes: Seq[Shape] = {
    import spark.implicits._
    Seq(
      // the 10:00 click window spans b0 and b1; b2's 10:59 row moves the
      // watermark past every real window
      Shape("windowed agg",
        Seq(Seq((ts(1), "click", 1.0), (ts(2), "click", 2.0),
            (ts(4), "view", 5.0), (ts(8), "click", 4.0)),
          Seq((ts(9), "click", 8.0), (ts(12), "click", 3.0),
            (ts(23), "view", 7.0)),
          Seq((ts(59), "view", 1.0)))
          .map(_.toDF("ts", "event_type", "value")),
        EventStream.windowedEventAgg(_, "ts", "10 minutes", "5 minutes"),
        "[2024-03-01 10:00:00.0,2024-03-01 10:10:00.0,click,4,15.0]", 4),
      // user 1's session opens in b0 and takes b1's 10:12 event (within
      // the 10-minute gap); user 2's 10:30 event closes its b0 session
      // and opens one that b2's 10:59 row times out
      Shape("sessionize",
        Seq(Seq((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(1), 3.0)),
          Seq((1L, ts(12), 4.0), (2L, ts(30), 5.0)),
          Seq((9L, ts(59), 0.0)))
          .map(_.toDF("user_id", "ts", "value")),
        df => EventStream.sessionizeStream(
          df.as[(Long, Timestamp, Double)], gapMs = 10L * 60 * 1000,
          lateness = "5 minutes").toDF(),
        "[1,2024-03-01 10:00:00.0,2024-03-01 10:12:00.0,3,7.0]", 3),
      // user 1's chain reaches click in b0 and completes in b1; user 2's
      // completes in b2, whose 10:59 signup moves the watermark on
      Shape("funnel",
        Seq(Seq((1L, ts(0), "signup"), (1L, ts(5), "click"),
            (2L, ts(2), "signup")),
          Seq((1L, ts(10), "purchase"), (2L, ts(20), "click")),
          Seq((2L, ts(25), "purchase"), (9L, ts(59), "signup")))
          .map(_.toDF("user_id", "ts", "event_type")),
        df => EventStream.funnelStream(
          df.as[(Long, Timestamp, String)], Seq("signup", "click", "purchase"),
          windowMs = 30L * 60 * 1000, lateness = "5 minutes").toDF(),
        "[1,2024-03-01 10:00:00.0,2024-03-01 10:10:00.0,600000]", 2),
      // s14's dedup: doc 1's text comes back in b1 and b2 and doc 2's in
      // b2, so only restored state keeps the copies out
      Shape("dedup within watermark",
        Seq(Seq((1L, "alpha beta", ts(0)), (2L, "gamma", ts(1))),
          Seq((3L, "alpha beta", ts(5)), (4L, "delta", ts(6))),
          Seq((5L, "gamma", ts(8)), (6L, "alpha beta", ts(9)),
            (7L, "epsilon", ts(10))))
          .map(_.toDF("doc_id", "text", "ts")),
        EventStream.dedupStream(_, "text", "ts", lateness = "1 hour"),
        "[1,alpha beta,2024-03-01 10:00:00.0]", 4),
      // s10's transitions: user 1's b0 view pairs with its b1 click and
      // user 2's b1 view with its b2 click, so each pair bridges a batch
      Shape("transitions",
        Seq(Seq((1L, ts(0), "signup", 1L), (1L, ts(2), "view", 2L),
            (2L, ts(1), "signup", 3L)),
          Seq((1L, ts(5), "click", 4L), (2L, ts(6), "view", 5L)),
          Seq((2L, ts(8), "click", 6L), (9L, ts(59), "signup", 7L)))
          .map(_.toDF("user_id", "ts", "event_type", "event_id")),
        df => EventStream.transitionsStream(
          df.as[(Long, Timestamp, String, Long)], lateness = "5 minutes",
          idleTimeout = "30m"),
        "[1,view,click,2024-03-01 10:05:00.0]", 4),
      // s12's heavy hitters: the 10:00 window's click count spans b0 and
      // b1; b2's 10:59 row moves the watermark past every real window
      Shape("heavy hitters",
        Seq(Seq((ts(1), "click"), (ts(2), "click"), (ts(4), "view")),
          Seq((ts(8), "click"), (ts(12), "view")),
          Seq((ts(59), "view")))
          .map(_.toDF("ts", "event_type")),
        EventStream.heavyHittersStream(_, "ts", "event_type", capacity = 4,
          window = "10 minutes", lateness = "5 minutes"),
        "[2024-03-01 10:00:00.0,2024-03-01 10:10:00.0,1,click,3,0]", 3),
      // s8's interval join: left 1 waits in join state from b0 for its
      // b1 partner 4; 2 and 3 match inside b0, 5 and 6 across b1/b2, and
      // 9 is 30 minutes off every left row of its user
      Shape("interval join",
        Seq(Seq(("l", 1L, 1L, ts(0)), ("l", 2L, 2L, ts(1)),
            ("r", 3L, 2L, ts(3))),
          Seq(("r", 4L, 1L, ts(5)), ("l", 5L, 3L, ts(6))),
          Seq(("r", 6L, 3L, ts(10)), ("r", 9L, 1L, ts(30)),
            ("l", 7L, 9L, ts(59))))
          .map(_.toDF("side", "id", "user", "ts")),
        df => {
          def side(s: String) = df.filter($"side" === s)
            .select($"id".as(s"${s}_id"), $"user".as(s"${s}_user"),
              $"ts".as(s"${s}_ts"))
          EventStream.intervalJoinStream(side("l"), side("r"),
            "l_user", "r_user", "l_ts", "r_ts", before = "10 minutes",
            after = "10 minutes", lateness = "10 minutes")
            .select("l_id", "r_id")
        },
        "[1,4]", 3),
      // s11's drift: the 10:00 window's bucket counts span b0 and b1;
      // b2's 10:59 row finalizes it and the 10:10 window, 3 rows each
      Shape("drift",
        Seq(Seq((ts(1), 5.0), (ts(2), 15.0), (ts(4), 25.0)),
          Seq((ts(8), 12.0), (ts(13), 3.0)),
          Seq((ts(59), 1.0)))
          .map(_.toDF("ts", "value")),
        EventStream.driftStream(_, "ts", "value", bounds = Seq(10.0, 20.0),
          refShares = Seq(0.3, 0.4, 0.3), window = "10 minutes",
          lateness = "5 minutes"),
        "[2024-03-01 10:00:00.0,2024-03-01 10:10:00.0,4,1,2,0.5,0.022314," +
          "0.040546]", 6))
  }

  /** Copy staged files into `in` with their staged mtimes: back-to-back
    * copies can share a millisecond, and the file source orders ties by
    * listing order, not by name.
    */
  private def land(shape: Shape, in: String, names: Seq[String]): Unit =
    names.foreach { n =>
      Files.copy(Paths.get(shape.staged, n), Paths.get(in, n),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def drain(ss: SparkSession, shape: Shape, base: String)
      : StreamingQuery =
    EventStream.runAvailableNow(EventStream.parquetSink(
      shape.stream(SparkEntry.orderedFileStream(
        ss, shape.batches.head.schema, s"$base/in")),
      s"$base/out", s"$base/ckpt"))

  private def session(rocksDb: Boolean): SparkSession = {
    val ss = SparkEntry.isolatedStreamSession(spark, shufflePartitions = 2)
    if (rocksDb) Sessions.useRocksDbStateStore(ss) else ss
  }

  private def output(base: String): Seq[String] =
    spark.read.parquet(s"$base/out").collect().map(_.toString).sorted.toSeq

  private def freshBase(): String = {
    val base = Files.createTempDirectory("restart-eq").toString
    Files.createDirectories(Paths.get(base, "in"))
    base
  }

  for {
    shape <- Seq("windowed agg", "sessionize", "funnel",
      "dedup within watermark", "transitions", "heavy hitters",
      "interval join", "drift")
    (provider, rocksDb) <- Seq("HDFS" -> false, "RocksDB" -> true)
  } test(s"$shape ($provider state store): stop after batch 1 and " +
      "restart on the same checkpoint equals the one-shot run") {
    val s = shapes.find(_.name == shape).get
    val all = Seq("b0.parquet", "b1.parquet", "b2.parquet")
    val oneShot = freshBase()
    land(s, s"$oneShot/in", all)
    drain(session(rocksDb), s, oneShot)

    val restarted = freshBase()
    land(s, s"$restarted/in", all.take(1))
    val first = drain(session(rocksDb), s, restarted)
    first.recentProgress.filter(_.numInputRows > 0).map(_.batchId) shouldBe
      Array(0L)
    land(s, s"$restarted/in", all.drop(1))
    val second = drain(session(rocksDb), s, restarted)
    second.recentProgress.map(_.batchId).min should be > 0L
    if (rocksDb)
      second.lastProgress.stateOperators.head.customMetrics.keySet()
        .toString.toLowerCase should include("rocksdb")

    val expected = output(oneShot)
    output(restarted) shouldBe expected
    expected should contain(s.open)
    expected.size shouldBe s.rows
  }
}

object RestartEquivalenceSpec {

  /** A stateful shape over three staged batches: `stream` maps the file
    * source to the sink's frame; `open` is an output row fed from both
    * sides of the restart, and `rows` the output's size.
    */
  private final case class Shape(name: String, batches: Seq[DataFrame],
      stream: DataFrame => DataFrame, open: String, rows: Int) {
    lazy val staged: String = SparkEntry.stageOrderedBatches(
      Files.createTempDirectory(s"restart-eq-$name").toString, batches)
  }
}
