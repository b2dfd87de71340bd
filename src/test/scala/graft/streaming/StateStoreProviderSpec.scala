package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{SparkSpec, Sessions, SparkEntry}

/** Output is a property of the OPERATOR, not the state-store provider:
  * every stateful shape class in [[EventStream]] must produce identical
  * results under the default HDFS-backed provider and under RocksDB
  * ([[Sessions.RocksDbStateStoreProvider]] — the capacity posture for
  * production state sizes; see the Sessions scaladoc). One test per
  * shape class the engine ships:
  *
  *  - built-in watermarked windowed aggregation (s5's shape),
  *  - arbitrary per-key state via flatMapGroupsWithState (s6/s9/s10),
  *  - watermarked streaming dedup (`dropDuplicatesWithinWatermark`, s14),
  *  - two-sided stream-stream interval join (s8).
  *
  * Each runs the same staged file-source input through both providers
  * on isolated child sessions and asserts row-identical landed output;
  * the RocksDB run additionally asserts the provider REALLY engaged by
  * finding rocksdb custom metrics in the query progress (a misspelled
  * provider class would otherwise fall back to default silently — it
  * throws, but a wrong KEY would no-op).
  */
class StateStoreProviderSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  /** Run `pipeline` (stage input under `base`, return the stream's
    * writer) to completion with [[EventStream.runAvailableNow]] on a child
    * session with the given provider; returns (canonical rows of
    * base/out, rocksdb-metric key count).
    */
  private def runShape(rocksDb: Boolean)(
      pipeline: (SparkSession, String) => DataStreamWriter[Row])
      : (Seq[String], Int) = {
    val base = Files.createTempDirectory("ssp").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    if (rocksDb) Sessions.useRocksDbStateStore(ss)
    val q = EventStream.runAvailableNow(pipeline(ss, base))
    val rocksMetrics = q.recentProgress.flatMap(p =>
      p.stateOperators.flatMap(_.customMetrics.keySet()
        .toArray.map(_.toString)))
      .count(_.toLowerCase.contains("rocksdb"))
    val rows = spark.read.parquet(s"$base/out").collect()
      .map(_.toString).sorted.toSeq
    (rows, rocksMetrics)
  }

  /** Both providers, same pipeline: identical non-empty output, and the
    * RocksDB leg must show rocksdb metrics in its progress.
    */
  private def assertProviderInvariant(name: String)(
      pipeline: (SparkSession, String) => DataStreamWriter[Row]): Unit = {
    val (defaultRows, _) = runShape(rocksDb = false)(pipeline)
    val (rocksRows, rocksMetrics) = runShape(rocksDb = true)(pipeline)
    assert(defaultRows.nonEmpty, s"$name: empty output proves nothing")
    assert(rocksMetrics > 0,
      s"$name: no rocksdb custom metrics — provider did not engage")
    assert(rocksRows == defaultRows,
      s"$name: providers diverged (${rocksRows.size} vs ${defaultRows.size} rows)")
  }

  test("windowed aggregation is state-store-provider-invariant") {
    assertProviderInvariant("windowed-agg") { (ss, base) =>
      import spark.implicits._
      val b1 = Seq((ts(1), "click", 1.0), (ts(2), "click", 2.0),
        (ts(4), "view", 5.0)).toDF("ts", "event_type", "value")
      val b2 = Seq((ts(12), "click", 3.0)).toDF("ts", "event_type", "value")
      val adv = Seq((ts(59), "view", 1.0)).toDF("ts", "event_type", "value")
      SparkEntry.stageOrderedBatches(base, Seq(b1, b2, adv))
      val stream = SparkEntry.orderedFileStream(ss, b1.schema, s"$base/in")
      EventStream.parquetSink(
        EventStream.windowedEventAgg(stream, "ts", "10 minutes", "5 minutes"),
        s"$base/out", s"$base/ckpt")
    }
  }

  test("flatMapGroupsWithState (sessionize) is state-store-provider-invariant") {
    assertProviderInvariant("sessionize") { (ss, base) =>
      import ss.implicits._
      val b1 = Seq((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(1), 3.0))
        .toDF("user_id", "ts", "value")
      val b2 = Seq((1L, ts(25), 4.0)).toDF("user_id", "ts", "value")
      val adv = Seq((9L, ts(59), 0.0)).toDF("user_id", "ts", "value")
      SparkEntry.stageOrderedBatches(base, Seq(b1, b2, adv))
      val stream = SparkEntry.orderedFileStream(ss, b1.schema, s"$base/in")
        .as[(Long, Timestamp, Double)]
      EventStream.parquetSink(
        EventStream.sessionizeStream(
          stream, gapMs = 10L * 60 * 1000, lateness = "5 minutes").toDF(),
        s"$base/out", s"$base/ckpt")
    }
  }

  test("dropDuplicatesWithinWatermark is state-store-provider-invariant") {
    assertProviderInvariant("dedup-stream") { (ss, base) =>
      import spark.implicits._
      val b1 = Seq((ts(1), "alpha"), (ts(2), "beta"), (ts(3), "alpha"))
        .toDF("ts", "text")
      val b2 = Seq((ts(4), "beta"), (ts(5), "gamma")).toDF("ts", "text")
      SparkEntry.stageOrderedBatches(base, Seq(b1, b2))
      val stream = SparkEntry.orderedFileStream(ss, b1.schema, s"$base/in")
      EventStream.parquetSink(
        EventStream.dedupStream(stream, "text", "ts", lateness = "1 hour")
          .select(col("text"), date_format(col("ts"), "HH:mm").as("hm")),
        s"$base/out", s"$base/ckpt")
    }
  }

  test("stream-stream interval join is state-store-provider-invariant") {
    assertProviderInvariant("interval-join") { (ss, base) =>
      import spark.implicits._
      val l1 = Seq((1L, 10L, ts(0)), (2L, 20L, ts(5)))
        .toDF("l_id", "l_user", "l_ts")
      val l2 = Seq((3L, 10L, ts(20))).toDF("l_id", "l_user", "l_ts")
      SparkEntry.stageOrderedBatches(s"$base/L", Seq(l1, l2))
      val r1 = Seq((101L, 10L, ts(2))).toDF("r_id", "r_user", "r_ts")
      val r2 = Seq((102L, 20L, ts(6)), (103L, 10L, ts(22)))
        .toDF("r_id", "r_user", "r_ts")
      SparkEntry.stageOrderedBatches(s"$base/R", Seq(r1, r2))
      val left = SparkEntry.orderedFileStream(ss, l1.schema, s"$base/L/in")
      val right = SparkEntry.orderedFileStream(ss, r1.schema, s"$base/R/in")
      EventStream.parquetSink(
        EventStream.intervalJoinStream(left, right,
          "l_user", "r_user", "l_ts", "r_ts",
          before = "5 minutes", after = "5 minutes",
          lateness = "5 minutes")
          .select(col("l_id"), col("r_id")),
        s"$base/out", s"$base/ckpt")
    }
  }
}
