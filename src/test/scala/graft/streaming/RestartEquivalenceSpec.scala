package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Sessions, SparkEntry, SparkSpec}

/** The s5 shape (watermarked windowed aggregation into a parquet sink)
  * gives the same output when stopped after its first batch and restarted
  * on the same checkpoint as in one run, under both state-store providers.
  * The restart reads back the offset log, commit log, state-store files
  * and file-sink log, so it covers every file the checkpoint manager
  * writes. A window open across the restart proves the state was
  * restored, not rebuilt.
  */
class RestartEquivalenceSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  /** b0.parquet .. b2.parquet: the 10:00 click window spans b0 and b1;
    * b2's 10:59 row moves the watermark past every real window.
    */
  private lazy val staged: String = {
    import spark.implicits._
    val cols = Seq("ts", "event_type", "value")
    val b0 = Seq((ts(1), "click", 1.0), (ts(2), "click", 2.0),
      (ts(4), "view", 5.0), (ts(8), "click", 4.0)).toDF(cols: _*)
    val b1 = Seq((ts(9), "click", 8.0), (ts(12), "click", 3.0),
      (ts(23), "view", 7.0)).toDF(cols: _*)
    val b2 = Seq((ts(59), "view", 1.0)).toDF(cols: _*)
    SparkEntry.stageOrderedBatches(
      Files.createTempDirectory("restart-eq-stage").toString, Seq(b0, b1, b2))
  }

  private def land(in: String, names: Seq[String]): Unit = names.foreach { n =>
    Files.copy(Paths.get(staged, n), Paths.get(in, n),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def drain(ss: SparkSession, base: String): StreamingQuery = {
    val in = s"$base/in"
    val stream = ss.readStream.schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = EventStream.parquetSink(
      EventStream.windowedEventAgg(stream, "ts", "10 minutes", "5 minutes"),
      s"$base/out", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

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

  for ((name, rocksDb) <- Seq("HDFS" -> false, "RocksDB" -> true)) {
    test(s"windowed agg ($name state store): stop after batch 1 and " +
        "restart on the same checkpoint equals the one-shot run") {
      val all = Seq("b0.parquet", "b1.parquet", "b2.parquet")
      val oneShot = freshBase()
      land(s"$oneShot/in", all)
      drain(session(rocksDb), oneShot)

      val restarted = freshBase()
      land(s"$restarted/in", all.take(1))
      val first = drain(session(rocksDb), restarted)
      first.recentProgress.filter(_.numInputRows > 0).map(_.batchId) shouldBe
        Array(0L)
      land(s"$restarted/in", all.drop(1))
      val second = drain(session(rocksDb), restarted)
      second.recentProgress.map(_.batchId).min should be > 0L
      if (rocksDb)
        second.lastProgress.stateOperators.head.customMetrics.keySet()
          .toString.toLowerCase should include("rocksdb")

      val expected = output(oneShot)
      output(restarted) shouldBe expected
      // the 10:00 click window took rows from both sides of the restart
      expected should contain("[2024-03-01 10:00:00.0,2024-03-01 10:10:00.0," +
        "click,4,15.0]")
      expected.size shouldBe 4
    }
  }
}
