package graft.lake

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Scratch, SparkEntry, SparkSpec}
import graft.streaming.EventStream

/** A local session built by [[Scratch.configure]] starts no process for
  * its file operations: the stateful-stream checkpoint path (offset log,
  * commit log, state-store deltas, file-sink log) and a partitioned lake
  * write run with zero `chmod` / `readlink` forks, which the JVM reports
  * as `jdk.ProcessStart` events.
  */
class ZeroForkSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  /** Commands of every process the JVM starts while `body` runs. A
    * `true` process started last marks the end: once its event arrives,
    * every earlier start has been delivered too.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd == "true") marker.countDown() else seen.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder("true").start().waitFor()
      assert(marker.await(30, TimeUnit.SECONDS),
        "the marker process never reached the event stream")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** Stage a three-batch windowed-agg input (s5's shape) under `base`
    * and start an AvailableNow drain of it.
    */
  private def startWindowedDrain(base: String): StreamingQuery = {
    import spark.implicits._
    val b1 = Seq((ts(1), "click", 1.0), (ts(2), "click", 2.0),
      (ts(4), "view", 5.0)).toDF("ts", "event_type", "value")
    val b2 = Seq((ts(12), "click", 3.0)).toDF("ts", "event_type", "value")
    val adv = Seq((ts(59), "view", 1.0)).toDF("ts", "event_type", "value")
    SparkEntry.stageOrderedBatches(base, Seq(b1, b2, adv))
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    EventStream.parquetSink(
      EventStream.windowedEventAgg(stream, "ts", "10 minutes", "5 minutes"),
      s"$base/out", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
  }

  private def field(o: AnyRef, name: String): AnyRef = {
    val f = o.getClass.getDeclaredField(name)
    f.setAccessible(true)
    f.get(o)
  }

  /** Checkpoint managers of the HDFS-backed state-store providers still
    * loaded for the query run `q`.
    */
  private def stateStoreManagers(q: StreamingQuery): Seq[AnyRef] = {
    val store = org.apache.spark.sql.execution.streaming.state.StateStore
    val m = store.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    val loaded = m.invoke(store)
      .asInstanceOf[scala.collection.mutable.Map[AnyRef, AnyRef]]
    loaded.synchronized(loaded.toSeq).collect {
      case (id, p) if id.toString.contains(q.runId.toString) =>
        p.getClass.getMethod("fm").invoke(p)
    }
  }

  test("a stateful AvailableNow drain and a partitioned lake write fork " +
      "no chmod or readlink") {
    import spark.implicits._
    val base = Files.createTempDirectory("zero-fork").toString
    val rows = (0 until 40).map(i => (i.toLong, s"2024-03-0${1 + i % 3}"))
      .toDF("id", "dt")
    var q: StreamingQuery = null
    val started = processStarts {
      q = startWindowedDrain(base)
      q.awaitTermination()
      TableWriter.write(rows, TableWriter.Spec(Layer.Clean, s"$base/lake",
        partitionBy = Seq("dt")))
    }
    val forks = started.filter(c => c.contains("chmod") || c.contains("readlink"))
    if (forks.nonEmpty)
      fail(s"${forks.size} chmod/readlink forks, e.g. ${forks.take(3).mkString("; ")}")
    // the work really wrote: a finalized window and three partitions
    spark.read.parquet(s"$base/out").count() should be >= 1L
    spark.read.parquet(s"$base/lake").select("dt").distinct().count() shouldBe 3L

    FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration) shouldBe
      a[NioLocalFileSystem]
    val offsets = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.offsetLog
    offsets.getClass.getMethod("fileManager").invoke(offsets)
      .getClass.getSimpleName shouldBe "FileSystemBasedCheckpointFileManager"
    val managers = stateStoreManagers(q)
    managers should not be empty
    managers.foreach { fm =>
      fm.getClass.getSimpleName shouldBe "ChecksumCheckpointFileManager"
      field(fm, "underlyingFileMgr").getClass.getSimpleName shouldBe
        "FileSystemBasedCheckpointFileManager"
    }
  }

  test("a stock file: FileSystem cached before the session is built is " +
      "evicted by Scratch.configure") {
    FileSystem.get(fileUri, new Configuration()).close()
    FileSystem.get(fileUri, new Configuration()) should not be
      a[NioLocalFileSystem]
    Scratch.configure(org.apache.spark.sql.SparkSession.builder())
    FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration) shouldBe
      a[NioLocalFileSystem]
  }
}
