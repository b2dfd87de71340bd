package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs. One session per JVM (scalatest
  * runs suites in the same JVM by default); `getOrCreate` makes every suite
  * attach to it. Low shuffle-partition count keeps tiny-fixture tests fast.
  */
trait SparkSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs `body` starts, counted by a context listener. A sentinel job
    * before and after flushes the listener queue, so the count holds
    * exactly the body's jobs.
    */
  def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val counted = new AtomicInteger
    @volatile var seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == SparkSpec.Sentinel)
          seen.countDown()
        else { counted.incrementAndGet(); () }
    }
    def flush(): Unit = {
      seen = new CountDownLatch(1)
      sc.setJobGroup(SparkSpec.Sentinel, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "listener queue never drained")
    }
    sc.addSparkListener(l)
    try {
      flush()
      counted.set(0)
      body
      flush()
      counted.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the runners' local posture at 4 cores; Scratch.configure puts
    // shuffle/spill, warehouse, Derby, and tmpdir on tmpfs when available —
    // the suite's many tiny writes are what a throttled host disk punishes
    // hardest (a full run died to it once)
    val s = Sessions.local("graft-tests", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Job group of [[SparkSpec.jobs]]'s flush jobs. */
  private val Sentinel = "spark-spec-sentinel"
}
