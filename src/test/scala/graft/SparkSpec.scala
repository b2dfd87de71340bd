package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs. One session per JVM (scalatest
  * runs suites in the same JVM by default); `getOrCreate` makes every suite
  * attach to it. Low shuffle-partition count keeps tiny-fixture tests fast.
  */
trait SparkSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSpec.session
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
}
