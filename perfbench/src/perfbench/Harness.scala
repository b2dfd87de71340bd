package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed span of a cycle: a job (table load, query action, stream
  * drain) or a lake-maintenance step. `layer` names the layer the span's
  * wall time is attributed to in a traced cycle.
  */
final case class Span(
    layer: String, kind: String, job: Boolean,
    startMs: Long, endMs: Long, wallS: Double,
    stats: Option[SpanStats], triggers: Seq[Trigger])

final class Cycle(val index: Int, val timed: Boolean, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  var wallS = 0.0
  var filesLive = 0L
  /** Old generation in use after the settle that follows the cycle. */
  var oldGenMb = 0.0
  /** Bytes of raw input landed by this cycle (etl_batch only). */
  var inputBytes = 0L
}

/** Runs the jobs of a cycle, times them, records their spans, checks
  * their outputs and counts failures.
  *
  * Outputs are reduced to an order-independent [[Digest]]. The first
  * timed cycle's digest of each job kind is the reference every later
  * cycle must equal.
  */
final class Harness(val spark: SparkSession, probe: StreamProbe) {
  val tracer = new Tracer
  var cycle: Cycle = new Cycle(-1, timed = false, traced = false)
  private var pausedNs = 0L

  val reference = mutable.LinkedHashMap[String, String]()
  /** Where query-action jobs also write their output, for the build's
    * oracle check ([[Train]]); None in a benchmark run. */
  var outputDir: Option[String] = None
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Run one cycle; its wall time excludes [[untimed]] sections. */
  def runCycle(c: Cycle)(body: => Unit): Unit = {
    cycle = c
    if (c.traced) {
      drain()
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      tracer.take()
    }
    pausedNs = 0L
    val t0 = System.nanoTime()
    try body
    finally {
      c.wallS = (System.nanoTime() - t0 - pausedNs) / 1e9
      if (c.traced) {
        drain()
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
    }
  }

  /** Harness work inside a cycle that is not part of the workload
    * (output verification): excluded from the cycle's wall time and, in a
    * traced cycle, from every span's listener stats.
    */
  def untimed[T](body: => T): T = paused {
    val r = body
    if (cycle.traced) { drain(); tracer.take() }
    r
  }

  private def paused[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  /** Time `body` as one span of the current cycle. */
  def span[T](layer: String, kind: String, job: Boolean)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val stats = if (cycle.traced) paused { drain(); Some(tracer.take()) } else None
    val triggers =
      if (layer == "stream") paused { drain(); probe.take() } else Nil
    cycle.spans += Span(layer, kind, job, startMs, endMs, wallS, stats, triggers)
    r
  }

  /** Count a failure of `kind` in the current cycle (timed cycles only
    * enter the error rate).
    */
  def fail(kind: String, why: String): Unit = {
    if (cycle.timed) failed += 1
    failures += s"cycle ${cycle.index} $kind: $why"
    System.err.println(s"[perfbench] FAIL cycle ${cycle.index} $kind: $why")
  }

  /** A job whose failure is caught and counted; returns None on failure. */
  def job[T](layer: String, kind: String)(body: => T): Option[T] = {
    if (cycle.timed) attempted += 1
    try Some(span(layer, kind, job = true)(body))
    catch { case e: Exception =>
      fail(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      None
    }
  }

  /** A query-action job: build the frame and reduce its output to a
    * [[Digest]] (timed), then check the digest against this kind's
    * reference (untimed). With [[outputDir]] set, the frame's rows are
    * written there too (untimed).
    */
  def digestJob(layer: String, kind: String)(frame: => DataFrame): Unit =
    job(layer, kind) { val df = frame; (df, Digest.of(df)) }.foreach { case (df, d) =>
      untimed {
        checkOutput(kind, d)
        outputDir.foreach(dir =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$kind"))
      }
    }

  def checkOutput(kind: String, digest: String): Unit =
    if (cycle.timed) reference.get(kind) match {
      case None => reference(kind) = digest
      case Some(ref) if ref != digest =>
        fail(kind, s"output digest $digest differs from the first timed cycle's $ref")
      case _ => ()
    }
}
