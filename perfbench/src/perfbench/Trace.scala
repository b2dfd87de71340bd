package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One stream micro-batch, from its `QueryProgressEvent`. */
final case class Trigger(
    totalMs: Long, overheadMs: Long, addBatchMs: Long,
    stateCommitMs: Long, stateUpdateMs: Long,
    stateRows: Long, stateMemBytes: Long)

/** Stream progress seen on the SparkContext's listener bus.
  *
  * Registered on the context rather than as a session's
  * `StreamingQueryListener`: the stateful stream rows run in
  * `isolatedStreamSession` children, whose progress a parent-session
  * listener never sees, while every session's events reach the context
  * bus through `onOtherEvent`. Always on, because the stream workload's
  * job times are per-trigger times.
  */
final class StreamProbe extends SparkListener {
  private val seen = mutable.ArrayBuffer[Trigger]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: QueryProgressEvent =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val t = Trigger(
        totalMs = d.getOrElse("triggerExecution", 0L),
        overheadMs = Seq("queryPlanning", "getBatch", "latestOffset",
          "walCommit", "commitOffsets").map(d.getOrElse(_, 0L)).sum,
        addBatchMs = d.getOrElse("addBatch", 0L),
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        stateUpdateMs = ops.map(_.allUpdatesTimeMs).sum,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateMemBytes = ops.map(_.memoryUsedBytes).sum)
      synchronized { seen += t }
    case _ => ()
  }

  def take(): Seq[Trigger] = synchronized {
    val out = seen.toSeq
    seen.clear()
    out
  }
}

/** What the listeners saw during one span of a traced cycle. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  val stages = mutable.ArrayBuffer[(Long, Long)]()
  var planMs = 0L
  var writeNs = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L

  /** Milliseconds of [from, to] covered by at least one stage. */
  def stageBusyMs(from: Long, to: Long): Long = {
    val clipped = stages.map { case (a, b) => (a max from, b min to) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}

/** The traced run's listeners: one `SparkListener` on the SparkContext
  * (jobs, stages, tasks, stage intervals, executor metrics) and one
  * `QueryExecutionListener` (phase times and write metrics). They fill
  * the current [[SpanStats]]; the harness drains the listener bus at the
  * end of each span and takes the stats with [[take]].
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var cur = new SpanStats

  def take(): SpanStats = synchronized {
    val out = cur
    cur = new SpanStats
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { cur.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      synchronized { cur.stages += ((a, b)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (e.reason != TaskSuccess) cur.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.diskBytesSpilled
      cur.resultBytes += m.resultSize
    }
  }

  override def onSuccess(
      funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values.map(_.durationMs).sum
    val writes = Tracer.writeMetrics(qe.executedPlan)
    synchronized {
      cur.planMs += phases
      if (writes.nonEmpty) {
        cur.writeNs += durationNs
        writes.foreach { w =>
          cur.filesWritten += w.getOrElse("numFiles", 0L)
          cur.bytesWritten += w.getOrElse("numOutputBytes", 0L)
          cur.rowsWritten += w.getOrElse("numOutputRows", 0L)
        }
      }
    }
  }

  override def onFailure(
      funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Metrics of every file-writing command in an executed plan, looking
    * through command results and adaptive wrappers (Spark plans a V1
    * write as the result stage of an `AdaptiveSparkPlanExec`).
    */
  def writeMetrics(plan: SparkPlan): Seq[Map[String, Long]] = {
    val out = mutable.ArrayBuffer[Map[String, Long]]()
    def walk(p: SparkPlan): Unit = p match {
      case w: DataWritingCommandExec =>
        out += w.metrics.map { case (k, v) => k -> v.value }
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case c: CommandResultExec     => walk(c.commandPhysicalPlan)
      case _                        => p.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}

/** Old-generation heap in use after a full collection. */
object OldGen {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Collect (an explicit full GC), then read the old generation. */
  def afterFullGcMb(): Double = {
    System.gc()
    pools.map(_.getUsage.getUsed).sum / 1048576.0
  }
}
