package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The raw run record, as JSON: every cycle with its spans, what the
  * listeners saw in traced spans, the canary series and the session conf.
  * `perfbench/run.py` reduces it to the benchmark's metrics.
  */
object Record {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON has no NaN or infinity: such a value is written as null. */
  private def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d

  private def stats(s: SpanStats, span: Span): Map[String, Any] = Map(
    "jobs" -> s.jobs, "tasks" -> s.tasks, "task_failures" -> s.taskFailures,
    "executor_run_s" -> num(s.runMs / 1e3), "executor_cpu_s" -> num(s.cpuNs / 1e9),
    "gc_s" -> num(s.gcMs / 1e3), "shuffle_bytes" -> s.shuffleBytes,
    "spill_bytes" -> s.spillBytes, "result_bytes" -> s.resultBytes,
    "stage_busy_s" -> num(s.stageBusyMs(span.startMs, span.endMs) / 1e3),
    "plan_s" -> num(s.planMs / 1e3), "write_s" -> num(s.writeNs / 1e9),
    "files_written" -> s.filesWritten, "bytes_written" -> s.bytesWritten,
    "rows_written" -> s.rowsWritten)

  private def trigger(t: Trigger): Seq[Long] = Seq(t.totalMs, t.overheadMs,
    t.addBatchMs, t.stateCommitMs, t.stateUpdateMs, t.stateRows, t.stateMemBytes)

  private def span(s: Span): Map[String, Any] = Map(
    "layer" -> s.layer, "kind" -> s.kind, "job" -> s.job,
    "wall_s" -> num(s.wallS), "span_ms" -> (s.endMs - s.startMs),
    "triggers" -> s.triggers.map(trigger),
    "stats" -> s.stats.map(stats(_, s)).orNull)

  private def cycle(c: Cycle): Map[String, Any] = Map(
    "index" -> c.index, "timed" -> c.timed, "traced" -> c.traced,
    "wall_s" -> num(c.wallS), "files_live" -> c.filesLive,
    "input_bytes" -> c.inputBytes, "old_gen_mb" -> num(c.oldGenMb),
    "spans" -> c.spans.toSeq.map(span))

  def render(workload: String, seed: Long, traceMode: Boolean, cpus: String,
      conf: Seq[(String, String)], setupPhases: Seq[(String, Double)],
      setupS: Double, measuredS: Double, cycles: Seq[Cycle],
      canary: Seq[(String, Double)], h: Harness): String =
    mapper.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traceMode, "cpus" -> cpus,
      "conf" -> conf.toMap,
      "setup_phases" -> setupPhases.map { case (k, v) => k -> num(v) }.toMap,
      "setup_s" -> num(setupS), "measured_s" -> num(measuredS),
      "canary" -> canary.map { case (at, s) => Map("at" -> at, "s" -> num(s)) },
      "attempted" -> h.attempted, "failed" -> h.failed,
      "failures" -> h.failures.toSeq,
      "digests" -> h.reference.toMap, "cycles" -> cycles.map(cycle)))

  /** The record of the build's [[Train]] run: each job kind's digest and
    * oracle SQL (`SparkEntry.oracleSql`), and the failures. */
  def training(h: Harness): String =
    mapper.writeValueAsString(Map(
      "digests" -> h.reference.toMap, "failures" -> h.failures.toSeq,
      "oracle_sql" -> h.reference.keys.toSeq.flatMap(q =>
        graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
}
