package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.Row

/** One user session as emitted by [[EventStream.sessionizeStream]].
  * Top-level (not nested in the object): Catalyst's encoder codegen
  * instantiates these reflectively from generated Java.
  */
final case class UserSession(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_value: Double)

/** Open-session state for [[EventStream.sessionizeStream]]. */
final case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** A completed funnel as emitted by [[EventStream.funnelStream]]. */
final case class FunnelHit(
    user_id: Long,
    ts_first: Timestamp,
    ts_last: Timestamp,
    duration_ms: Long)

/** Per-user funnel progress state for [[EventStream.funnelStream]]:
  * epoch-millis of each stage reached so far, in stage order, plus the
  * cycle boundary `bound` — the epoch-ms a fresh cycle's head must be
  * STRICTLY after (last completion time, or first-event-past-an-expired-
  * window minus one). Carried even with an empty chain until the
  * watermark passes it, so a stage-1 event in the very millisecond of a
  * completion can never start a head the batch walk would reject.
  */
final case class FunnelState(chain: Seq[Long], bound: Long)

/** Structured Streaming extension (SURVEY.md §2.9 declares the reference
  * batch-only; this module is the engine's declared extension beyond
  * parity): the same event pipeline shapes as the batch operators, expressed
  * as incremental plans over `readStream` sources.
  *
  * Design notes for the 100 TB/day shape:
  *  - all transforms are the SAME declarative DataFrame expressions the
  *    batch path uses — one definition, two execution modes (the point of
  *    Structured Streaming);
  *  - watermarks bound state: the windowed aggregation keeps only windows
  *    newer than the watermark, so state size is O(keys × windows-in-
  *    horizon), not O(stream);
  *  - file sinks are exactly-once via the sink's commit log; `append` mode
  *    emits each window once, when it finalizes;
  *  - `availableNow` triggers turn the same query into an incremental
  *    batch job (the reference's `is_incremental` semantics without a
  *    scheduler).
  */
object EventStream {

  /** Full-microsecond sort key for the per-batch event-time sorts in the
    * stateful folds. `Timestamp.getTime` truncates to milliseconds, and a
    * stable sort on it preserves nondeterministic shuffle arrival order
    * among same-millisecond events — the driver testdata happens to have
    * no same-user same-ms collisions today, but a regenerated or larger
    * dataset would turn that into a nondeterministic oracle red. The
    * folds' COMPARISONS stay at their documented ms precision; only the
    * processing ORDER is pinned to the full timestamp.
    */
  private def tsMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L


  /** Landed-JSONL streaming source: the streaming twin of
    * [[graft.ingest.JsonlSource.read]] (schema must be declared — streaming
    * sources cannot infer).
    */
  def readJsonlStream(
      spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** Tumbling-window event counts/sums per event type with a watermark.
    *
    * @param lateness how late an event may arrive and still be counted
    *                 (also bounds the aggregation state horizon).
    */
  def windowedEventAgg(
      events: DataFrame,
      tsCol: String,
      window: String = "10 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming dedup on a fingerprint with watermark-bounded state — the
    * streaming twin of [[graft.ext.Dedup.dedupExact]]: keeps the first
    * arrival per content fingerprint.
    */
  def dedupStream(
      events: DataFrame, textCol: String, tsCol: String,
      lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("_fp", graft.ext.Dedup.exactFingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming near-duplicate detection against a STATIC corpus index —
    * the streaming twin of [[graft.ext.Dedup.nearDuplicatesAgainstIndex]]:
    * each arriving document is shingled and banded with the SAME
    * expressions the batch path uses, stream-static-joined against the
    * COLLAPSED index ([[graft.ext.Dedup.collapseIndex]] — unique shingle
    * sets as groups, materialized to parquet as the snapshot artifact)
    * on `(band, bucket)`, Jaccard-verified once per (row, group) band
    * collision, and expanded back to member ids. Emits
    * `(corpus_id, new_id, jaccard)` rows as documents arrive.
    *
    * Scale shape: a stream-static equi-join is STATELESS — no watermark,
    * no state store; each micro-batch joins against the index and
    * forgets. Two structural choices carry the cost at duplicate-heavy
    * corpora: (1) the static side is group-collapsed, so an m-doc
    * exact-dup clique is ONE group (the uncollapsed form made the band
    * join quadratic in clique size — measured 13× slower end-to-end at
    * sf0.1); (2) only `(gid, nsh, band, bucket)` ride the band join —
    * the corpus shingle arrays attach AFTER the size-ratio prune, by a
    * second stream-static join on the surviving gids, and `members`
    * expand only for verified pairs.
    *
    * `numHashes`/`bands` must match the index's build parameters.
    *
    * Output multiplicity: a pair colliding in several bands emits one row
    * per colliding band (a streaming `distinct` would mean unbounded state
    * — and since each document arrives in exactly ONE micro-batch,
    * duplicates are strictly intra-batch). Callers wanting unique pairs
    * dedupe per batch: `.writeStream.foreachBatch((b, _) => b.dropDuplicates
    * ("corpus_id", "new_id")...)` — batch-scoped, zero cross-batch state.
    *
    * WHEN TO USE WHICH: this transform keeps the verify inside the
    * continuous plan, which is right for low-duplication streams (alert
    * on any hit, no sink roundtrip). On duplicate-HEAVY corpora the
    * stream side cannot collapse its own identical sets (a stateless
    * plan has no groupBy), so every member of an exact-dup batch row
    * verifies against every colliding group × band — use
    * [[graft.ext.Dedup.nearDuplicatesAgainstIndex]] through
    * [[landingSink]] instead, which runs the FULL batch plan (both-side
    * collapse, distinct group candidates, one verify per group pair) per
    * micro-batch (measured 5× faster on the sf0.1 near-clique).
    */
  def nearDupAgainstIndexStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      collapsedIndex: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    import graft.ext.Dedup
    val batchSigs = Dedup.minhashIndex(docs, idCol, textCol, numHashes, bands)
    val streamSide = batchSigs
      .select(
        col("id").as("new_id"), col("nsh").as("new_nsh"),
        col("shingles").as("sh_b"), explode(col("bands")).as("bb"))
      .select(
        col("new_id"), col("new_nsh"), col("sh_b"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // the band spine carries NO arrays — gid + size only
    val staticBands = collapsedIndex
      .select(
        col("gid"), col("nsh").as("corpus_nsh"),
        explode(col("bands")).as("bb"))
      .select(
        col("gid"), col("corpus_nsh"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    streamSide.join(staticBands, Seq("band", "bucket"))
      .filter(
        least(col("corpus_nsh"), col("new_nsh")).cast("double") >=
          greatest(col("corpus_nsh"), col("new_nsh")) * threshold)
      .select(col("gid"), col("new_id"), col("sh_b"))
      .join(
        collapsedIndex.select(
          col("gid"), col("shingles").as("sh_a"), col("members")),
        Seq("gid"))
      .select(
        col("members"), col("new_id"),
        graft.functions.JaccardFunctions.jaccard_sorted(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(
        explode(col("members")).as("corpus_id"),
        col("new_id"), col("jaccard"))
  }

  /** Custom-state sessionization via `flatMapGroupsWithState`: one state
    * record per user holds the open session; an event later than
    * `gapMs` after the session's end closes it (emit) and opens a new one;
    * an event-time timeout closes idle sessions once the watermark passes
    * their horizon, so state is bounded and sessions still emit when a
    * user simply stops sending.
    *
    * This is the shape for semantics `session_window` cannot express —
    * per-group custom accumulators, conditional emission, explicit
    * timeout policy.
    */
  def sessionizeStream(
      events: Dataset[(Long, Timestamp, Double)],
      gapMs: Long = 30L * 60 * 1000,
      lateness: String = "10 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .toDF("user_id", "ts", "value")
      .withWatermark("ts", lateness)
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long,
         rows: Iterator[(Long, Timestamp, Double)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(r => tsMicros(r._2))
            var open = state.getOption
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { case (_, ts, v) =>
              val t = ts.getTime
              open match {
                // within the gap on EITHER side of the open session:
                // merge, widening both boundaries (late-but-in-watermark
                // events may precede the session start)
                case Some(s) if t >= s.start - gapMs && t <= s.end + gapMs =>
                  open = Some(s.copy(
                    start = math.min(s.start, t), end = math.max(s.end, t),
                    n = s.n + 1, total = s.total + v))
                case Some(s) if t > s.end + gapMs =>
                  closed += UserSession(userId, new Timestamp(s.start),
                    new Timestamp(s.end), s.n, s.total)
                  open = Some(SessionState(t, t, 1L, v))
                case Some(_) =>
                  // more than a gap BEFORE the open session: it can never
                  // merge with anything later, emit it as its own session
                  closed += UserSession(userId, new Timestamp(t),
                    new Timestamp(t), 1L, v)
                case None =>
                  open = Some(SessionState(t, t, 1L, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              // close once the watermark passes session end + gap
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
        })
  }

  /** Windowed heavy hitters: the streaming twin of q57 — the mergeable
    * Misra-Gries aggregate ([[graft.functions.HeavyHitters]]) inside a
    * watermarked tumbling window. Works in streaming for the same reason
    * it scales in batch: the summary is MERGEABLE, so incremental
    * micro-batch partials fold into the window's state without replaying
    * the stream, and state per window is O(capacity), not O(distinct
    * items). Emits each window's summary (exploded, estimate-descending
    * rank order preserved by the array) when the watermark finalizes it.
    */
  def heavyHittersStream(
      events: DataFrame,
      tsCol: String,
      itemCol: String,
      capacity: Int,
      window: String = "10 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(graft.functions.FreqFunctions
        .heavyHitters(col(itemCol), capacity).as("hh"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        posexplode(col("hh")).as(Seq("rank", "e")))
      .select(col("window_start"), col("window_end"),
        (col("rank") + 1).cast("int").as("rank"),
        col("e.item").as("item"), col("e.est").as("est"),
        col("e.err").as("err"))

  /** Streaming distribution-drift monitor: the streaming twin of
    * [[graft.ops.Drift.psi]] (q64). The reference profile — equi-depth
    * bucket `bounds` and `refShares` from
    * [[graft.ops.Drift.referenceProfile]] — is computed ONCE batch-side
    * and rides into the stream as literals, so the monitor adds exactly
    * one watermarked stateful aggregation: per tumbling window, ONE state
    * row holding the total plus a count per (statically known) bucket.
    * When the watermark finalizes a window it explodes into per-bucket
    * rows carrying `cur_share`, the bucket's `psi` contribution, and the
    * window's total `window_psi` (repeated per row for alert routing) —
    * the same eps-floored, 6-decimal-rounded arithmetic as the batch
    * monitor.
    *
    * State per window is O(buckets) longs regardless of event rate —
    * the mergeable-summary property that makes the batch plan scale is
    * exactly what makes it streamable.
    */
  def driftStream(
      events: DataFrame,
      tsCol: String,
      valCol: String,
      bounds: Seq[Double],
      refShares: Seq[Double],
      window: String = "10 minutes",
      lateness: String = "10 minutes",
      eps: Double = 1e-6): DataFrame = {
    require(refShares.size == bounds.size + 1,
      s"refShares size ${refShares.size} must be bounds size + 1")
    require(eps > 0, s"eps must be positive, got $eps")
    val nb = refShares.size
    def rnd6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
    val counts = (0 until nb).map(i =>
      sum(when(col("_bucket") === i, 1L).otherwise(0L)).as(s"_n$i"))
    val perBucket = (0 until nb).map { i =>
      val curShare = greatest(
        col(s"_n$i").cast("double") / col("_total"), lit(eps))
      val refShare = lit(math.max(refShares(i), eps))
      struct(lit(i).as("bucket"), col(s"_n$i").as("cur_n"),
        rnd6(curShare).as("cur_share"),
        rnd6((curShare - refShare) * log(curShare / refShare)).as("psi"))
    }
    events
      .withWatermark(tsCol, lateness)
      .filter(col(valCol).isNotNull)
      .withColumn("_bucket", graft.functions.SearchSorted(
        col(valCol).cast("double"), bounds))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("_total"), counts: _*)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("_total").as("n_events"),
        explode(array(perBucket: _*)).as("b"),
        rnd6(perBucket.map(p => p.getField("psi")).reduce(_ + _))
          .as("window_psi"))
      .select(col("window_start"), col("window_end"), col("n_events"),
        col("b.bucket").as("bucket"), col("b.cur_n").as("cur_n"),
        col("b.cur_share").as("cur_share"), col("b.psi").as("psi"),
        col("window_psi"))
  }

  /** Streaming funnel: the streaming twin of [[graft.ops.Funnel]] (q55).
    * Per-user state is the stage chain reached so far — O(stages) longs,
    * nothing else — advanced by the same greedy walk as the batch fold
    * (next expected stage, strictly increasing event time, processed in
    * event-time order within each micro-batch). A user emits a
    * [[FunnelHit]] each time the final stage lands within `windowMs` of
    * stage 1, then the chain clears and later events may start a fresh
    * cycle.
    *
    * The output is a pure function of the per-user event sequence in
    * event-time order, INDEPENDENT of micro-batch boundaries and
    * watermark timing: when an event arrives more than `windowMs` after
    * the chain head, the chain resets INLINE (that very event may start
    * a fresh cycle if it is stage 1), so an expired chain never blocks a
    * user and never waits for a timeout to clear. The event-time timeout
    * is therefore pure memory GC — it removes state the inline reset
    * would discard anyway on the next arrival (or that can never
    * complete because the watermark has passed head + window), emitting
    * nothing and changing no output. That determinism is what makes the
    * operator oracle-checkable end to end (s9): the exact semantics are
    * the repeated greedy chain-of-minima — cycle head = first stage-1
    * event after the previous completion (or at/after the first event
    * past an expired head's window), stages strictly increasing in time,
    * all within `windowMs` of the head.
    *
    * Parity caveat (inherent to single-pass streaming): the stream never
    * revises a stage pick when an earlier qualifying event arrives LATE
    * (cross-batch out-of-order); in-order delivery reproduces the
    * repeated chain-of-minima exactly. Comparisons are at millisecond
    * precision (`Timestamp.getTime`). Tie rule at a cycle boundary: a
    * fresh head must be STRICTLY later (in ms) than the previous
    * completion — a stage-1 event in the completing purchase's very
    * millisecond does not start a new cycle, exactly as the batch
    * walk's `h > bnd` demands; the boundary is carried in state (even
    * with an empty chain, until the watermark passes it) so the rule
    * holds across micro-batch splits too.
    */
  def funnelStream(
      events: Dataset[(Long, Timestamp, String)],
      stages: Seq[String],
      windowMs: Long,
      lateness: String = "10 minutes"): Dataset[FunnelHit] = {
    require(stages.size >= 2 && stages.size <= 8,
      s"funnel needs 2..8 stages, got ${stages.size}")
    require(windowMs > 0, "funnel window must be positive")
    import events.sparkSession.implicits._
    val stageArr = stages.toIndexedSeq
    events
      .toDF("user_id", "ts", "tpe")
      .filter(col("tpe").isin(stages: _*))
      .withWatermark("ts", lateness)
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long,
         rows: Iterator[(Long, Timestamp, String)],
         state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            // pure GC: either the chain's window expired with no further
            // arrivals (the inline reset would discard it on the next
            // event anyway) or an empty-chain boundary record whose
            // bound the watermark has passed — removal changes no output
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
            var chain = prev.map(_.chain.toVector)
              .getOrElse(Vector.empty[Long])
            // boundary a fresh cycle's head must be STRICTLY after —
            // mirrors the batch walk's `h > bnd` (bnd = the previous
            // completion's purchase time, or r − 1 after a window
            // expiry where r = the first event past head + window)
            var bound = prev.map(_.bound).getOrElse(Long.MinValue)
            val hits = Vector.newBuilder[FunnelHit]
            val sorted = rows.toSeq.sortBy(r => tsMicros(r._2))
            sorted.foreach { case (_, ts, tpe) =>
              val t = ts.getTime
              if (chain.nonEmpty && t - chain.head > windowMs) {
                // inline window reset: bnd = r − 1, so this very event
                // (t = r > bnd) may itself start the fresh cycle
                bound = t - 1
                chain = Vector.empty
              }
              if (tpe == stageArr(chain.size) &&
                  (if (chain.isEmpty) t > bound else t > chain.last)) {
                chain = chain :+ t
                if (chain.size == stageArr.size) {
                  hits += FunnelHit(userId, new Timestamp(chain.head),
                    new Timestamp(chain.last), chain.last - chain.head)
                  // completion boundary: the next head must be strictly
                  // later in ms — a same-ms stage-1 event (later micros,
                  // hence processed after) must NOT start a new head
                  bound = t
                  chain = Vector.empty
                }
              }
            }
            if (chain.nonEmpty) {
              state.update(FunnelState(chain, bound))
              // completion impossible once the watermark passes
              // stage-1 time + window (clamped: a timeout may not be set
              // behind the current watermark)
              state.setTimeoutTimestamp(math.max(
                chain.head + windowMs, state.getCurrentWatermarkMs + 1))
            } else if (bound > state.getCurrentWatermarkMs) {
              // empty chain but a live boundary: an in-watermark event in
              // the boundary's very ms may still arrive, so the bound
              // must survive until the watermark passes it (then GC'd by
              // the timeout above, output-invariantly)
              state.update(FunnelState(Vector.empty, bound))
              state.setTimeoutTimestamp(math.max(
                bound + 1, state.getCurrentWatermarkMs + 1))
            } else if (state.exists) state.remove()
            hits.result().iterator
          }
        })
  }

  /** Streaming transition emitter: the streaming twin of
    * [[graft.ops.Funnel.transitions]]. Per-entity state is ONE (ts,
    * state) pair — the last event seen — so memory is O(entities)
    * regardless of history length; each micro-batch sorts its group's
    * rows by event time, emits a `(from_state, to_state, ts)` row per
    * consecutive pair (bridging from the carried last event), and
    * advances the state. Entities idle past `idleTimeout` are
    * garbage-collected by event-time timeout.
    *
    * The 4th tuple element is a per-event TIEBREAK id (the batch
    * operator's `event_id`): events sharing one microsecond for one
    * entity sort on it, so the emitted from/to pairs are a
    * deterministic mirror of the batch sort key `(ts, event_id)`
    * instead of shuffle arrival order. Pass any unique id; pass a
    * constant only if the source provably never collides at one µs.
    *
    * Parity caveat (single-pass streaming, same as [[funnelStream]]):
    * an event arriving OLDER than the carried last event would rewrite
    * history, so it is dropped — in-order delivery reproduces the batch
    * operator exactly; downstream aggregation into the count/share
    * matrix is the batch `groupBy` on this emitter's output.
    */
  def transitionsStream(
      events: Dataset[(Long, Timestamp, String, Long)],
      lateness: String = "10 minutes",
      idleTimeout: String = "60m"): DataFrame = {
    import events.sparkSession.implicits._
    val idleMs =
      org.apache.spark.network.util.JavaUtils.timeStringAsMs(idleTimeout)
    events
      .toDF("user_id", "ts", "tpe", "tiebreak")
      .withWatermark("ts", lateness)
      .as[(Long, Timestamp, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long,
         rows: Iterator[(Long, Timestamp, String, Long)],
         state: GroupState[(Long, String)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption
            val out = Vector.newBuilder[(Long, String, String, Timestamp)]
            rows.toSeq.sortBy(r => (tsMicros(r._2), r._4))
              .foreach { case (_, ts, tpe, _) =>
              val t = ts.getTime
              last match {
                case Some((lt, ls)) if t >= lt =>
                  out += ((userId, ls, tpe, ts))
                  last = Some((t, tpe))
                case Some(_) => // older than carried state: late, dropped
                case None => last = Some((t, tpe))
              }
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(math.max(
                l._1 + idleMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
        })
      .toDF("user_id", "from_state", "to_state", "ts")
  }

  /** Watermarked stream-stream interval join: match each left event to
    * right events with the same key whose timestamp falls in
    * `[leftTs - before, leftTs + after]` — the streaming twin of the batch
    * range join (q19) for enrich-with-nearby-context shapes (impression ×
    * click, quote × trade).
    *
    * Both sides carry a watermark and the join condition bounds the time
    * distance in BOTH directions, which is what lets Spark evict state:
    * each side buffers only the interval-plus-lateness horizon, so state
    * is O(rate × horizon), not O(stream). Without the two-sided bound the
    * state store would grow forever — this helper makes the bounded shape
    * the only one expressible.
    *
    * Column names must be disjoint across the two sides (standard
    * stream-stream join requirement); `leftKey`/`rightKey` equality plus
    * the interval is the whole condition.
    */
  def intervalJoinStream(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      before: String = "10 minutes",
      after: String = "10 minutes",
      lateness: String = "10 minutes"): DataFrame =
    left.withWatermark(leftTs, lateness)
      .join(
        right.withWatermark(rightTs, lateness),
        expr(s"""$leftKey = $rightKey AND
                 $rightTs >= $leftTs - interval '$before' AND
                 $rightTs <= $leftTs + interval '$after'"""))

  /** Streaming CDC upsert: fold each micro-batch of keyed I/U/D changes
    * into a parquet-backed table via [[graft.pipeline.Cdc.applyChanges]] —
    * the streaming twin of the batch CDC fold (q39).
    *
    * `foreachBatch` is at-least-once: after a crash between sink commit
    * and checkpoint advance, a batch can be REDELIVERED. That is exactly
    * why the fold delegates to `Cdc.applyChanges`, whose latest-wins
    * semantics make re-applying an already-applied batch a no-op (the
    * CdcSpec idempotence property) — at-least-once delivery composes with
    * an idempotent fold into effectively-once table state. Each fold
    * replaces the table through [[graft.lake.TableSwap.replace]], whose
    * crash recovery restores the pre-batch table; the batch whose fold was
    * lost is then redelivered by the checkpoint and re-applied.
    */
  def cdcSink(
      changes: DataFrame,
      tablePath: String,
      checkpoint: String,
      keys: Seq[String],
      seqCol: String,
      opCol: String): DataStreamWriter[Row] =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(batch, tablePath, keys, seqCol, opCol)
        ()
      }

  /** One CDC fold transaction (testable redelivery unit — idempotent by
    * `Cdc.applyChanges`'s latest-wins semantics, not by batch fencing).
    */
  private[graft] def applyCdcBatch(
      batch: DataFrame, tablePath: String,
      keys: Seq[String], seqCol: String, opCol: String): Unit = {
    val spark = batch.sparkSession
    graft.lake.TableSwap.replace(spark, tablePath, "cdcSink") { (fs, next) =>
      val base =
        if (fs.exists(new org.apache.hadoop.fs.Path(tablePath)))
          graft.Parquet.read(spark, tablePath)
        else batch.drop(seqCol, opCol).limit(0)
      graft.pipeline.Cdc.applyChanges(base, batch, keys, seqCol, opCol)
        .write.mode("overwrite").parquet(next.toString)
    }
  }

  /** The landing sink: each micro-batch goes through `gate`, which runs
    * the batch's operator and hands its output to `land` — call it once.
    * The whole gate runs in one [[graft.Cached.scope]], so whatever the
    * operator caches (the near-dup gate's collapsed frames) is released
    * after the write and never accumulates across triggers. The gates
    * this serves — dedup, near-dup pairs, perplexity, mixture,
    * decontamination, DSIR scores, ANN serving (s1–s4, s13, s16, s17) —
    * share one cadence: their model or index is fit offline once per
    * snapshot and read back as an artifact, and each micro-batch is gated
    * against it with no state store, because the verdict on a row depends
    * only on that row and the fixed artifact.
    *
    * Delivery: batch `batchId`'s rows land under `outPath/batch=<batchId>`
    * in overwrite mode. foreachBatch is at-least-once — after a crash
    * between the write and the checkpoint commit the SAME batch (same id,
    * same rows: the replayed source offsets are in the checkpoint) is
    * redelivered, and a plain `mode("append")` would land it twice. Keying
    * the write by the stable batch id turns redelivery into an overwrite
    * of the identical directory: effectively-once output, with no
    * applied-id marker (that is [[summarySink]]'s job, where the fold is
    * not idempotent) and no cross-batch state. This holds as long as the
    * gate is deterministic per batch, which each of the operators above
    * is. Read `outPath` back with [[graft.Parquet.read]]; partition
    * discovery adds a `batch` column — drop it, or filter on it for a
    * per-trigger audit.
    * `SinkRedeliverySpec` pins the property for every gate.
    */
  def landingSink(df: DataFrame, outPath: String, checkpoint: String)(
      gate: (DataFrame, DataFrame => Unit) => Unit): DataStreamWriter[Row] =
    appendBatches(df, checkpoint)(landBatch(_, _, outPath)(gate))

  /** One landing-sink batch (testable redelivery unit). */
  private[graft] def landBatch(batch: DataFrame, batchId: Long, outPath: String)(
      gate: (DataFrame, DataFrame => Unit) => Unit): Unit =
    graft.Cached.scope(gate(batch,
      _.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")))

  /** Streaming materialized summary view: fold each micro-batch into a
    * parquet-backed [[graft.pipeline.IncrementalAgg]] summary table — the
    * streaming twin of incremental aggregate maintenance (q47). Each
    * trigger costs `summarize(batch)` + a merge against O(groups)
    * summary rows; the base data is never rescanned, which is what makes
    * a continuously-maintained 100 TB rollup affordable.
    *
    * Unlike the CDC fold, additive aggregation is NOT naturally
    * idempotent — a redelivered batch would double-count. The sink
    * therefore records the applied `batchId` INSIDE the summary table
    * directory (written into `._next` before [[graft.lake.TableSwap]]
    * swaps it in), and skips any batch at or below the recorded id:
    * at-least-once delivery × applied-id fencing = effectively-once
    * totals (`EventStreamSpec`/`IncrementalAggSpec` pin both halves).
    */
  def summarySink(
      events: DataFrame,
      tablePath: String,
      checkpoint: String,
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      rangeCols: Seq[String] = Nil,
      ndvCols: Seq[String] = Nil): DataStreamWriter[Row] =
    appendBatches(events, checkpoint) { (batch, batchId) =>
      applySummaryBatch(batch, batchId, tablePath,
        groupCols, sumCols, rangeCols, ndvCols)
    }

  /** One summary-fold transaction; factored out so idempotence under
    * batch redelivery is directly testable. Returns true if the batch
    * was applied, false if fenced as already-applied.
    */
  private[graft] def applySummaryBatch(
      batch: DataFrame, batchId: Long, tablePath: String,
      groupCols: Seq[String], sumCols: Seq[String],
      rangeCols: Seq[String], ndvCols: Seq[String]): Boolean = {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets.UTF_8
    val spark = batch.sparkSession
    val marker = "_applied_batch"
    graft.lake.TableSwap.replace(spark, tablePath, "summarySink") { (fs, next) =>
      val cur = new Path(tablePath)
      def appliedId: Long = {
        val m = new Path(cur, marker)
        if (!fs.exists(m)) -1L
        else {
          val in = fs.open(m)
          try new String(in.readAllBytes(), UTF_8).trim.toLong
          finally in.close()
        }
      }
      // declining (no ._next written) leaves the table as it is
      if (fs.exists(cur) && appliedId >= batchId) false
      else {
        val batchSummary = graft.pipeline.IncrementalAgg.summarize(
          batch, groupCols, sumCols, rangeCols, ndvCols)
        val folded =
          if (fs.exists(cur))
            graft.pipeline.IncrementalAgg.merge(
              Seq(graft.Parquet.read(spark, tablePath), batchSummary),
              groupCols, sumCols, rangeCols, ndvCols)
          else batchSummary
        folded.write.mode("overwrite").parquet(next.toString)
        // the marker travels inside the directory, so table + fence swap
        // as one unit
        val out = fs.create(new Path(next, marker), true)
        try out.write(batchId.toString.getBytes(UTF_8))
        finally out.close()
        true
      }
    }
  }

  /** The append-mode `foreachBatch` writer [[landingSink]] and
    * [[summarySink]] share: checkpointed at `checkpoint`, each
    * micro-batch handed to `apply` with its batch id.
    */
  private def appendBatches(df: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId)
      }

  /** Parquet sink into a lake layer path, checkpointed; exactly-once via
    * the file-sink commit log. Run it with [[runAvailableNow]], or start
    * it under a trigger of your own.
    */
  def parquetSink(
      df: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)

  /** One-shot incremental run: process exactly the data available now and
    * stop — the scheduler-free equivalent of the reference's incremental
    * load flag, and the one way the streaming declarations run a stream.
    * Starts `writer` under the AvailableNow trigger, which ends with a
    * no-data micro-batch (where watermark-finalized state emits), awaits
    * termination, and returns the stopped query for its progress.
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
