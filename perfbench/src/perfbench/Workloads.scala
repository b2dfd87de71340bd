package perfbench

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.JsonlSource
import graft.lake.{Layer, Metastore, PartitionDiscovery, Retention, TableWriter}
import graft.pipeline.{IncrementalAgg, Scd2, TableLoad}

/** A benchmark workload: a closed loop of cycles, one client. */
trait Workload {
  /** Set-up work the workload needs before its first (warm) cycle. */
  def setup(): Unit
  /** Untimed preparation of cycle `k` (its input, its expected output). */
  def prepare(k: Int): Unit = ()
  /** The cycle's jobs, in an order drawn from `rng`. */
  def cycle(k: Int, rng: Random): Unit
  /** Data files live in the lake after cycle `k`. */
  def filesLive(): Long = 0L
}

object Workloads {
  val Names: Seq[String] = Seq("etl_batch", "stream_drain")

  def apply(name: String, h: Harness, data: String, work: String,
      seed: Long): Workload = name match {
    case "etl_batch"    => new EtlBatch(h, data, work, seed)
    case "stream_drain" => new StreamDrain(h, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Short relational and lake-backed rows run in every etl_batch cycle. */
  val EtlRows: Seq[String] = Seq(
    "q01_agg", "q04_join_agg", "q05_semi_join", "q06_anti_join",
    "q07_window_rank", "q08_window_running", "q13_explode_json",
    "q16_normalize_columns", "q38_scd2_merge", "q39_cdc_apply",
    "q43_zorder", "q50_unpivot", "q54_fuzzy_join", "q96_d4_diversify")

  val StreamRows: Seq[String] = Seq(
    "s5_stream_windowed_agg", "s6_stream_sessionize", "s9_stream_funnel",
    "s14_stream_exact_dedup")
}

/** stream_drain: each cycle runs each of [[Workloads.StreamRows]]
  * (`SparkEntry.queries`) once, in an order drawn from the seed. Each row
  * drains a staged backlog on fresh checkpoints; its jobs are the drain's
  * micro-batches (the span of a drain carries its triggers).
  */
final class StreamDrain(h: Harness, data: String) extends Workload {
  def setup(): Unit = ()

  def cycle(k: Int, rng: Random): Unit =
    rng.shuffle(Workloads.StreamRows).foreach { q =>
      h.digestJob("stream", q)(SparkEntry.queries(q)(h.spark, data))
    }
}

/** etl_batch: each cycle is one run date of the layered lake.
  *
  * The date's seeded raw events land as a JSONL feed (untimed, before the
  * cycle). The cycle ingests it (`JsonlSource`), loads it raw → clean →
  * enrich → dw (`TableLoad.run`), merges the user dimension
  * (`Scd2.merge`), writes and rolls up the incremental summary
  * (`IncrementalAgg`), expires dates older than the rolling window
  * (`Retention.expirePartitions`) and lists what is live
  * (`PartitionDiscovery`). The load chain and [[Workloads.EtlRows]] run in
  * an order drawn from the seed. Each date's dw summary is checked against
  * a plain Spark SQL recomputation over the generated events.
  */
final class EtlBatch(h: Harness, data: String, work: String, seed: Long)
    extends Workload {
  import EtlBatch._

  private val spark = h.spark
  private val lake = Metastore(s"file:$work/lake")
  private def path(layer: Layer, table: String) = lake.tablePath(layer, Source, table)
  private val rawPath = path(Layer.Raw, "events_raw")
  private val cleanPath = path(Layer.Clean, "events_clean")
  private val enrichPath = path(Layer.Enrich, "events_enriched")
  private val dwPath = path(Layer.Dw, "daily_summary")
  private val summaryPath = path(Layer.Dw, "event_summary")
  private val dimPaths = Seq(path(Layer.Dw, "user_dim_a"), path(Layer.Dw, "user_dim_b"))
  private val partitioned = Seq(rawPath, cleanPath, enrichPath, dwPath, summaryPath)
  /** The dimension version the last merge wrote; the other copy is the
    * superseded one it read. */
  private var currentDim = dimPaths.head
  private var expected = ""
  private var expectedClean = 0L

  private def date(k: Int): LocalDate = FirstDay.plusDays(k.toLong)
  private def feedPath(k: Int) = s"$work/feed/dt=${date(k)}"

  def setup(): Unit = {
    spark.read.parquet(s"$data/customer.parquet").createOrReplaceTempView("customer")
    spark.read.parquet(s"$data/nation.parquet").createOrReplaceTempView("nation")
    // every user starts with one open version, so the dimension holds
    // `Users` current rows from the first cycle on and only its closed
    // history (bounded by the retention window) changes
    spark.range(Users).selectExpr("id AS user_id",
      "CAST(NULL AS STRING) AS last_event_type", "CAST(0 AS BIGINT) AS n_events",
      s"DATE '${FirstDay.minusDays(1)}' AS valid_from", "CAST(NULL AS DATE) AS valid_to",
      "true AS is_current")
      .write.mode("overwrite").parquet(dimPaths.head)
  }

  /** The date's feed: `EventsPerDate` events, a pure function of (seed, k). */
  private def generated(k: Int): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(k), lit(salt))
    val day0 = date(k).toEpochDay * 86400L
    spark.range(0, EventsPerDate, 1, 4).select(
      (lit(k.toLong * EventsPerDate) + col("id")).as("event_id"),
      date_format(timestamp_seconds(lit(day0) + pmod(h(1), lit(86400L))),
        "yyyy-MM-dd HH:mm:ss").as("ts"),
      pmod(h(2), lit(Users)).as("user_id"),
      element_at(typedLit(EventTypes), (pmod(h(3), lit(EventTypes.size.toLong)) + 1)
        .cast("int")).as("event_type"),
      (pmod(h(4), lit(100000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  override def prepare(k: Int): Unit = {
    val g = generated(k)
    g.write.mode("overwrite").json(feedPath(k))
    g.createOrReplaceTempView("bench_expected_feed")
    val exp = spark.sql(
      s"""SELECT lower(f.event_type) AS event_type, cu.c_mktsegment AS segment,
         |  count(*) AS n_events, floor(sum(f.value) * 1e2 + 0.5) / 1e2 AS total_value,
         |  count(DISTINCT f.user_id) AS users,
         |  max(CAST(get_json_object(f.props, '$$.k') AS INT)) AS max_prop_k
         |FROM bench_expected_feed f
         |JOIN customer cu ON cu.c_custkey = f.user_id
         |JOIN nation n ON n.n_nationkey = cu.c_nationkey
         |WHERE f.value > 1.0
         |GROUP BY lower(f.event_type), cu.c_mktsegment""".stripMargin)
    expected = Digest.of(exp)
    expectedClean = g.filter(col("value") > 1.0).count()
  }

  def cycle(k: Int, rng: Random): Unit = {
    val units: Seq[() => Unit] = (() => loadChain(k)) +:
      Workloads.EtlRows.map(q => () =>
        h.digestJob("entry", q)(SparkEntry.queries(q)(spark, data)))
    rng.shuffle(units).foreach(_())
  }

  private def load(k: Int, kind: String, table: String, layer: Layer,
      query: String): Boolean =
    h.job("load", kind) {
      TableLoad.run(spark, lake, TableLoad.Spec(
        source = Source, table = table, query = query, targetLayer = layer,
        partitions = Seq("dt"), runDate = Some(date(k)), incremental = true))
    }.isDefined

  private def loadChain(k: Int): Unit = {
    val d = date(k)
    val dt = d.toString
    val ok = scala.util.Try(h.span("ingest", "ingest.read", job = false) {
      JsonlSource.read(spark, feedPath(k)).createOrReplaceTempView("bench_feed")
    }).isSuccess
    h.cycle.inputBytes = h.untimed(partFiles(new java.io.File(feedPath(k))).map(_.length).sum)
    val raw = lake.datalakeDatabase(Source, Layer.Raw)
    val clean = lake.datalakeDatabase(Source, Layer.Clean)
    val enrich = lake.datalakeDatabase(Source, Layer.Enrich)
    val loaded = ok &&
      load(k, "load.raw", "events_raw", Layer.Raw,
        s"""SELECT event_id, ts, user_id, event_type, value, props, '$dt' AS dt
           |FROM bench_feed""".stripMargin) &&
      load(k, "load.clean", "events_clean", Layer.Clean,
        s"""SELECT CAST(event_id AS BIGINT) AS event_id, CAST(ts AS TIMESTAMP) AS ts,
           |  CAST(user_id AS BIGINT) AS user_id, lower(event_type) AS event_type,
           |  CAST(value AS DOUBLE) AS value,
           |  CAST(get_json_object(props, '$$.k') AS INT) AS prop_k, dt
           |FROM $raw.events_raw WHERE dt = '$dt' AND CAST(value AS DOUBLE) > 1.0""".stripMargin) &&
      load(k, "load.enrich", "events_enriched", Layer.Enrich,
        s"""SELECT c.event_id, c.ts, c.user_id, c.event_type, c.value, c.prop_k,
           |  cu.c_mktsegment AS segment, n.n_name AS nation, c.dt
           |FROM $clean.events_clean c
           |JOIN customer cu ON cu.c_custkey = c.user_id
           |JOIN nation n ON n.n_nationkey = cu.c_nationkey
           |WHERE c.dt = '$dt'""".stripMargin) &&
      load(k, "load.dw", "daily_summary", Layer.Dw,
        s"""SELECT event_type, segment, count(*) AS n_events,
           |  floor(sum(value) * 1e2 + 0.5) / 1e2 AS total_value,
           |  count(DISTINCT user_id) AS users, max(prop_k) AS max_prop_k, dt
           |FROM $enrich.events_enriched WHERE dt = '$dt'
           |GROUP BY event_type, segment, dt""".stripMargin)
    if (!loaded) {
      if (!ok) h.fail("ingest.read", "feed read failed")
      return
    }
    h.untimed(verifyLoads(dt))
    val slice = spark.read.parquet(enrichPath).where(col("dt") === dt)
    val cutoff = d.minusDays((Window - 1).toLong).toString
    h.span("expire", "lake.expire", job = false) {
      partitioned.foreach(p => Retention.expirePartitions(spark, p, "dt", cutoff))
    }

    val (from, to) = (dimPaths(k % 2), dimPaths((k + 1) % 2))
    h.job("scd2", "scd2.merge") {
      val updates = slice.groupBy("user_id").agg(
        max_by(col("event_type"), col("ts")).as("last_event_type"),
        count(lit(1)).as("n_events"))
      val merged = Scd2.merge(spark.read.parquet(from), updates, Seq("user_id"),
        lit(dt))
        .where(col("is_current") || col("valid_to") >= lit(cutoff).cast("date"))
      TableWriter.write(merged, TableWriter.Spec(layer = Layer.Dw, path = to))
    }.foreach(_ => currentDim = to)
    h.job("agg", "agg.summary") {
      val summary = IncrementalAgg.summarize(slice, Seq("event_type", "segment"),
        sumCols = Seq("value"), rangeCols = Seq("value"), ndvCols = Seq("user_id"))
        .withColumn("dt", lit(dt))
      TableWriter.write(summary, TableWriter.Spec(layer = Layer.Dw,
        path = summaryPath, partitionBy = Seq("dt"),
        dynamicPartitionOverwrite = true))
    }
    h.job("agg", "agg.rollup") {
      IncrementalAgg.estimate(
        IncrementalAgg.merge(Seq(spark.read.parquet(summaryPath)),
          Seq("event_type", "segment"), sumCols = Seq("value"),
          rangeCols = Seq("value"), ndvCols = Seq("user_id")),
        Seq("user_id")).collect()
    }
    val live = h.span("discover", "lake.discover", job = false) {
      partitioned.map(p => PartitionDiscovery.discoverPartitionValues(spark, p))
    }
    val want = (0 until Window).map(i => d.minusDays(i.toLong).toString).filter(
      _ >= FirstDay.toString).sorted
    live.zip(partitioned).foreach { case (vs, p) =>
      val got = vs.filter(_.key == "dt").map(_.value).sorted
      if (got != want) h.fail("lake.discover", s"$p holds dates $got, expected $want")
    }
  }

  /** The date's lake loads against the plain recomputation. */
  private def verifyLoads(dt: String): Unit = {
    val dw = spark.read.parquet(dwPath).where(col("dt") === dt)
      .select("event_type", "segment", "n_events", "total_value", "users", "max_prop_k")
    val got = Digest.of(dw)
    if (got != expected) h.fail("load.dw", s"dw digest $got, recomputation $expected")
    val cleanRows = spark.read.parquet(cleanPath).where(col("dt") === dt).count()
    if (cleanRows != expectedClean)
      h.fail("load.clean", s"clean holds $cleanRows rows, recomputation $expectedClean")
  }

  /** Files of the dated tables and of the current dimension version. */
  override def filesLive(): Long =
    (partitioned :+ currentDim).map(p =>
      partFiles(new java.io.File(p.stripPrefix("file:"))).size).sum

  private def partFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(partFiles)
    else if (f.getName.startsWith("part-")) Seq(f) else Nil
}

object EtlBatch {
  val Source = "bench"
  val FirstDay: LocalDate = LocalDate.of(2024, 2, 1)
  /** Run dates kept live by retention. Expiry runs right after the dw
    * load, so from the first timed cycle on every later step sees the same
    * number of live dates.
    */
  val Window = 2
  val EventsPerDate = 5000L
  /** User ids span the sf0.1 customer keys, with a few unmatched ones. */
  val Users = 16000L
  val EventTypes: Seq[String] = Seq("Click", "View", "Signup", "Purchase", "Share")
}
