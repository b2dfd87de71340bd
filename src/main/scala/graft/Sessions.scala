package graft

import org.apache.spark.sql.SparkSession

/** Production session factory: the config posture this library assumes at
  * cluster scale, stated once as code instead of scattered through runner
  * scripts. Every knob is a documented scale decision:
  *
  *  - **AQE on, with skew-join and partition coalescing**: runtime
  *    re-planning fixes what static stats get wrong at 100 TB — oversized
  *    shuffle partitions split (skew), undersized ones merge (tiny-task
  *    overhead). Our explicit operators ([[ops.SkewJoin]], salting)
  *    cover the plans AQE can't see; AQE covers the rest.
  *  - **shuffle partitions sized from data, not defaulted**:
  *    [[shufflePartitionsFor]] targets ~[[TargetPartitionBytes]] per
  *    task — the classic 200 default is 100× too small for a 10 TB
  *    shuffle and 10× too big for a laptop test.
  *  - **broadcast threshold raised to 64 MB**: a 1000-executor cluster
  *    amortizes a bigger broadcast far better than it absorbs a shuffle
  *    of the fact side; dimensions up to tens of MB should never shuffle.
  *  - **parquet scans at 128 MB splits, dictionary + predicate pushdown
  *    left on**: the defaults are right — stated here so nobody "tunes"
  *    them off.
  *  - **graft's SQL functions installed** ([[GraftExtensions]]) so the
  *    whole operator surface is reachable from `spark.sql`.
  *
  * The local runners (Bench, Verify, Soak, Plans, Prof) and the test
  * suite start through [[local]] instead: the same semantics at laptop
  * scale, with [[Scratch.configure]]'s fork-free, fast-scratch placement.
  */
object Sessions {

  /** ~target bytes of (post-compression) shuffle data per task. 128 MB
    * tracks `spark.sql.files.maxPartitionBytes` so scan and shuffle
    * tasks stay comparably sized.
    */
  final val TargetPartitionBytes: Long = 128L << 20

  /** Shuffle partition count for an expected shuffle payload, clamped to
    * [2 × cores, 4 × cores × executors-worth] bounds the caller supplies
    * via `maxPartitions`. Pure arithmetic, usable in job planning.
    */
  def shufflePartitionsFor(expectedShuffleBytes: Long,
      minPartitions: Int = 64, maxPartitions: Int = 16384): Int = {
    require(minPartitions >= 1 && maxPartitions >= minPartitions,
      s"bad partition bounds [$minPartitions, $maxPartitions]")
    val byBytes = (expectedShuffleBytes.max(1L) / TargetPartitionBytes) + 1
    byBytes.min(maxPartitions.toLong).max(minPartitions.toLong).toInt
  }

  /** Spark's RocksDB state-store provider (shipped in spark-sql; the
    * rocksdbjni native bundle rides in Spark's jars). The default
    * HDFS-backed provider keeps EVERY state row on the executor HEAP —
    * fine for the O(100)-group test streams, the first thing a real
    * deployment hits at production state sizes (sessionization over
    * millions of live users, a multi-hour interval-join buffer): state
    * competes with execution memory and every snapshot rewrites the
    * full map. RocksDB keeps state off-heap/on-disk with incremental
    * changelog checkpoints, bounding heap by the block cache, not the
    * key count. Output is provider-invariant
    * (`StateStoreProviderSpec` proves it per stateful shape class) —
    * this is purely a capacity/footprint decision.
    */
  final val RocksDbStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch a session onto [[RocksDbStateStoreProvider]] for the stateful
    * streaming queries started on it, with changelog checkpointing
    * (per-batch deltas instead of full RocksDB snapshots: the production
    * posture for large state at short trigger intervals). The provider
    * class is read per QUERY at stream start, so on an isolated child
    * session the choice is scoped to the streams declared there (the
    * [[SparkEntry.isolatedStreamSession]] pattern). Returns the same
    * session for chaining.
    */
  def useRocksDbStateStore(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbStateStoreProvider)
    s.conf.set("spark.sql.streaming.stateStore.rocksdb."
      + "changelogCheckpointing.enabled", "true")
    s
  }

  /** The production builder. `master` is left to spark-submit unless the
    * caller pins one (tests pass `local[n]`).
    */
  def builder(appName: String,
      shufflePartitions: Int = 2048): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes",
        TargetPartitionBytes.toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  /** Core count of the local runners: `SPARK_GRAFT_CPUS`, else the host's. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local runner session: `local[cpus]` with one shuffle partition
    * per core, UI off, UTC session time, a codegen cache large enough that
    * a run over the whole query surface never evicts a query's generated
    * classes before its timed pass (the default 100 entries does, which
    * re-charges Janino compilation to that pass), then
    * [[Scratch.configure]]. Callers set only their log level.
    */
  def local(appName: String, cpus: Int = localCpus): SparkSession =
    Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000"))
      .getOrCreate()
}
