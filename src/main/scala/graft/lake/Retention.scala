package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.PartitionOps._

/** Partition lifecycle for Hive-layout tables: retention expiry and
  * small-file compaction — the two maintenance jobs a 100 TB lake runs
  * nightly so that reads stay bounded by live data, not by history or by
  * file-count overhead.
  *
  * Both operate on one Hive partition directory at a time (`col=value`),
  * so their unit of work — and of failure — is a partition, never the
  * table: expiry is directory deletes driven by a driver-side listing of
  * O(partitions) names (no data read at all), and compaction rewrites one
  * partition's rows through [[TableSwap.replace]], leaving every other
  * partition readable throughout.
  */
object Retention {

  /** Partitions of `tablePath` (one level, `partitionCol=value` layout)
    * whose VALUE is strictly below `cutoff` by string comparison — the
    * correct order for the zero-padded `yyyy-MM-dd`/`yyyyMMdd` partition
    * values the writers here produce. Returns the expired values; with
    * `dryRun = true` nothing is deleted, so the report IS the plan.
    */
  def expirePartitions(
      spark: SparkSession,
      tablePath: String,
      partitionCol: String,
      cutoff: String,
      dryRun: Boolean = false): Seq[String] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = new Path(tablePath)
    if (!fs.exists(root)) return Nil
    val prefix = s"$partitionCol="
    val expired = fs.listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .map(p => (p, p.getName.stripPrefix(prefix)))
      .filter { case (_, v) => v < cutoff }
      .sortBy(_._2)
    if (!dryRun) expired.foreach { case (p, v) =>
      require(fs.delete(p, true), s"retention: delete of $p failed")
    }
    expired.map(_._2).toSeq
  }

  /** Rewrite one partition directory into ~`recordsPerFile`-row files
    * through [[TableSwap.replace]]: the swap is the only moment the
    * partition changes, so a crash at any point leaves either the old or
    * the new complete directory. Returns (filesBefore, filesAfter).
    */
  def compactPartition(
      spark: SparkSession,
      partitionPath: String,
      recordsPerFile: Long): (Int, Int) = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Int = fs.listStatus(new Path(partitionPath))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val before = TableSwap.replace(spark, partitionPath, "compact") {
      (_, next) =>
        val n = dataFiles()
        graft.Parquet.read(spark, partitionPath)
          .optimizePartition(recordsPerFile)
          .write.mode("overwrite").parquet(next.toString)
        n
    }
    (before, dataFiles())
  }

  /** Compaction candidates: partitions of `tablePath` with more than
    * `maxFiles` data files. Driver-side listing only — O(partitions)
    * RPCs, no data read.
    */
  def smallFileReport(
      spark: SparkSession, tablePath: String, maxFiles: Int): Seq[(String, Int)] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = new Path(tablePath)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { s =>
        val n = fs.listStatus(s.getPath)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
        (s.getPath.getName, n)
      }
      .filter(_._2 > maxFiles)
      .sortBy(-_._2)
      .toSeq
  }
}
