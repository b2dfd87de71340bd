package graft.lake

import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** S7 — discover `key=value` partition directories under a table path.
  *
  * Parity: `etl_projects/base/processors/spark/base_spark.py:17-41` — list
  * the table path's child directories, split each name on `=`, URL-decode
  * the value. Uses the Hadoop FileSystem API so the same code runs against
  * local FS, HDFS, or an object store. At scale prefer the catalog
  * (`SHOW PARTITIONS`) over listing: one metastore RPC beats an O(dirs)
  * object-store LIST.
  */
object PartitionDiscovery {

  final case class PartitionValue(key: String, value: String)

  def discoverPartitionValues(
      spark: SparkSession,
      tablePath: String): Seq[PartitionValue] = {
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Nil
    fs.listStatus(path)
      .iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.contains("="))
      .map { name =>
        val Array(k, v) = name.split("=", 2)
        PartitionValue(k, URLDecoder.decode(v, StandardCharsets.UTF_8))
      }
      .toIndexedSeq
      .sortBy(p => (p.key, p.value))
  }

  /** Catalog-backed variant (the 100 TB path). */
  def showPartitions(spark: SparkSession, qualifiedTable: String): Seq[String] = {
    import spark.implicits._
    graft.Driver.collect(spark.sql(s"SHOW PARTITIONS $qualifiedTable").as[String],
      graft.Driver.MaxRows, "PartitionDiscovery.showPartitions (Driver.MaxRows)")
      .toIndexedSeq
  }
}
