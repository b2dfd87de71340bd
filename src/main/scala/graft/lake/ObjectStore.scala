package graft.lake

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** S5 — single-object put/get (SURVEY.md §2.1).
  *
  * Parity: the reference's side-channel JSON put (etl_projects/base/loaders/
  * s3_loader.py:43-50 — `put_object(Bucket, Key, Body=json.dumps(dict))`)
  * used for run manifests and small control documents, NOT table data.
  * Implemented over the Hadoop FileSystem API so the same call works on
  * local FS, HDFS, or an object store (s3a://) without code changes.
  *
  * Driver-side by design: these are O(1)-sized control objects; table data
  * always goes through [[TableWriter]].
  */
object ObjectStore {

  /** Write `body` (pre-serialized JSON) as one object at `path`,
    * overwriting. */
  def putJsonObject(spark: SparkSession, path: String, body: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Serialize a flat string map as a JSON object and put it. Key order is
    * the map's iteration order; values are JSON-escaped.
    */
  def putJsonObject(
      spark: SparkSession, path: String, fields: Map[String, String]): Unit =
    putJsonObject(spark, path, toJson(fields))

  /** Read one whole object back as a string. */
  def getObject(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** `{"k": "v", "k2": "v2"}`: Jackson's escaping, a space after each
    * colon and comma. */
  private val spaced = new ObjectMapper().writer(new MinimalPrettyPrinter() {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  })

  private def toJson(fields: Map[String, String]): String =
    spaced.writeValueAsString(fields.asJava)
}
