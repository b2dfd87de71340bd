package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet reader. A bare `spark.read.parquet(path)` infers the
  * schema from the file footers with a Spark job on every read; [[read]]
  * infers it once per file snapshot and from then on reads with
  * `spark.read.schema(schema).parquet(path)`, which runs no job. This is
  * how a metastore table reads: its schema is resolved when the table is
  * registered, not each time it is read.
  *
  *  - **Snapshot.** An entry is kept per qualified path and per session
  *    parquet confs (every set SQL conf whose key names parquet, such as
  *    `spark.sql.legacy.parquet.nanosAsLong`, which changes the inferred
  *    types). It holds the name, length and modification time of every
  *    file under the path (one `getFileStatus` for a file, a recursive
  *    listing for a directory, hidden files included) and the schema
  *    inferred from them. A read whose listing differs infers again.
  *  - **Miss.** A miss is exactly the inferring read. A path that does not
  *    exist as named (a glob included) is never remembered, so it fails or
  *    expands as a bare read does.
  *  - **Plan.** With a given schema Spark builds the same relation (the
  *    same `HadoopFsRelation`, its data schema `asNullable` either way),
  *    so plans and results do not change.
  *  - **Assumption.** A file rewritten in place with the same name, length
  *    and millisecond mtime is not seen as changed. (Spark's own catalog
  *    relation cache assumes more: it keeps a schema until `REFRESH
  *    TABLE`.)
  */
object Parquet {

  /** Entries the memo keeps, least recently used evicted first. A stream's
    * output is read back from a run dir unique to its evaluation, so
    * without a bound the memo would grow with every drain of a soak.
    */
  final val MaxEntries: Int = 256

  private val memo = new Memo(MaxEntries)

  /** The parquet table or file at `path`, its schema inferred once per
    * file snapshot.
    */
  def read(spark: SparkSession, path: String): DataFrame = memo.read(spark, path)

  private final case class Key(path: String, confs: Seq[(String, String)])
  private final case class Entry(files: Seq[(String, Long, Long)], schema: StructType)

  /** A schema memo holding at most `capacity` entries (LRU). */
  private[graft] final class Memo(capacity: Int) {

    private val entries =
      new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
          this.size > capacity
      }

    def read(spark: SparkSession, path: String): DataFrame =
      snapshot(spark, path) match {
        case None => spark.read.parquet(path)
        case Some((qualified, files)) =>
          val key = Key(qualified, spark.conf.getAll.toSeq
            .filter(_._1.toLowerCase.contains("parquet")).sorted)
          entries.synchronized(Option(entries.get(key))).filter(_.files == files) match {
            case Some(e) => spark.read.schema(e.schema).parquet(path)
            case None =>
              val df = spark.read.parquet(path)
              entries.synchronized(entries.put(key, Entry(files, df.schema)))
              df
          }
      }
  }

  /** The qualified path and its files' (path, length, mtime), sorted; None
    * for a path that does not exist as named.
    */
  private def snapshot(spark: SparkSession,
      path: String): Option[(String, Seq[(String, Long, Long)])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val root = fs.getFileStatus(p)
      val statuses =
        if (!root.isDirectory) Seq(root)
        else {
          val it = fs.listFiles(p, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        }
      Some(fs.makeQualified(p).toString -> statuses
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sorted)
    } catch { case _: FileNotFoundException => None }
  }
}
