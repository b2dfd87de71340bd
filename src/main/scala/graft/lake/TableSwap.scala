package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The crash-recoverable whole-table replace every rewrite-in-place here
  * goes through: the streaming CDC fold and summary fold
  * ([[graft.streaming.EventStream.cdcSink]],
  * [[graft.streaming.EventStream.summarySink]]) and partition compaction
  * ([[Retention.compactPartition]]).
  *
  * The new contents land beside the table as `path._next`; then the
  * current table is renamed to `path._bak`, `._next` to `path`, and
  * `._bak` is dropped. A crash can only leave `path` missing between the
  * two renames, when `._bak` is the complete previous table, so every
  * replace first recovers that state. On an object store you would land
  * each snapshot under a new prefix and flip a pointer instead; a
  * transactional table format would make the swap atomic.
  */
object TableSwap {

  /** Replace the table at `path` with what `write` puts at the `._next`
    * path it is handed, and return `write`'s result. `write` runs after
    * the recovery, so it may read the current table (absent on first
    * use). A `write` that leaves no `._next` declines: the table stays as
    * it is (the summary fold's applied-id fence). A `write` that throws
    * leaves the current table in place. Every rename is `require`d, and a
    * failure names `caller`.
    */
  def replace[T](spark: SparkSession, path: String, caller: String)(
      write: (FileSystem, Path) => T): T = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    val next = new Path(path + "._next")
    val bak = new Path(path + "._bak")
    if (!fs.exists(cur) && fs.exists(bak))
      require(fs.rename(bak, cur), s"$caller: recovery rename $bak -> $cur failed")
    fs.delete(next, true)
    val result = write(fs, next)
    if (fs.exists(next)) {
      fs.delete(bak, true)
      if (fs.exists(cur))
        require(fs.rename(cur, bak), s"$caller: rename $cur -> $bak failed")
      require(fs.rename(next, cur), s"$caller: rename $next -> $cur failed")
      fs.delete(bak, true)
    }
    result
  }
}
