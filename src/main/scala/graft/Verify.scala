package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Built to survive a timeout with partial results intact (a throttled
  * host once turned ~1 s queries into ~50 s ones and zeroed a whole
  * round): `oracle_sql.json` is written FIRST — it is pure metadata, and
  * the driver's compare needs it to count ANY completed query — and each
  * query's parquet lands in `outDir` the moment it finishes, so killing
  * the run at any point preserves everything measured so far. Inputs are
  * staged to tmpfs and each result is written to tmpfs first, then copied
  * out, so only that final copy touches the (possibly throttled) disk.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val data = Scratch.stage(sfDir)
    // result parquet goes to tmpfs, then one plain file copy into outDir —
    // Spark's multi-step commit protocol (temp dirs, renames, many small
    // writes) never touches the throttled disk
    val scratchOut = Scratch.fastLocalDir()
      .map(d => new java.io.File(d, "verify-out").getPath)
    def emit(name: String, write: String => Unit): Unit = scratchOut match {
      case None => write(s"$outDir/$name")
      case Some(so) =>
        val tmp = new java.io.File(so, name)
        write(tmp.getPath)
        val dst = new java.io.File(outDir, name)
        org.apache.commons.io.FileUtils.deleteQuietly(dst)
        org.apache.commons.io.FileUtils.copyDirectory(tmp, dst)
    }
    // optional comma-separated query-name filter for focused re-runs
    // (the driver never sets it, so its runs always cover everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        emit(name, path => fn(spark, data).coalesce(1).write
          .mode("overwrite").parquet(path))
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators may persist intermediates; drop them between queries
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
