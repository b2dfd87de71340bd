package graft
import java.nio.file.Paths
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
    Runner.write(Paths.get(outDir, "oracle_sql.json"),
      Runner.record(SparkEntry.oracleSql.toSeq: _*))

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
    // between queries only the cache is dropped: nothing here is timed
    // against anything, so Bench's GC settle would only slow the run
    Runner.selected.foreach { case (name, fn) =>
      val p = Runner.pass(spark, _.catalog.clearCache())(emit(name,
        path => fn(spark, data).coalesce(1).write.mode("overwrite").parquet(path)))
      p.result match {
        case Right(_) =>
          System.err.println(f"[verify] $name ok in ${p.seconds}%.1fs")
        case Left(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
