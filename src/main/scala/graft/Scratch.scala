package graft

/** Local runner posture: fork-free local file settings ([[configure]])
  * and fast-scratch placement.
  *
  * Spark's `spark.local.dir` holds shuffle files, spill, and broadcast
  * scratch — all ephemeral, rewritten constantly, and never read after the
  * job. On a production cluster this lives on local NVMe for exactly that
  * reason; in this sandbox the root disk's write path can degrade to tens
  * of MB/s (host I/O throttling), which turns every shuffle write into the
  * bottleneck while the CPUs idle. A RAM-backed tmpfs (`/dev/shm`) is the
  * local-NVMe analogue here: at bench scale (sf0.1, sub-GB) shuffle
  * scratch is far smaller than the mount, so placing it there measures the
  * engine rather than the host's disk weather.
  *
  * Beyond `spark.local.dir`, [[configure]] also points the SQL warehouse
  * and Derby metastore scratch at tmpfs, and [[stage]] copies the (≤17 MB)
  * input tables there, so in a throttled window only the final artifact
  * write touches the slow disk.
  *
  * Controls: `SPARK_GRAFT_LOCAL_DIR=<path>` pins scratch to a specific
  * directory (e.g. a real disk when tmpfs is too small); set it to `disk`
  * (or empty) to disable tmpfs placement entirely. tmpfs is RAM-backed, so
  * auto-placement additionally requires [[MinFreeBytes]] of headroom —
  * a run that would exhaust `/dev/shm` (often capped at 50% RAM) must not
  * lose its scratch space mid-shuffle.
  */
object Scratch {

  /** Auto-placement headroom bound: sf0.1 shuffle scratch is sub-GB, so
    * 8 GiB free means tmpfs cannot plausibly fill mid-run; anything
    * tighter falls back to the normal disk default.
    */
  final val MinFreeBytes: Long = 8L << 30

  private def shmRoot(): Option[java.io.File] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinFreeBytes)
      Some(shm)
    else None
  }

  /** Scratch root honoring the `SPARK_GRAFT_LOCAL_DIR` override:
    * explicit path → that path; `disk`/empty → None (Spark defaults);
    * unset → `/dev/shm/graft-scratch` when tmpfs is usable.
    */
  def fastLocalDir(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some("") | Some("disk") => None
      case Some(path)              => Some(path)
      case None =>
        shmRoot().map(new java.io.File(_, "graft-scratch").getPath)
    }

  /** The file and scratch half of the local runner posture: two fork-free
    * file settings, then fast scratch placement. [[Sessions.local]] (the
    * session of Bench, Verify, Soak, Plans, Prof and the test suite) and
    * the benchmark's own session apply it.
    *
    * Without libhadoop, Hadoop's local file system forks a `chmod`
    * process for every file and directory it creates (data, `.crc` and
    * temp files), and the FileContext API behind Spark's default
    * checkpoint manager forks `readlink` on every status check and
    * rename. A JFR profile of six s5 drains counted 3 285 process starts
    * (2 400 `readlink`, 873 `chmod`), about 550 per drain, paid several
    * times per trigger: offset log, commit log, each state-store delta
    * and the file-sink log. So, whatever the placement:
    *
    *  - `spark.hadoop.fs.file.impl` = [[lake.NioLocalFileSystem]], which
    *    sets the same mode bits in-process (without it, Hadoop's service
    *    loader picks hive-exec's `ProxyLocalFileSystem`, a filter over
    *    the same stock `LocalFileSystem`);
    *  - `spark.sql.streaming.checkpointFileManagerClass` = Spark's
    *    `FileSystemBasedCheckpointFileManager`, which goes through that
    *    file system. On `file:` it, like the default manager, writes a
    *    temp file and renames it into place.
    *
    * Spark's checkpoint file checksums, state-store commit validation,
    * the `.crc` ChecksumFileSystem and checkpoint placement all stay as
    * they are. A `file:` FileSystem cached before this call (Hadoop caches
    * one per scheme and user, whatever its conf) is evicted so the
    * session's first lookup instantiates the configured class.
    *
    * Placement then points every ephemeral surface at fast scratch:
    * shuffle/spill (`spark.local.dir`), the SQL warehouse, Derby's
    * metastore home, and `java.io.tmpdir` (streaming checkpoints and temp
    * files the specs and sinks create via `File.createTempFile`).
    */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder = {
    evictStockLocalFs()
    val forkFree = b
      .config("spark.hadoop.fs.file.impl",
        classOf[lake.NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[org.apache.spark.sql.execution.streaming.checkpointing
          .FileSystemBasedCheckpointFileManager].getName)
    fastLocalDir().fold(forkFree) { d =>
      val root = new java.io.File(d)
      val tmp = new java.io.File(root, "tmp")
      tmp.mkdirs()
      System.setProperty("derby.system.home", new java.io.File(root, "derby").getPath)
      System.setProperty("java.io.tmpdir", tmp.getPath)
      forkFree.config("spark.local.dir", d)
        .config("spark.sql.warehouse.dir",
          new java.io.File(root, "warehouse").toURI.toString)
    }
  }

  /** Drop a cached `file:` FileSystem of any other class from Hadoop's
    * cache. Closing a local file system only unregisters it (and runs its
    * delete-on-exit list); a holder of the old instance can keep using it.
    */
  private def evictStockLocalFs(): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    if (!fs.isInstanceOf[lake.NioLocalFileSystem]) fs.close()
  }

  /** Stage a parquet table directory onto fast scratch and return the
    * staged path, so repeated scans read RAM instead of the throttled
    * disk. Copies are length-checked and idempotent (a re-run with the
    * same data is a no-op); any failure falls back to the original path —
    * staging is an optimization, never a correctness dependency.
    */
  def stage(srcDir: String): String =
    fastLocalDir().fold(srcDir) { d =>
      val src = new java.io.File(srcDir)
      if (!src.isDirectory) srcDir
      else
        try {
          val dst = new java.io.File(new java.io.File(d, "data"), src.getName)
          copyTree(src, dst)
          dst.getPath
        } catch {
          case e: java.io.IOException =>
            System.err.println(s"[scratch] staging $srcDir failed (${e.getMessage}); reading in place")
            srcDir
        }
    }

  /** A NAMED ephemeral directory for queries that must round-trip
    * through a persisted artifact mid-plan (x13's index store). Fixed
    * path per (process, name) — every evaluation IN THIS JVM overwrites
    * the same tree (the writers use `mode("overwrite")`), so repeated
    * bench/verify/spec runs leave at most one residue tree per process,
    * and a JVM shutdown hook removes even that. The path embeds the pid
    * so two JVMs (a `sbt test` beside a `graft.Verify`, or two
    * checkouts on one host) can never overwrite each other's live trees
    * or shutdown-delete under a survivor — the safety the old
    * per-evaluation `createTempDirectory` had, without its
    * accumulation. Placed under the fast scratch root when enabled
    * (tmpfs — RAM-backed, host-reset-wiped) else `java.io.tmpdir`, so
    * even a kill -9's residue is bounded at one tree per killed
    * process on a volatile mount.
    */
  def ephemeralDir(name: String): String = {
    val root = fastLocalDir().getOrElse(System.getProperty("java.io.tmpdir"))
    val ephRoot = new java.io.File(root, "ephemeral")
    val pidRoot = new java.io.File(ephRoot,
      s"pid-${ProcessHandle.current().pid()}")
    val dir = new java.io.File(pidRoot, name)
    dir.mkdirs()
    ephemeralRegistered.synchronized {
      if (ephemeralRegistered.add(pidRoot.getPath)) {
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          deleteTree(pidRoot)))
        // sweep siblings left by KILLED processes (their shutdown hooks
        // never ran): a pid-N dir whose pid is dead is garbage — and on
        // a disk-backed scratch root (the SPARK_GRAFT_LOCAL_DIR escape
        // hatch) killed runs would otherwise accumulate full index
        // trees. A recycled pid that belongs to a LIVE process is
        // skipped, which can only ever keep a dir one sweep longer.
        sweepDeadPidDirs(ephRoot, pidRoot.getName)
      }
    }
    dir.getPath
  }

  private def sweepDeadPidDirs(
      ephRoot: java.io.File, self: String): Unit =
    try {
      Option(ephRoot.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory && f.getName.startsWith("pid-") &&
            f.getName != self) {
          val alive = f.getName.stripPrefix("pid-").toLongOption
            .exists(p => ProcessHandle.of(p).isPresent)
          if (!alive) deleteTree(f)
        }
      }
    } catch { case _: Exception => () } // sweeping is best-effort only

  private val ephemeralRegistered =
    scala.collection.mutable.HashSet.empty[String]

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles() match {
      case null => ()
      case kids => kids.foreach(deleteTree)
    }
    f.delete(): Unit
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) copyTree(f, t)
      else if (!(t.isFile && t.length() == f.length()))
        java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
