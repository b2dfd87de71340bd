package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Drift gate for the one-way-to-do-it helpers: each pattern below may
  * appear in `src/main/scala` only in the one file that owns it — the
  * session factory ([[Sessions.local]]), the stream drain
  * ([[streaming.EventStream.runAvailableNow]]), the ordered-replay
  * file source and run dir ([[SparkEntry.orderedFileStream]],
  * [[SparkEntry.streamRunDir]]), the runners' atomic record writer
  * ([[Runner.write]]), the table swap ([[lake.TableSwap.replace]]), the
  * streaming sinks' `foreachBatch` writers ([[streaming.EventStream]])
  * and each runner option's one read. A frame or RDD is persisted only
  * through [[Cached]], a parquet path is read only through [[Parquet.read]],
  * and the library collects to the driver only through [[Driver.collect]]
  * (those rows match code, not comments). Also: the
  * suite's shared session carries the local runner posture.
  */
class LocalSessionSpec extends SparkSpec {

  /** The runner options: each name is read, as a string literal, in its
    * owner only.
    */
  private val options = Seq(
    "SPARK_GRAFT_SF_DIR" -> "Runner.scala",
    "SPARK_GRAFT_ONLY" -> "Runner.scala",
    "SPARK_GRAFT_BENCH_OUT" -> "Runner.scala",
    "SPARK_GRAFT_LOCAL_DIR" -> "Scratch.scala",
    "SPARK_GRAFT_CPUS" -> "Sessions.scala")

  private val owners = Seq(
    "SparkSession.builder()" -> "Sessions.scala",
    "Trigger.AvailableNow()" -> "EventStream.scala",
    "\"maxFilesPerTrigger\"" -> "SparkEntry.scala",
    "streamRuns.incrementAndGet" -> "SparkEntry.scala",
    "ATOMIC_MOVE" -> "Runner.scala",
    "\"._bak\"" -> "TableSwap.scala",
    "foreachBatch" -> "EventStream.scala") ++
    options.map { case (name, owner) => s"\"$name\"" -> owner }

  /** Code-only rows: the pattern is matched against each file with its
    * comments stripped. On the tree before [[Cached]] existed, the persist
    * row flagged 18 sites in 11 files and the cache row 2 in Similarity;
    * on the tree before [[Parquet]], the parquet-read row flagged 48 sites
    * in 11 files.
    */
  private val codeOwners = Seq(
    """(?<!Cached)\.persist\(""" -> "Cached.scala",
    """\.cache\(\)""" -> "Cached.scala",
    """\.read\.parquet\(""" -> "Parquet.scala")

  /** Code-only rows over the library packages only: the runners and the
    * row declarations in `graft` itself are out of their scope. On the
    * tree before [[Driver]] existed, the collect row flagged 21 sites in
    * 12 files.
    */
  private val libraryPackages =
    Set("ext", "ops", "pipeline", "lake", "streaming", "functions", "ingest")
  private val libraryOwners = Seq("""\.collect\(\)""" -> "Driver.scala")

  private val Comment = """(?s)/\*.*?\*/|//[^\n]*""".r

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p: Path).toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toList
    finally stream.close()
  }

  for ((pattern, owner) <- owners)
    test(s"$pattern appears in src/main only in $owner") {
      val offenders = sources.collect {
        case (path, text) if text.contains(pattern) &&
          Paths.get(path).getFileName.toString != owner => path
      }
      assert(offenders.isEmpty, s"$pattern belongs in $owner, not in $offenders")
    }

  for ((pattern, owner) <- codeOwners)
    test(s"code matching $pattern appears in src/main only in $owner") {
      val offenders = sources.collect {
        case (path, text) if pattern.r.findFirstIn(Comment.replaceAllIn(
            text, "")).isDefined &&
          Paths.get(path).getFileName.toString != owner => path
      }
      assert(offenders.isEmpty, s"$pattern belongs in $owner, not in $offenders")
    }

  for ((pattern, owner) <- libraryOwners)
    test(s"code matching $pattern appears in the library only in $owner") {
      val offenders = sources.collect {
        case (path, text) if libraryPackages(Paths.get(path).getName(1)
            .toString) && pattern.r.findFirstIn(Comment.replaceAllIn(
              text, "")).isDefined => path
      }
      assert(offenders.isEmpty, s"$pattern belongs in $owner, not in $offenders")
    }

  test("src/main reads only the listed options, each at one site") {
    val read = sources.flatMap { case (_, text) =>
      "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r.findAllMatchIn(text).map(_.group(1))
    }
    read.sorted shouldBe options.map(_._1).sorted
  }

  test("the shared test session has the local runner posture") {
    val sc = spark.sparkContext
    sc.master shouldBe "local[4]"
    sc.appName shouldBe "graft-tests"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "5000"
    sc.getConf.get("spark.ui.enabled") shouldBe "false"
    sc.uiWebUrl shouldBe None
    sc.getConf.get("spark.hadoop.fs.file.impl") shouldBe
      classOf[lake.NioLocalFileSystem].getName
    spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") shouldBe
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName
  }
}
