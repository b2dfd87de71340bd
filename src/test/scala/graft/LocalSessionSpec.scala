package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Drift gate for the local session posture: one factory
  * ([[Sessions.local]]) builds every runner's session, and the suite's
  * shared session carries that posture.
  */
class LocalSessionSpec extends SparkSpec {

  test("SparkSession.builder() appears in src/main only in Sessions.scala") {
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val offenders = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "Sessions.scala")
      .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .contains("SparkSession.builder()"))
      .map(root.relativize(_: Path).toString).toList
    finally stream.close()
    assert(offenders.isEmpty,
      s"build local sessions with Sessions.local, not in $offenders")
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
