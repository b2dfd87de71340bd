package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec

/** The swap's crash paths: a table left only as `._bak` by a crash between
  * the two renames, and a writer that fails before the swap.
  */
class TableSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def values(path: String): Seq[Long] =
    spark.read.parquet(path).as[Long].collect().sorted.toSeq

  test("a table left only as ._bak is recovered, then the new contents apply") {
    val path = Files.createTempDirectory("swap-recover").toString + "/t"
    Seq(1L, 2L).toDF("v").write.parquet(path + "._bak")
    fs.exists(new Path(path)) shouldBe false

    val seen = TableSwap.replace(spark, path, "spec") { (_, next) =>
      val cur = spark.read.parquet(path)
      val rows = cur.count()
      cur.unionByName(Seq(3L).toDF("v")).write.parquet(next.toString)
      rows
    }
    seen shouldBe 2L // the writer read the recovered table
    values(path) shouldBe Seq(1L, 2L, 3L)
    fs.exists(new Path(path + "._bak")) shouldBe false
    fs.exists(new Path(path + "._next")) shouldBe false
  }

  test("a writer that throws leaves the current table intact and readable") {
    val path = Files.createTempDirectory("swap-throw").toString + "/t"
    Seq(1L, 2L).toDF("v").write.parquet(path)

    val e = intercept[IllegalStateException] {
      TableSwap.replace(spark, path, "spec") { (_, next) =>
        Seq(9L).toDF("v").write.parquet(next.toString)
        throw new IllegalStateException("writer failed mid-batch")
      }
    }
    e.getMessage shouldBe "writer failed mid-batch"
    values(path) shouldBe Seq(1L, 2L)
    fs.exists(new Path(path + "._bak")) shouldBe false

    // the next replace discards the failed writer's ._next
    TableSwap.replace(spark, path, "spec") { (_, next) =>
      Seq(5L).toDF("v").write.parquet(next.toString)
    }
    values(path) shouldBe Seq(5L)
  }
}
