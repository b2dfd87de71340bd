package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** [[Parquet.read]]'s contract: a schema inferred once per file snapshot,
  * a fresh inference whenever the files or the parquet confs change, and
  * at most a bounded number of remembered paths.
  */
class ParquetSpec extends SparkSpec {

  private def dir(tag: String): String =
    Files.createTempDirectory(s"graft-parquet-$tag").toString

  private def write(n: Int, path: String, mode: String = "overwrite"): Unit =
    spark.range(0, n, 1, 2).withColumn("v", col("id") * 2)
      .write.mode(mode).parquet(path)

  test("a second read of one file runs no job, with equal schema and rows") {
    val p = s"${dir("file")}/t"
    write(10, p)
    val file = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    for (path <- Seq(file, p)) withClue(path) {
      val bare = spark.read.parquet(path)
      jobs(Parquet.read(spark, path)) shouldBe 1
      var second = spark.emptyDataFrame
      jobs { second = Parquet.read(spark, path) } shouldBe 0
      second.schema shouldBe bare.schema
      second.orderBy("id").collect().toSeq shouldBe
        bare.orderBy("id").collect().toSeq
    }
  }

  test("rewriting the path with a different schema gives the new schema") {
    val p = s"${dir("rewrite")}/t"
    write(10, p)
    Parquet.read(spark, p).columns.toSeq shouldBe Seq("id", "v")
    spark.range(0, 3).select(col("id").cast("string").as("s"))
      .write.mode("overwrite").parquet(p)
    val df = Parquet.read(spark, p)
    df.columns.toSeq shouldBe Seq("s")
    df.count() shouldBe 3L
  }

  test("a directory that gains a part file misses") {
    val p = s"${dir("append")}/t"
    write(10, p)
    Parquet.read(spark, p)
    jobs(Parquet.read(spark, p)) shouldBe 0
    write(5, p, mode = "append")
    var df = spark.emptyDataFrame
    jobs { df = Parquet.read(spark, p) } shouldBe 1
    df.count() shouldBe 15L
  }

  test("flipping nanosAsLong infers again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val p = s"${dir("conf")}/t"
    write(10, p)
    try {
      spark.conf.set(key, "false")
      Parquet.read(spark, p)
      jobs(Parquet.read(spark, p)) shouldBe 0
      spark.conf.set(key, "true")
      jobs(Parquet.read(spark, p)) shouldBe 1
      jobs(Parquet.read(spark, p)) shouldBe 0
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the memo keeps its bound, evicting the least recently used path") {
    val root = dir("lru")
    val Seq(a, b, c) = Seq("a", "b", "c").map { t =>
      val p = s"$root/$t"; write(4, p); p
    }
    val memo = new Parquet.Memo(2)
    def read(p: String): Int = jobs(memo.read(spark, p))
    Seq(read(a), read(b)) shouldBe Seq(1, 1)
    read(a) shouldBe 0 // a is now the most recently used
    read(c) shouldBe 1 // evicts b
    read(a) shouldBe 0
    read(b) shouldBe 1
  }

  test("a missing path fails as a bare read does") {
    val p = s"${dir("missing")}/none"
    val bare = intercept[Exception](spark.read.parquet(p))
    intercept[Exception](Parquet.read(spark, p)).getClass shouldBe bare.getClass
  }
}
