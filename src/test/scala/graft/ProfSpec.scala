package graft

import org.apache.spark.sql.DataFrame

class ProfSpec extends SparkSpec {

  private val Tz = "spark.sql.session.timeZone"

  test("identical confs report no mismatched rows and restore the session") {
    val before = spark.conf.getAll
    val q = () => spark.range(0L, 1000L, 1L, 4)
      .selectExpr("id % 7 AS k").groupBy("k").count()
    val side = Seq("spark.sql.shuffle.partitions" -> "2")
    val r = Prof.ab(spark, 2, side, side)(q, q)
    r.a should have size 2
    r.b should have size 2
    r.identical shouldBe true
    spark.conf.getAll shouldBe before
  }

  test("a session time-zone A/B of a formatted timestamp reports the " +
      "mismatch, then the session's confs are as before") {
    val before = spark.conf.getAll
    val q = () => spark.range(1)
      .selectExpr("date_format(timestamp_micros(0), 'yyyy-MM-dd HH:mm') AS t")
    val r = Prof.ab(spark, 1, Seq(Tz -> "UTC"),
      Seq(Tz -> "America/New_York"))(q, q)
    r.onlyA shouldBe 1L
    r.onlyB shouldBe 1L
    r.identical shouldBe false
    spark.conf.getAll shouldBe before
  }

  test("a conf Spark will not set at runtime fails before any pass, " +
      "naming the key") {
    val before = spark.conf.getAll
    var built = 0
    val q = () => { built += 1; spark.range(1).toDF(): DataFrame }
    val key = "spark.sql.codegen.cache.maxEntries"
    val e = intercept[IllegalArgumentException](
      Prof.ab(spark, 1, Seq(Tz -> "America/New_York"), Seq(key -> "10"))(q, q))
    e.getMessage should include(key)
    built shouldBe 0
    spark.conf.getAll shouldBe before
  }
}
