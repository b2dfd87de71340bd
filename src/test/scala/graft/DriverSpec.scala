package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Driver.collect]]'s contract: every row up to the bound, in order; a
  * failure naming the bound past it; and no more jobs than a plain
  * `collect()` of the same frame.
  */
class DriverSpec extends SparkSpec {

  test("exactly max rows come back, in a sorted frame's order") {
    val df = spark.range(0, 50, 1, 5).toDF().orderBy(col("id").desc)
    Driver.collect(df, 50, "spec (max)").map(_.getLong(0)).toSeq shouldBe
      (49L to 0L by -1L)
  }

  test("max + 1 rows fail with a message that names the bound") {
    val e = intercept[IllegalArgumentException] {
      Driver.collect(spark.range(0, 11, 1, 3).toDF(), 10, "Spec.op (maxThings)")
    }
    e.getMessage should include("Spec.op (maxThings)")
    e.getMessage should include("10")
  }

  test("a typed Dataset[(String, Long)] comes back typed") {
    import spark.implicits._
    val ds = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDS().repartition(2)
      .orderBy("_1")
    Driver.collect(ds, 3, "spec").toSeq shouldBe
      Seq(("a", 1L), ("b", 2L), ("c", 3L))
  }

  test("a multi-partition aggregate runs the jobs a plain collect runs, " +
      "with AQE on and off") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    def agg: DataFrame = spark.range(0, 4000, 1, 16)
      .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("n"))
    try for (aqe <- Seq("true", "false")) {
      spark.conf.set(key, aqe)
      val plain = jobs(agg.collect())
      val bounded = jobs(Driver.collect(agg, 97, "spec"))
      withClue(s"AQE $aqe: ") {
        plain should be > 0
        bounded shouldBe plain
      }
      Driver.collect(agg, 97, "spec").map(_.getLong(1)).sum shouldBe 4000L
    }
    finally spark.conf.set(key, prev)
  }

  test("rows already on the driver run no job, as with a plain collect") {
    import spark.implicits._
    val local = Seq((1, "a"), (2, "b")).toDF("i", "s").filter(col("i") > 1)
    jobs(Driver.collect(local, 1, "spec")) shouldBe 0
    jobs(Driver.collect(spark.sql("SHOW TABLES"), 100, "spec")) shouldBe 0
    intercept[IllegalArgumentException](Driver.collect(local, 0, "spec"))
  }
}
