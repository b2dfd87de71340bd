package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-check of [[Digest]] on a local session: order- and
  * partitioning-independence, sensitivity to a changed, missing or
  * duplicated row, and tolerance of last-bit double noise.
  * `python3 perfbench/run.py --check` builds and runs it. Exits non-zero
  * on the first failed property.
  */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"DigestCheck FAILED: $what"); sys.exit(1) }

    val rows: DataFrame = spark.range(1, 201).select(
      (col("id") * 0.37).as("b"), concat(lit("k"), col("id")).as("a"),
      (col("id") % 7).as("c"))
    val d = Digest.of(rows)
    Seq(rows.orderBy(rand(1)), rows.orderBy(col("b").desc), rows.repartition(5),
        rows.repartition(3, col("c")).sortWithinPartitions(col("a")))
      .foreach(r => check(Digest.of(r) == d, "row order or partitioning changes the digest"))
    check(Digest.of(rows.select("c", "b", "a")) == d, "column order changes the digest")
    check(Digest.of(rows.where(col("a") =!= "k5")) != d, "a missing row goes unnoticed")
    check(Digest.of(rows.union(rows.where(col("a") === "k5"))) != d,
      "a duplicated row goes unnoticed")
    check(Digest.of(rows.withColumn("c", when(col("a") === "k5", 6L).otherwise(col("c")))) != d,
      "a changed value goes unnoticed")
    val nextUp = udf((x: Double) => Math.nextUp(x))
    check(Digest.of(rows.withColumn("b", nextUp(col("b")))) == d,
      "a last-bit double difference changes the digest")
    spark.stop()
    println("DigestCheck ok")
  }
}
