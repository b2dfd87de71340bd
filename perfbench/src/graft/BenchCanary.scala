package graft

/** The host-weather canary of `graft.Bench` (`canaryPass`, package-private)
  * for the benchmark: a fixed in-memory job, warmed, then timed. A property
  * of the host, not of the repo; recorded, never used to scale a metric.
  */
object BenchCanary {
  def pass(spark: org.apache.spark.sql.SparkSession): Double = Bench.canaryPass(spark)
}
