package graft

/** Job budget of the benchmark's rows: the jobs one *warm* evaluation
  * (`fn(spark, dir).count()`, after a first untimed evaluation has built
  * each row's artifacts and read its tables once) starts at sf0.001. The
  * batch floor is jobs, not data, so a row that gains a job boundary fails
  * here however fast the host is. Lower a budget when a row loses a job.
  *
  * Rows: the 14 query rows of the `etl_batch` workload and the 4 drains of
  * `stream_drain` (`perfbench.Workloads`).
  */
class JobBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val budget = Seq(
    "q01_agg" -> 3, "q04_join_agg" -> 4, "q05_semi_join" -> 4,
    "q06_anti_join" -> 3, "q07_window_rank" -> 3,
    "q08_window_running" -> 2, "q13_explode_json" -> 4,
    "q16_normalize_columns" -> 3, "q38_scd2_merge" -> 4,
    "q39_cdc_apply" -> 5, "q43_zorder" -> 1, "q50_unpivot" -> 3,
    "q54_fuzzy_join" -> 12, "q96_d4_diversify" -> 4,
    "s5_stream_windowed_agg" -> 7, "s6_stream_sessionize" -> 7,
    "s9_stream_funnel" -> 7, "s14_stream_exact_dedup" -> 6)

  private def evaluate(name: String): Unit = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, dir).count()
    ()
  }

  for ((name, max) <- budget)
    test(s"$name runs at most $max jobs warm") {
      evaluate(name)
      val n = jobs(evaluate(name))
      spark.catalog.clearCache()
      withClue(s"$name ran $n jobs, budget $max: ") {
        n should be <= max
      }
    }
}
