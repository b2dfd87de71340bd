package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import scala.util.matching.Regex

/** Plan-audit artifact: dumps `explain("formatted")` for the headline
  * queries to a markdown file so the physical shapes — pushed filters,
  * pruned schemas, exchange counts, broadcast choices, codegen spans —
  * are reviewable without re-running anything. The per-operator
  * plan-shape ASSERTIONS live in the specs (PlanShapeSpec and each
  * operator's own suite); this is the human-readable companion.
  *
  * Usage: `runMain graft.Plans <sfDir> <outFile>`.
  */
object Plans {

  /** Queries whose physical shape carries the scale argument. */
  private val headline = Seq(
    "q01_agg", "q02_filter_project", "q03_broadcast_join", "q04_join_agg",
    "q18_asof_join", "q26_asof_salted", "q42_bloom_prejoin",
    "q46_skew_join", "q63_snapshot_diff", "q64_drift_psi",
    "q65_span_dedup", "q66_sequence_assembly", "q67_temperature_mix",
    "q70_resample_fill", "q72_hierarchy", "q76_transitions",
    "q79_interval_join", "q81_curation_e2e", "q90_seasonal_decompose",
    "q92_seasonal_anomalies",
    "q91_span_excise", "x1_dedup_exact", "x2_dedup_minhash",
    "x7_dup_clusters", "x9_dedup_incremental", "x11_containment",
    "t16_quality_classifier", "y2_knn_lsh", "y3_knn_ivf", "y5_knn_ivfpq",
    "y6_knn_indexed", "y7_knn_artifact_served", "x12_leakage_safe_split",
    "t18_gopher_battery", "x13_snapshot_lifecycle", "q95_dsir_select",
    "x14_visual_near_dup", "x15_curate_then_select",
    "q98_doremi_weights", "q99_unimax_sampling", "x16_semantic_decontam",
    "x17_curate_then_reweight", "x18_cluster_topics",
    "t21_unigram_roundtrip",
    // round 13: the AC-kernel decontamination scan (row-local, no join),
    // the staleness report (two narrow scans + broadcast codebook), and
    // the appended-vs-rebuilt serving contrast. The streaming gates
    // (s1/s2) and q101 are deliberately absent: building their frames
    // RUNS the staged micro-batches / instrumented write, and the
    // declared result's plan is just the read-back scan. y9 (round 15)
    // is absent for the same reason: the calibration walk runs eagerly
    // inside calibrateNprobe (per-grid-point recall counts) and the
    // declared result is a one-row local relation; its serve plans are
    // y6/y7's, which ARE audited above.
    "q100_exact_decontam", "y8_index_staleness", "y8r_append_recall")

  /** x11 and q91 materialize eagerly in their public form (persist +
    * localCheckpoint — the executed plan of the DECLARED query is just a
    * checkpoint scan), so the audit dumps their REAL lazy plans via the
    * `*Plan` splits the plan-shape spec uses. Call inside a
    * [[Cached.scope]]: the splits cache their intermediates.
    */
  private def buildFor(
      spark: SparkSession, sfDir: String,
      name: String): Option[org.apache.spark.sql.DataFrame] =
    name match {
      case "x11_containment" =>
        val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
        Some(graft.ext.Dedup.containmentPairsPlan(docs, "doc_id", "text", 0.8,
            shingleFn = graft.ext.Shingles.charNGrams(_, 8))
          .orderBy("id", "container_id"))
      case "q91_span_excise" =>
        val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
        Some(graft.ext.Fingerprint.exciseSharedSpansPlan(
            docs, "doc_id", "text", k = 15, maxDocs = 10, exact = true)
          .orderBy("doc_id"))
      case other =>
        SparkEntry.queries.get(other).map(_(spark, sfDir))
    }

  private val Num = """-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"""
  private val Elided = """… \d+ more"""
  private val NumItem = s"""(?<![\\w#.])$Num(?![\\w.])""".r
  private val GroupItem = (s"""(?<![\\w#.])\\w+\\((?:$Num|$Elided)""" +
    s"""(?:, (?:$Num|$Elided))*\\)""").r
  /** Literal runs this long or longer are elided. */
  private val MinRun = 17
  /** Leading values an elided run keeps. */
  private val Keep = 4

  /** Plan text with inlined literal vectors cut down to size: a run of
    * more than 16 comma-separated numbers (a hyperplane or centroid
    * `Vector(…)`/`ArraySeq(…)`) keeps its first four values and then reads
    * `… n more`; a run of more than 16 such number groups (a codebook of
    * sub-vectors) keeps its first four groups the same way. Everything
    * else is left as it is.
    */
  def elideLiterals(plan: String): String =
    elideRuns(elideRuns(plan, NumItem), GroupItem)

  /** Numbers that differ between two runs or two builds: expression, plan,
    * RDD and broadcast ids (a runtime filter's `Broadcast(…)` counts every
    * job run before it), the scratch pid, the source line that created an
    * RDD and the JVM-wide counter in a lambda variable's name.
    */
  private val RunToken =
    """(#|plan_id=|RDD\[|/pid-|\.scala:|lambda x_|Broadcast\()\d+""".r

  /** Plan text with each [[RunToken]] number read as `n`. */
  def normalizeRunTokens(plan: String): String =
    RunToken.replaceAllIn(plan, m => Regex.quoteReplacement(m.group(1) + "n"))

  /** Elide every run of `item` matches joined by ", " (scanned match by
    * match: a regex repeating over a 200 KB run would recurse that deep).
    */
  private def elideRuns(text: String, item: Regex): String = {
    val runs = item.findAllMatchIn(text)
      .foldLeft(List.empty[List[Regex.Match]]) {
        case ((last :: run) :: done, m)
            if m.start == last.end + 2 && text.startsWith(", ", last.end) =>
          (m :: last :: run) :: done
        case (acc, m) => List(m) :: acc
      }
      .filter(_.size >= MinRun).reverse
    val sb = new java.lang.StringBuilder
    val tail = runs.foldLeft(0) { (at, run) =>
      sb.append(text, at, run(run.size - Keep).end)
        .append(s", … ${run.size - Keep} more")
      run.head.end
    }
    sb.append(text, tail, text.length).toString
  }

  /** The audit's core count, whatever the host's: the shuffle partition
    * count is the session's core count and prints in every exchange, so
    * audits compare only at one count. The committed `PLANS.md` is made at
    * 16.
    */
  final val AuditCpus: Int = 16

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = Sessions.local("graft-plans", cpus = AuditCpus)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted)\n\n")
    sb.append(s"Generated against `$sfDir` in a local[$AuditCpus] session ")
    sb.append(s"($AuditCpus shuffle partitions, whatever the host's cores) — ")
    sb.append("broadcast/exchange choices ")
    sb.append("reflect that scale's statistics; the spec suite asserts ")
    sb.append("the shape invariants that must hold at any scale. Inlined ")
    sb.append("literal vectors longer than 16 values are elided; ids and ")
    sb.append("source lines that vary by run or build read `n`.\n")
    headline.foreach { name =>
      Cached.scope(buildFor(spark, sfDir, name).foreach { df =>
        val plan = try {
          df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
        } catch {
          case e: Exception => s"(failed to plan: ${e.getMessage})"
        }
        val text = normalizeRunTokens(elideLiterals(plan))
        sb.append(s"\n## $name\n\n```\n$text```\n")
      })
    }
    Runner.write(Paths.get(outFile), sb.toString)
    // stderr keeps stdout clean for tooling
    System.err.println(s"[plans] wrote ${headline.size} plans to $outFile")
    spark.stop()
  }
}
