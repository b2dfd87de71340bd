package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Generator for `QUERIES.md` — the navigable index of the declared
  * query surface: query id → declaring file → oracle kind → one-line
  * summary scraped from the declaration's own leading comment. At 189
  * queries across seven `Entry*` traits, "where is x11 and what does it
  * test" is otherwise a grep per question; the index answers it in one
  * lookup and `QueriesIndexSpec` fails the build when the file drifts
  * from the declared map (so it can never go stale silently). It names
  * the file, not the line, so an edit that only moves a declaration
  * leaves it unchanged.
  *
  * Regenerate: `sbt "runMain graft.QueriesIndex"` (writes `QUERIES.md`
  * in the repo root).
  */
object QueriesIndex {

  /** Every declaration uses this exact shape (grep-verified: 189/189),
    * which is what makes the index generatable at all — keep new
    * declarations on the same pattern.
    */
  private val declPattern = """"([a-z0-9_]+)" -> \(\(s, dir\)""".r.unanchored

  final case class Decl(name: String, file: String, summary: String)

  /** Scan the `Entry*` traits for declaration sites and their leading
    * comment summaries.
    */
  def scanDecls(root: String = "."): Map[String, Decl] = {
    val dir = Paths.get(root, "src/main/scala/graft")
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("Entry.*\\.scala"))
      .toSeq.sortBy(_.toString)
    files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toVector
      lines.indices.flatMap { i =>
        declPattern.findFirstMatchIn(lines(i)).map { m =>
          val comment = lines.drop(i + 1)
            .takeWhile(_.trim.startsWith("//"))
            .map(_.trim.stripPrefix("//").trim)
          val fromComment = firstSentence(comment.mkString(" "))
          // early/self-describing declarations carry no comment — the
          // name (minus its family prefix) is the description
          val summary =
            if (fromComment.nonEmpty) fromComment
            else m.group(1).split("_").drop(1).mkString(" ")
          Decl(m.group(1), s"src/main/scala/graft/${p.getFileName}", summary)
        }
      }
    }.map(d => d.name -> d).toMap
  }

  /** First sentence of the declaration comment, bounded to ~160 chars
    * at a word boundary — enough to answer "what is this query".
    */
  private def firstSentence(s: String): String = {
    val cut = s.indexOf(". ")
    val one = (if (cut >= 0) s.take(cut + 1) else s).trim
    val bounded =
      if (one.length <= 160) one
      else one.take(157).reverse.dropWhile(c => c != ' ').reverse.trim + "…"
    bounded.replace("|", "\\|")
  }

  /** Family-then-number sort: q01…q101, s1…s17, t…, x…, y…, m… group
    * naturally instead of lexicographically interleaving (q101 < q12).
    */
  private def sortKey(name: String): (String, Int, String) = {
    val m = "^([a-z]+)(\\d*)".r.findFirstMatchIn(name).get
    val num = if (m.group(2).isEmpty) -1 else m.group(2).toInt
    (m.group(1), num, name)
  }

  def generate(root: String = "."): String = {
    val decls = scanDecls(root)
    val names = SparkEntry.queries.keys.toSeq.sortBy(sortKey)
    val missing = names.filterNot(decls.contains)
    require(missing.isEmpty,
      s"declaration sites not found (pattern drift?): $missing")
    val orphans = decls.keySet -- names.toSet
    require(orphans.isEmpty,
      s"declared in source but absent from SparkEntry.queries: $orphans")
    val withOracle = names.count(SparkEntry.oracleSql.contains)
    val sb = new StringBuilder
    sb ++= "# QUERIES — generated index of the declared query surface\n\n"
    sb ++= "Generated by `graft.QueriesIndex` (`sbt \"runMain graft.QueriesIndex\"`).\n"
    sb ++= "`QueriesIndexSpec` fails when this file drifts from `SparkEntry.queries`\n"
    sb ++= "— regenerate after adding, renaming or re-describing a declaration.\n\n"
    sb ++= s"Total: ${names.size} queries, $withOracle with DuckDB value oracles"
    sb ++= (if (withOracle == names.size) " (full coverage).\n\n" else ".\n\n")
    sb ++= "Families: `q` relational/pipeline · `t` text analysis · `x` dedup/"
    sb ++= "curation chains · `y` ANN/similarity · `m` multimodal · `s` streaming.\n\n"
    sb ++= "| query | declared in | oracle | what it tests |\n"
    sb ++= "|---|---|---|---|\n"
    names.foreach { n =>
      val d = decls(n)
      val oracle = if (SparkEntry.oracleSql.contains(n)) "sql" else "rows-only"
      sb ++= s"| $n | `${d.file}` | $oracle | ${d.summary} |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get("QUERIES.md")
    Runner.write(out, generate())
    println(s"wrote $out")
  }
}
