package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Same-JVM profiling harness: alternating timed passes of declared
  * queries, optionally A/B'd over two sets of runtime SQL confs, with a
  * check that both sides return the same rows.
  *
  * Usage: `graft.Prof <query…> [--passes n] [--ab k=v,… vs k=v,…]` over the
  * tables in `SPARK_GRAFT_SF_DIR` (Bench's default when unset), on
  * [[Sessions.local]]. Per query it prints every pass's wall time, each
  * side's median ([[Bench.medianOf]]) and whether the outputs match.
  * Without `--ab` both sides run the session as it is (an A/A: the noise
  * floor and a determinism check). A study of two code paths calls [[ab]]
  * with its own pair of thunks. The one-off study modes this replaced
  * (`appendStudy`, `nlistStudy`, `q73bi`, `x9parts`, `x13ab`, `s1retain`
  * and the rest, cited in comments and records) are in
  * `git show 52f1ea3:src/main/scala/graft/Prof.scala`.
  */
object Prof {

  type Confs = Seq[(String, String)]

  /** Timed pass walls per side, and how many rows each side's output
    * holds beyond the other's (multiset difference, both ways).
    */
  final case class Report(a: Seq[Double], b: Seq[Double],
      onlyA: Long, onlyB: Long) {
    def identical: Boolean = onlyA == 0 && onlyB == 0
  }

  /** Run `body` with `confs` set on the session's runtime conf, then
    * restore each key's prior value, or unset it if it had none. A key
    * `spark.conf.set` refuses (a Spark core or static SQL conf) fails here
    * with the key named.
    */
  private def withConfs[T](spark: SparkSession, confs: Confs)(body: => T): T = {
    val prior = spark.conf.getAll
    val applied = collection.mutable.ArrayBuffer[String]()
    try {
      confs.foreach { case (k, v) =>
        try spark.conf.set(k, v)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"$k cannot be set on a running session: ${e.getMessage}", e) }
        applied += k
      }
      body
    } finally applied.reverseIterator.foreach { k =>
      prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The A/B core. Both sides' confs are tried before anything runs; then
    * one untimed warm pass per side and `passes` timed passes alternating
    * A, B, each a [[Runner.pass]] of the Bench action (`count()`).
    * Last, each side's output is pinned on the executors
    * (`localCheckpoint`) under its own confs, and the two are compared
    * with `exceptAll` both ways, counted where they live, without
    * collecting a row.
    */
  def ab(spark: SparkSession, passes: Int, confsA: Confs, confsB: Confs,
      label: String = "ab")(a: () => DataFrame, b: () => DataFrame): Report = {
    val sides = Seq(("A", confsA, a), ("B", confsB, b))
    sides.foreach { case (_, c, _) => withConfs(spark, c)(()) }
    sides.foreach { case (_, c, f) =>
      withConfs(spark, c)(f().count()); Bench.settle(spark) }
    val times = for (i <- 1 to passes; (tag, c, f) <- sides) yield {
      val dt = withConfs(spark, c)(Runner.pass(spark)(f().count())).secondsOrThrow
      println(f"[prof] $label pass $i $tag $dt%.3f s")
      tag -> dt
    }
    val Seq(outA, outB) =
      sides.map { case (_, c, f) => withConfs(spark, c)(f().localCheckpoint()) }
    val report = Report(times.collect { case ("A", t) => t },
      times.collect { case ("B", t) => t },
      outA.exceptAll(outB).count(), outB.exceptAll(outA).count())
    Bench.settle(spark)
    report
  }

  private def parseConfs(args: Seq[String]): Confs =
    args.flatMap(_.split(',')).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"--ab expects k=v, got '$kv'")
      }
    }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Prof <query…> [--passes n] [--ab k=v,… vs k=v,…]"
    val abAt = if (args.contains("--ab")) args.indexOf("--ab") else args.length
    val (confsA, confsB) = args.drop(abAt + 1).toSeq.span(_ != "vs") match {
      case (a, "vs" +: b) => (parseConfs(a), parseConfs(b))
      case (Seq(), _) => (Nil, Nil)
      case _ => throw new IllegalArgumentException(s"--ab needs 'vs'; $usage")
    }
    val head = args.take(abAt).toSeq
    val passesAt = head.indexOf("--passes")
    val passes = if (passesAt < 0) 3
      else head.lift(passesAt + 1).flatMap(_.toIntOption).getOrElse(0)
    val names = if (passesAt < 0) head else head.patch(passesAt, Nil, 2)
    require(names.nonEmpty && passes >= 1, usage)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Sessions.local("graft-prof")
    spark.sparkContext.setLogLevel("WARN")
    val data = Scratch.stage(Runner.sfDir)
    try names.foreach { n =>
      val q = () => SparkEntry.queries(n)(spark, data)
      val r = ab(spark, passes, confsA, confsB, n)(q, q)
      val (ma, mb) = (Bench.medianOf(r.a, passes), Bench.medianOf(r.b, passes))
      println(f"[prof] $n median A $ma%.3f s  B $mb%.3f s  B/A ${mb / ma}%.2f")
      println(if (r.identical) s"[prof] $n outputs identical"
        else s"[prof] $n outputs DIFFER: ${r.onlyA} rows only in A, ${r.onlyB} only in B")
    } finally spark.stop()
  }
}
