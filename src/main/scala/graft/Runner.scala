package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The core the local runners ([[Bench]], [[Soak]], [[Prof]], [[Verify]])
  * share: their options, the one timed pass, and the one record writer.
  * Beside the three options read here, `SPARK_GRAFT_CPUS`
  * ([[Sessions.localCpus]]) and `SPARK_GRAFT_LOCAL_DIR` ([[Scratch]]) are
  * the only environment a runner reads; every other setting is a constant.
  */
object Runner {

  /** The tables Bench, Soak and Prof read. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The scale-factor label of a tables dir: its last `sf<number>`
    * (`/data/sf0.01` → `sf0.01`), else the whole path. */
  def sfLabel(sfDir: String): String =
    "sf[0-9]+(?:\\.[0-9]+)?".r.findAllIn(sfDir).toSeq.lastOption
      .getOrElse(sfDir)

  /** The declared queries the comma-separated `SPARK_GRAFT_ONLY` names, or
    * all of them when it is unset; Bench and Verify run these. */
  def selected: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
  }

  def benchOut: Path =
    Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))

  /** The action's outcome, its wall seconds, and the settle's seconds. */
  final case class Pass[T](result: Either[Throwable, T], seconds: Double,
      settleS: Double) {
    def ok: Boolean = result.isRight
    def get: T = result.fold(e => throw e, identity)
    def secondsOrThrow: Double = result.fold(e => throw e, _ => seconds)
  }

  /** Time `action`, then run `settle` ([[Bench.settle]] unless the caller
    * passes its own), untimed. A failed action is caught, so the settle
    * still runs; [[Pass.get]] and [[Pass.secondsOrThrow]] rethrow it.
    */
  def pass[T](spark: SparkSession, settle: SparkSession => Unit = Bench.settle)(
      action: => T): Pass[T] = {
    val t0 = System.nanoTime()
    val result = try Right(action) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    settle(spark)
    Pass(result, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A record of `fields`, in order. A value is a number, boolean, string,
    * Scala collection (an insertion-ordered map makes an object) or record.
    */
  def record(fields: (String, Any)*): ObjectNode = {
    val node = mapper.createObjectNode()
    fields.foreach { case (k, v) =>
      node.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    node
  }

  /** `x` rounded half-even to `places` decimals, for a record's numbers. */
  def round(x: Double, places: Int): Double = {
    val k = math.pow(10, places)
    math.rint(x * k) / k
  }

  def line(node: JsonNode): String = mapper.writeValueAsString(node)

  /** Write `text` to `path` atomically: a sibling temp file, then a rename
    * over `path`, so neither a reader nor a run cut short sees half of it.
    */
  def write(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write `node` to `path` as one line of JSON, atomically. */
  def write(path: Path, node: JsonNode): Unit = write(path, line(node) + "\n")
}
