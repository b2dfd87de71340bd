package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LocalRelation}

/** The one bounded way to bring a frame's rows to the driver. The library
  * uses two idioms and no third:
  *
  *  - `head(n)` for a first-n read (a sample, an init, a capped
  *    dictionary): the cut is the point, so nothing fails;
  *  - [[collect]] for a result that must fit whole (a model, a codebook,
  *    a per-group summary): past its bound it fails fast, naming the bound,
  *    instead of silently materializing on the driver.
  *
  * [[collect]] runs no more jobs than a plain `collect()` of the same
  * frame: it caps each partition at `max + 1` rows inside the one collect
  * job, then checks the total, so an oversized frame ships at most
  * `max + 1` rows per partition before it fails. (A bare
  * `limit(max + 1).collect()` scans partitions in rounds, one job each.)
  * Rows a plain collect reads with no job at all (a local relation, a
  * command's result) are already on the driver: those are collected as
  * they are and only counted.
  */
object Driver {

  /** The bound of a driver collect whose caller sets none (a persisted
    * model or codebook, a per-group summary, a partition listing): one
    * million rows, about 16 MB of `(long, long)` pairs, the posture of the
    * union-find finish in [[ext.Clusters.connectedComponents]].
    */
  final val MaxRows: Int = 1000000

  /** Every row of `ds`, in the frame's order, when it holds at most `max`
    * rows; otherwise fails with a message naming `bound` (the operator,
    * and the argument or constant that sets the bound) and `max`.
    */
  def collect[T](ds: Dataset[T], max: Int, bound: String): Array[T] = {
    require(max >= 0 && max < Int.MaxValue, s"$bound: bad bound $max")
    val rows = ds.queryExecution.optimizedPlan match {
      case _: LocalRelation | _: CommandResult => ds.collect()
      case _ => ds.mapPartitions(_.take(max + 1))(ds.encoder).collect()
    }
    require(rows.length <= max,
      s"$bound: more than $max rows would come to the driver")
    rows
  }
}
