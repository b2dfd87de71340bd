package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache lifecycle every operator persist goes through. An
  * operator persists an intermediate that several stages of its plan
  * read; who releases it is the caller's choice, made here once:
  *
  *  - **Storage level.** Every cache is [[Level]], memory spilling to
  *    disk: storage pressure evicts blocks LRU rather than failing.
  *  - **Outside a scope.** [[persist]] is exactly `persist(Level)`; the
  *    entry lives until the session's `spark.catalog.clearCache()`
  *    (Verify and Bench clear between rows), so a returned lazy plan
  *    keeps reading it.
  *  - **Inside a scope.** [[persist]] registers the frame with the
  *    innermost open [[scope]], but only when this call added the cache
  *    entry: a frame the caller cached first is the caller's, and
  *    survives the scope.
  *  - **Nesting.** Scopes nest; a scope releases only what it registered.
  *  - **Threads.** The open scopes are a plain (non-inheritable)
  *    `ThreadLocal`, so a thread started inside a scope persists as if
  *    outside one and never registers into it.
  *  - **Release.** A scope releases its frames with
  *    `unpersist(blocking = false)` when its body returns or throws. The
  *    body must consume what it built (collect, count, write,
  *    `localCheckpoint`) before returning: a lazy plan that escapes the
  *    scope recomputes its intermediates per action.
  *
  * Long-lived sessions (the streaming gates) wrap each unit of work in
  * `Cached.scope { … }`; one-shot callers need nothing.
  */
object Cached {

  final val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Release actions of the open scopes on this thread, innermost first. */
  private val open = new ThreadLocal[List[ArrayBuffer[() => Unit]]] {
    override def initialValue(): List[ArrayBuffer[() => Unit]] = Nil
  }

  def persist(df: DataFrame): DataFrame = {
    val adds = open.get.nonEmpty && df.storageLevel == StorageLevel.NONE
    df.persist(Level)
    if (adds) open.get.head += (() => df.unpersist(blocking = false))
    df
  }

  def persist[T](rdd: RDD[T]): RDD[T] = {
    val adds = open.get.nonEmpty && rdd.getStorageLevel == StorageLevel.NONE
    rdd.persist(Level)
    if (adds) open.get.head += (() => rdd.unpersist(blocking = false))
    rdd
  }

  /** Run `body`, then release every cache [[persist]] added inside it. */
  def scope[T](body: => T): T = {
    val outer = open.get
    val mine = ArrayBuffer.empty[() => Unit]
    open.set(mine :: outer)
    try body
    finally {
      open.set(outer)
      mine.foreach(_())
    }
  }
}
