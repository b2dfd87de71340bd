package org.apache.spark

/** Spark-private access for the benchmark harness.
  *
  * `listenerBus`: the harness waits until every event of a finished span
  * (task ends, stage completions, stream progress) has been delivered
  * before it reads what the listeners recorded.
  *
  * The block manager: the driver keeps each broadcast's value on its heap
  * until the ContextCleaner has removed its blocks, so the settle between
  * cycles waits for their count to stop falling before it reads the old
  * generation.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def broadcastBlocks(): Int =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true).size
}
