package org.apache.spark

/** Lets specs wait until every queued listener event has been handled,
  * and list the RDD blocks the block manager holds. `waitUntilEmpty`
  * and the block manager master are Spark-internal, hence this package.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every RDD block any block manager of `sc` stores right now. */
  def rddBlocks(sc: SparkContext): Set[storage.BlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).toSet

}
