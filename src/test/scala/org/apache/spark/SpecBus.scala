package org.apache.spark

/** Lists the RDD blocks the block manager holds. The block manager
  * master is Spark-internal, hence this package.
  */
object SpecBus {
  /** Every RDD block any block manager of `sc` stores right now. */
  def rddBlocks(sc: SparkContext): Set[storage.BlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).toSet

}
