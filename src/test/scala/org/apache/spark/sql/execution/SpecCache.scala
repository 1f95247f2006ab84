package org.apache.spark.sql.execution

/** The number of relations a session's cache manager holds, for specs
  * that check a write released what it cached. The count is
  * Spark-internal, hence this package.
  */
object SpecCache {
  def entries(s: org.apache.spark.sql.SparkSession): Int =
    s.sharedState.cacheManager.numCachedEntries
}
