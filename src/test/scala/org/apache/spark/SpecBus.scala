package org.apache.spark

/** Lets specs wait until every queued listener event has been handled.
  * `waitUntilEmpty` is Spark-internal, hence this package.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
