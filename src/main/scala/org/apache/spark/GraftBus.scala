package org.apache.spark

/** The listener bus is delivered asynchronously: counters a listener
  * keeps are complete only once every event posted so far has been
  * handled. `waitUntilEmpty` is Spark-internal, hence this package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
