package org.apache.spark

/** The listener bus is delivered asynchronously; counters read at a span
  * boundary are only complete once every event posted so far has been
  * handled. `waitUntilEmpty` is Spark-internal, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
