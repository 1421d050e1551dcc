package org.apache.spark

/** Listener events are delivered asynchronously; a measurement window is
  * only complete once the bus has delivered every event of its jobs.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
