package org.apache.spark

/** The listener bus delivers events asynchronously; a traced span's Spark
  * costs are only complete once the bus has drained. `waitUntilEmpty` is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
