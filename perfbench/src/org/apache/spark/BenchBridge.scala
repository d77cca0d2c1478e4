package org.apache.spark

/** The one scheduler internal the benchmark needs: listener events are
  * delivered asynchronously, so a traced window waits for the bus to
  * empty before it reads its listeners' totals.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
