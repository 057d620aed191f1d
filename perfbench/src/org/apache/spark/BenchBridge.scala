package org.apache.spark

/** The listener bus delivers events asynchronously; counts read before
  * it drains miss the tail of the last job. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
