package org.apache.spark

/** The listener bus delivers events asynchronously; a count read before
  * it drains misses the tail of the last job. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
