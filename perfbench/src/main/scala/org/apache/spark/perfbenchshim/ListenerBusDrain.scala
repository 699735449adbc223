package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
