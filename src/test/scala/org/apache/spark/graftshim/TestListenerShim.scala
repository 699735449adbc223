package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** TEST-ONLY internal seam: block until the listener bus has delivered
  * every posted event (`LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`), so a spec counting jobs with a `SparkListener`
  * reads an exact count instead of sleeping and hoping.
  */
object TestListenerShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
