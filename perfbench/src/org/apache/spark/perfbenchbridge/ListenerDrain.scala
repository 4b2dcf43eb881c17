package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run needs
  * it to wait for every posted event before it reads listener counts.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
