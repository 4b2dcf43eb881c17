package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; waiting for the bus to drain
  * needs the `private[spark]` listener bus, hence this bridge.
  */
object ListenerBridge {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
