package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the package-private listener bus, so a spec can read the
  * status tracker only after every posted event has been delivered. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
