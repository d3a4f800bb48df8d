package org.apache.spark.graftx

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * spec reads complete job counts from `statusTracker`. `listenerBus` is
  * `private[spark]`, hence this shim under the spark package tree. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
