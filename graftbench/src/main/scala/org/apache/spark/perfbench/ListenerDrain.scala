package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * traced run can close an operation's record before the next one starts.
  * `listenerBus` is `private[spark]`, hence this shim under the spark
  * package tree. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
