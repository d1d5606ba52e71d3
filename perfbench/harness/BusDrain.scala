package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every event posted so
  * far. `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence the
  * package; nothing else of Spark's internals is used. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
