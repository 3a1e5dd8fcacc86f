package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; counters read right after
  * an action can miss its last tasks. `waitUntilEmpty` is `private[spark]`,
  * so this one call lives under the `org.apache.spark` package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
