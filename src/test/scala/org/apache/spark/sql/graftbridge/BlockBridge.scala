package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv

/** Test access to Spark's `private[spark]` block manager: drops every
  * stored block of an RDD, as losing the executors that held them
  * would. */
object BlockBridge {
  def removeRdd(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
