package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The lineage-keeping branch of [[graft.Materialization]]:
  * `Dataset.checkpoint`'s construction (the plan executed once under an
  * SQL execution id, rows copied, a `LogicalRDD` leaf that carries the
  * origin's statistics and output partitioning) with an RDD-level
  * `persist` where the checkpoint would go. Lives under
  * `org.apache.spark.sql` for `LogicalRDD.fromDataset` and
  * `Dataset.ofRows`, which are `private[sql]`.
  */
object PersistedLeaf {
  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.resetMetrics()
      val rows = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) rows.count()
      rows
    }
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** Drops the blocks behind a frame [[apply]] returned; the leaf keeps
    * its lineage, so a later read recomputes them. */
  def release(materialized: DataFrame): Unit =
    materialized.queryExecution.logical match {
      case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"not a materialized frame: ${other.nodeName}")
    }
}
