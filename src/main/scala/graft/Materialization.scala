package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PersistedLeaf
import scala.util.DynamicVariable

/** graft's one materialization policy. A frame that is read more than
  * once, or that an iterative loop must cut off from its growing plan,
  * is materialized through [[materialize]] and nothing else: no other
  * file checkpoints, caches, persists or unpersists a frame
  * (MaterializationGuardSpec scans for them).
  *
  *  - LOCAL master: `df.localCheckpoint(eager)`. Lineage is cut and the
  *    blocks live in the one JVM, so losing a block means losing the
  *    whole application anyway. It stays the local choice because it
  *    holds less: the lineage-keeping leaf below, used in local mode
  *    too, raised graph_rounds' median peak heap by about a quarter over
  *    10 seeds (the driver keeps every materialized round's plan,
  *    shuffle and broadcast state while the result lives), with nothing
  *    to recover in exchange.
  *  - ANY OTHER master: an RDD-level `persist(MEMORY_AND_DISK)` behind a
  *    `LogicalRDD` leaf built the way `Dataset.checkpoint` builds its
  *    own ([[org.apache.spark.sql.graftbridge.PersistedLeaf]]), so the
  *    leaf's statistics and partitioning equal the origin's and
  *    broadcast choices do not move. Lineage is kept: a block lost with
  *    its executor is recomputed from its parents, where a lost
  *    `localCheckpoint` block fails the query. MEMORY_AND_DISK spills
  *    instead of evicting, so a large frame is never silently recomputed
  *    per reader.
  *
  * Neither branch registers anything in the session CacheManager (which
  * `Dataset.persist`/`cache` would, until `clearCache()`), so no caller
  * clears the cache. The ContextCleaner frees a frame's blocks once no
  * live frame reaches them. On the lineage-keeping branch every frame
  * built on a materialized one reaches it, so an iterative loop calls
  * [[release]] on the previous round once the next round's blocks exist
  * (the GraphX Pregel pattern); otherwise its result would hold one
  * copy per round.
  *
  * `eager = true` computes the blocks now. `eager = false` still runs
  * every exchange of the plan now (adaptive execution materializes the
  * shuffle stages to plan the rest) and defers only the final stage's
  * job to the first action that reads the frame; the
  * connected-components rounds use it so their convergence count is
  * that job.
  */
object Materialization {
  private val lineageKept = new DynamicVariable(false)

  private def keepsLineage(df: DataFrame): Boolean =
    lineageKept.value || !df.sparkSession.sparkContext.isLocal

  private[graft] def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (keepsLineage(df)) PersistedLeaf(df, eager)
    else df.localCheckpoint(eager)

  /** Frees the blocks of `materialized`, a frame [[materialize]]
    * returned, now rather than when it becomes unreachable; reading it
    * afterwards recomputes them. A no-op on the local branch, whose cut
    * lineage already lets the ContextCleaner free an old round. */
  private[graft] def release(materialized: DataFrame): Unit =
    if (keepsLineage(materialized)) PersistedLeaf.release(materialized)

  /** Runs `body` with every [[materialize]] and [[release]] on the
    * lineage-keeping branch whatever the master: how a local session
    * exercises the cluster path. */
  private[graft] def keepingLineage[T](body: => T): T =
    lineageKept.withValue(true)(body)
}
