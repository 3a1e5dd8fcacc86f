package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BlockBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusPipeline, Dedup, Graphs}

/** On the lineage-keeping branch of [[Materialization.materialize]]
  * (the branch every non-local master takes) results survive the loss
  * of every block they materialized, iterative loops hold one round's
  * blocks rather than one per round, and the leaf plans exactly like
  * its origin. The session is local, so the specs select that branch
  * with [[Materialization.keepingLineage]]. */
class BlockLossSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Runs `body` (on the lineage-keeping branch if `keepLineage`);
    * also returns the RDDs it left persisted. */
  private def persistedBy[T](body: => T,
      keepLineage: Boolean = true): (T, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = if (keepLineage) Materialization.keepingLineage(body) else body
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Builds `build`, drops every block it materialized, then collects. */
  private def rowsAfterBlockLoss(build: => DataFrame,
      keepLineage: Boolean = true): Set[Row] = {
    val (df, materialized) = persistedBy(build, keepLineage)
    assert(materialized.nonEmpty, "nothing was materialized")
    materialized.foreach(BlockBridge.removeRdd)
    df.collect().toSet
  }

  private def assertSurvives(build: => DataFrame): Unit = {
    val expected = build.collect().toSet
    assert(expected.nonEmpty)
    assert(rowsAfterBlockLoss(build) == expected)
    assert(TestSpark.cacheManagerEmpty)
  }

  // a 30-link chain (several CC rounds), a star and a triangle
  private def pairs = ((1L to 30L).map(i => (i, i + 1)) ++
      (101L to 108L).map(i => (100L, i)) ++
      Seq((201L, 202L), (202L, 203L), (201L, 203L)))
    .toDF("id_a", "id_b")
  private def nodes = (pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
      .union(Seq(500L).toDF("id")))
  private def directed =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  test("connectedComponents survives the loss of every materialized block") {
    assertSurvives(Dedup.connectedComponents(pairs, nodes, "id"))
  }

  test("pagerank survives the loss of every materialized block") {
    assertSurvives(Graphs.pagerank(directed, "src", "dst", iterations = 3))
  }

  test("CorpusPipeline.curate survives the loss of every materialized block") {
    // an exact dup, a near dup, junk and two survivors (CorpusPipelineSpec)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "  THE quick   brown fox jumps over the lazy dog and runs away"),
      (3L, "the quick brown fox jumps over the lazy cat and runs away"),
      (4L, "!!! ??? *** ### $$$ %%%"),
      (5L, "der hund und die katze ist nicht hier aber der hund kommt"),
      (6L, "completely different text about distributed query engines"))
      .toDF("doc_id", "text")
    assertSurvives(CorpusPipeline.curate(docs, "doc_id", "text", lit("all")))
  }

  test("iterative loops hold one round's blocks, not one per round") {
    // the chain takes several rounds; each loop keeps at most its inputs
    // and its last round and releases the rounds before it (at most:
    // an input that only a broadcast read may already be cleaned up).
    // CC and BFS rounds reach every earlier round through a union, so
    // without the release they would keep one frame per round.
    val (labels, ccKept) = persistedBy(
      Dedup.connectedComponents(pairs, nodes, "id"))
    assert(ccKept.size <= 2, "edges + last round")
    assert(labels.count() == nodes.count())

    val ((ranks, rounds), prKept) = persistedBy(
      Graphs.pagerankToTolerance(directed, "src", "dst", 1e-9, 20))
    assert(rounds > 2)
    assert(prKept.size <= 4, "edges, degrees, nodes + last iterate")
    assert(ranks.count() == nodes.count() - 1) // node 500 has no edge

    val (hops, bfsKept) = persistedBy(Graphs.bfsHops(directed, "src", "dst",
      Seq(1L).toDF("id"), rounds = 6))
    assert(bfsKept.size <= 3, "edges + last frontier and reached")
    assert(hops.count() == 7)
  }

  test("the local branch's checkpoint blocks cannot be recomputed") {
    // the reason the lineage-keeping branch exists: the same loss under
    // localCheckpoint fails the query
    val e = intercept[Exception] {
      rowsAfterBlockLoss(Dedup.connectedComponents(pairs, nodes, "id"),
        keepLineage = false)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.getMessage)
  }

  test("the lineage-keeping leaf keeps its origin's statistics") {
    val origin = pairs.groupBy("id_a").agg(count(lit(1)).as("deg"))
    val leaf = Materialization.keepingLineage(
      Materialization.materialize(origin))
    val plan = leaf.queryExecution.optimizedPlan
    val rdds = plan.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.size == 1)
    assert(rdds.head.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(!rdds.head.isCheckpointed)
    assert(plan.stats.sizeInBytes ==
      origin.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(leaf.collect().toSet == origin.collect().toSet)
    assert(TestSpark.cacheManagerEmpty)
  }
}
