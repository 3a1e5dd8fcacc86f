package graft

import org.scalatest.funsuite.AnyFunSuite

/** Entry-point smoke: every declared query runs on sf0.001, leaves
  * nothing in the session CacheManager (graft materializes through
  * [[Materialization]], which registers nothing there), and every oracle
  * key maps to a real query. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs and returns rows on sf0.001") {
      spark.catalog.clearCache()
      assert(fn(spark, dir).count() > 0, s"$name returned no rows")
      assert(TestSpark.cacheManagerEmpty, s"$name left a frame in the CacheManager")
    }
  }
}
