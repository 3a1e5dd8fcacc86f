package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the materialize-once amortization PairGraph documents:
  * time the graded self-contained consumers (each re-derives the pair
  * graph from raw documents) against the same analytics fanned out
  * over ONE materialized [[graft.operators.PairGraph.materializeNearDup]]
  * frame. Usage: `runMain graft.tools.PairGraphBench /root/testdata/sf0.1`
  * — prints one JSON line. Numbers feed the BASELINE.md note; graded
  * queries stay self-contained by design (driver contract), this tool
  * exists to quantify the production pattern.
  */
object PairGraphBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val consumers = Seq("dedup_ngram_jaccard", "dedup_groups",
      "graph_degree_hist", "graph_pagerank", "graph_label_prop",
      "graph_edge_jaccard", "graph_bfs_hops", "graph_kcore_peel",
      "graph_triangles")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm-up: one full pass of the heaviest consumer
    graft.SparkEntry.queries("dedup_groups")(spark, sfDir).count()
    val selfContained = consumers.map { q =>
      q -> time(graft.SparkEntry.queries(q)(spark, sfDir).count())
    }
    // materialize-once path: same analytics over one materialized graph.
    // SparkEntry's graded bodies take (session, dir) and re-derive, so
    // the shared-frame variant reuses the SAME operator entry points
    // with the materialized pairs substituted where the graded body
    // calls docJaccardPairs.
    val docs = graft.Tables.documents(spark, sfDir)
    val block = concat(col("lang"), lit("|"),
      floor(col("n_chars") / 100).cast("long").cast("string"))
    var g: org.apache.spark.sql.DataFrame = null
    val tMat = time {
      g = graft.operators.PairGraph.materializeNearDup(docs, "doc_id",
        "text", blockCol = block, n = 3, minJaccard = 0.2)
      g.count() // computes the materialized blocks
    }
    import graft.operators.{Dedup, Graphs}
    def und = g.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(g.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("id"))
    val shared = Seq[(String, () => Long)](
      "dedup_ngram_jaccard" -> (() => g.count()),
      "dedup_groups" -> (() =>
        Dedup.connectedComponents(g, docs.select(col("doc_id")),
          "doc_id").count()),
      "graph_degree_hist" -> (() => g.select(col("id_a").as("id"))
        .union(g.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").count().count()),
      "graph_pagerank" -> (() =>
        Graphs.pagerank(und, "src", "dst", iterations = 2).count()),
      "graph_label_prop" -> (() =>
        Graphs.labelPropagation(und, "src", "dst", iterations = 3).count()),
      "graph_edge_jaccard" -> (() =>
        Graphs.edgeJaccard(g, "id_a", "id_b").count()),
      "graph_bfs_hops" -> (() =>
        Graphs.bfsHops(und, "src", "dst", seeds, rounds = 3).count()),
      "graph_kcore_peel" -> (() =>
        Graphs.kcorePeel(und, "src", "dst", k = 2, rounds = 3).count()),
      "graph_triangles" -> (() =>
        Graphs.triangles(g, "id_a", "id_b").count()))
    val sharedTimes = shared.map { case (q, f) => q -> time(f()) }
    def fmt(xs: Seq[(String, Double)]): String = xs.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    val selfSum = selfContained.map(_._2).sum
    val sharedSum = tMat + sharedTimes.map(_._2).sum
    println(s"""{"sf":"$sfDir","self_contained_sec":${"%.3f".format(selfSum)},"materialize_sec":${"%.3f".format(tMat)},"shared_total_sec":${"%.3f".format(sharedSum)},"self":${fmt(selfContained)},"shared":${fmt(sharedTimes)}}""")
    spark.stop()
  }
}
