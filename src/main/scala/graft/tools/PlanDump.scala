package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` physical plans of named queries to
  * files — the optimization round's before/after plan evidence
  * (plans/r14/<query>_<suffix>.txt).
  *
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.1 plans/r14 after q1_pricing_summary ..."
  *
  * Formatted output is the guide §7.2 view: numbered operators,
  * Exchange placement, join strategy + build side, PushedFilters /
  * ReadSchema at every scan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.drop(3).toSet
    val unknown = only -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted}")
    val spark = graft.Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
