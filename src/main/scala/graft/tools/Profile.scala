package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query execution profile: wall seconds plus the scheduler-level
  * shape (jobs, stages, tasks, shuffle bytes, spill) that the one-line
  * bench number hides. The optimization guide's §1 "measure first"
  * instrument for this repo: a query whose wall time is dominated by
  * job/stage count wants fewer rounds or fewer exchanges; one dominated
  * by shuffle bytes wants narrower rows; one with many tasks but tiny
  * data wants AQE coalescing.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Profile /root/testdata/sf0.1 dedup_groups graph_modularity"
  *
  * Each query runs twice (cold = codegen + first-touch, warm = steady
  * state, matching the bench's best-of-3 min) and reports the WARM run's
  * listener counters. Timing action matches Bench (`count()`).
  */
object Profile {
  final class Counters extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    @volatile var inputBytes = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
      }
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; shuffleRead = 0
      shuffleWrite = 0; spill = 0; inputBytes = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSet
    val unknown = only -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted}")
    val spark = graft.Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    // one warm-up query so the first profiled name doesn't absorb
    // session-wide cold costs (same reasoning as Bench's untimed pass)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    println(f"${"query"}%-28s ${"cold_s"}%7s ${"warm_s"}%7s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"shufMB"}%8s ${"spillMB"}%8s ${"inMB"}%7s")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val cold = (System.nanoTime() - t0) / 1e9
          // settle async listener events from the cold run before reset
          Thread.sleep(300)
          c.reset()
          val t1 = System.nanoTime()
          fn(spark, sfDir).count()
          val warm = (System.nanoTime() - t1) / 1e9
          Thread.sleep(300)
          println(f"$name%-28s $cold%7.2f $warm%7.2f ${c.jobs}%5d ${c.stages}%4d ${c.tasks}%6d ${c.shuffleRead / 1e6}%8.1f ${c.spill / 1e6}%8.1f ${c.inputBytes / 1e6}%7.1f")
        } catch {
          case e: Throwable => println(s"$name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
