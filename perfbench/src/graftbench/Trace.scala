package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Process-level gauges read from the JVM and /proc. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      ms += math.max(0L, b.getCollectionTime) }
    ms / 1e3
  }
}

/** The most heap in use right after any garbage collection while it
  * listens: what the program holds live (cached frames, broadcasts, join
  * and aggregation buffers), not garbage awaiting collection, and not the
  * heap size the collector chose. */
final class PeakHeap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = 0L

  def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))

  /** Stops listening and returns the peak in MB. */
  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(this))
    peak / 1048576.0
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
}

/** Scheduler counters of one job group (one layer), summed over every job
  * Spark ran for it. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var shuffleWriteBytes = 0L
  var diskSpillBytes = 0L
}

/** Attributes scheduler events to the job group that was set when the job
  * started, so each layer gets its own job, stage, task and byte counts. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, GroupCounters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def counters(g: String): GroupCounters =
    byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val g = Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counters(g).jobs += 1
    j.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(s.stageInfo.stageId, "")
    if (s.stageInfo.submissionTime.isDefined) counters(g).stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(t.stageId, "")
    val c = counters(g)
    c.tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      c.executorCpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.diskSpillBytes += m.diskBytesSpilled
    }
  }

  /** The counters of one group; read after [[Layers.settle]]. */
  def group(g: String): GroupCounters = synchronized {
    byGroup.getOrElse(g, new GroupCounters)
  }

  def reset(): Unit = synchronized { byGroup.clear(); stageGroup.clear() }
}

/** One timed interval. All spans of a benchmark run share `runId`. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: spans nest by call structure, are kept in
  * memory while the run goes, and are written out once at the end. When
  * disabled it runs the bodies and records nothing. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name, System.nanoTime()) :: stack
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, parent, name, runId, start, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  def children(of: Int): Seq[Span] = spans.filter(_.parent == of)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).sortBy(_.startNs)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { k =>
      val a = math.max(k.startNs, reach)
      val b = math.min(k.endNs, s.endNs)
      if (b > a) { covered += b - a; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = {
    val body = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""run_id": "${s.runId}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_s": ${selfSeconds(s)}}"""
    }
    body.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Runs a layer under its own Spark job group so listener counters can be
  * attributed to it, and waits for the listener bus before reading them. */
final class Layers(spark: SparkSession, val tracer: Tracer) {
  private val sc = spark.sparkContext

  def apply[T](layer: String)(body: => T): T = tracer.span(layer) {
    sc.setJobGroup(layer, layer, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def settle(): Unit = org.apache.spark.graftbench.BusAccess.drain(sc)
}
