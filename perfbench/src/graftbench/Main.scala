package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metric names and units, in the order they are printed. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "rows/s", "cpu_s" -> "s",
    "peak_heap_mb" -> "MB", "setup_s" -> "s")

  val layers: Seq[String] = Seq("sources.gff3", "sources.fasta", "vcfparser",
    "score", "merge", "annotate", "text", "neardup", "curate", "shard",
    "graphs.cc", "graphs.lpa", "graphs.audit", "graphs.pagerank")

  private def graphs(l: String) = Seq(s"$l.build_s" -> "s", s"$l.exec_s" -> "s",
    s"$l.jobs" -> "count", s"$l.ms_per_job" -> "ms")

  val perLayer: Seq[(String, String)] = Seq(
    "sessions.start_s" -> "s", "sessions.warmup_s" -> "s",
    "inputs.gen_s" -> "s",
    "sources.gff3.build_s" -> "s", "sources.gff3.exec_s" -> "s",
    "sources.gff3.rows_out" -> "rows",
    "sources.fasta.build_s" -> "s", "sources.fasta.exec_s" -> "s",
    "sources.fasta.rows_out" -> "bases",
    "vcfparser.exec_s" -> "s", "vcfparser.cpu_s" -> "s", "vcfparser.tasks" -> "count",
    "vcfparser.rows_in" -> "rows", "vcfparser.rows_out" -> "rows",
    "vcfparser.ns_per_line" -> "ns",
    "score.exec_s" -> "s", "score.ns_per_row" -> "ns",
    "merge.exec_s" -> "s", "merge.scan_mb" -> "MB", "merge.shuffle_mb" -> "MB",
    "merge.spill_mb" -> "MB", "merge.rows_insert" -> "rows",
    "merge.rows_present" -> "rows",
    "annotate.exec_s" -> "s", "annotate.cpu_s" -> "s",
    "annotate.candidates" -> "rows", "annotate.rows_out" -> "rows",
    "annotate.candidate_yield" -> "ratio",
    "text.exec_s" -> "s", "text.ns_per_doc" -> "ns",
    "neardup.exec_s" -> "s", "neardup.shuffle_mb" -> "MB", "neardup.spill_mb" -> "MB",
    "neardup.candidates" -> "rows", "neardup.pairs" -> "rows",
    "neardup.pair_yield" -> "ratio",
    "curate.build_s" -> "s", "curate.exec_s" -> "s", "curate.jobs" -> "count",
    "shard.build_s" -> "s", "shard.exec_s" -> "s", "shard.jobs" -> "count") ++
    Seq("graphs.cc", "graphs.lpa", "graphs.audit", "graphs.pagerank").flatMap(graphs) ++
    Seq("engine.build_s" -> "s", "engine.plan_s" -> "s", "engine.exec_s" -> "s",
      "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
      "engine.executor_cpu_s" -> "s", "engine.core_util" -> "ratio",
      "engine.shuffle_mb" -> "MB", "engine.spill_mb" -> "MB",
      "engine.scan_amplification" -> "ratio", "engine.output_mb" -> "MB",
      "engine.gc_s" -> "s",
      "tracing.overhead_s" -> "s", "tracing.uncovered_s" -> "s") ++
    layers.map(l => s"$l.self_s" -> "s") ++
    Probes.all.map(k => s"functions.$k.ns_per_row" -> "ns") ++
    Seq("checks.failed_frac" -> "ratio", "machine.sentinel_s" -> "s",
      "machine.contaminated" -> "flag")
}

final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
    trace: Boolean = false, work: String = ".bench_work", scale: String = "full",
    code: String = "dev", corrupt: Option[String] = None,
    generateOnly: Option[String] = None)

object Main {
  val SetupCycles = 2

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--scale" :: v :: t => parse(t, o.copy(scale = v))
    case "--code" :: v :: t => parse(t, o.copy(code = v))
    case "--corrupt" :: v :: t => parse(t, o.copy(corrupt = Some(v)))
    case "--generate-only" :: v :: t => parse(t, o.copy(generateOnly = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: String): SparkSession = {
    val s = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One job per written output: its row count per value of `by` and an
    * order-free digest, the row count and the sums of the two 32-bit
    * halves of each row's xxhash64. */
  def summarize(spark: SparkSession, path: String, by: Option[Column]): Summary = {
    val df = spark.read.parquet(path)
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val rows = df.groupBy(by.getOrElse(lit("")).cast("string"))
      .agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(h, 32))).collect()
    def total(i: Int) = rows.map(_.getLong(i)).sum
    Summary(s"${total(1)}:${total(2)}:${total(3)}",
      rows.map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap)
  }

  def writeAll(frames: Seq[(String, DataFrame)], out: String): Unit =
    frames.foreach { case (n, df) => Workloads.write(df, s"$out/$n") }

  /** Drop the largest data file of one output: the checks must notice. */
  def corrupt(out: String, output: String): Unit = {
    val files = Option(new File(s"$out/$output").listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.length > 0)
    if (files.nonEmpty) files.maxBy(_.length).delete()
  }

  def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val work = new File(o.work).getAbsolutePath
    o.generateOnly.foreach { dir =>
      val wls = if (o.workload == "all") Workloads.all else Seq(Workloads.byName(o.workload))
      wls.foreach { w =>
        val in = Gen.generate(w.name, o.seed, o.scale, s"$dir/${w.name}")
        println(s"generated ${in.dir}: ${in.rows} rows, ${in.bytes} bytes, ${in.files} files")
      }
      return
    }
    val wl = Workloads.byName(o.workload)
    val runId = f"${wl.name}-s${o.seed}-${ProcessHandle.current.pid}"
    val runDir = s"$work/runs/$runId"
    new File(runDir).mkdirs()
    val loadPre = graft.Bench.loadAvg1()
    val tracer = new Tracer(runId, o.trace)

    var attempted = 0L
    var failed = 0L
    def fail(msg: String): Unit = println(s"CHECK FAILED: $msg")

    // set-up: session start + warm-up, SetupCycles times; the median is setup_s
    val starts = mutable.ArrayBuffer.empty[Double]
    val warmups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var in: Inputs = null
    var warm: Inputs = null
    var genS = 0.0
    tracer.span("setup") {
      (0 until SetupCycles).foreach { k =>
        val t0 = System.nanoTime()
        spark = tracer.span("sessions.start")(session(runDir))
        starts += (System.nanoTime() - t0) / 1e9
        if (k == 0) {
          val g0 = System.nanoTime()
          in = Gen.generate(wl.name, o.seed, o.scale, s"$runDir/in")
          warm = Gen.generate(wl.name, o.seed + 1000003L, "tiny", s"$runDir/warm_in")
          genS = (System.nanoTime() - g0) / 1e9
        }
        Gen.deleteRecursively(new File(s"$runDir/warm_out"))
        val t1 = System.nanoTime()
        tracer.span("sessions.warmup")(writeAll(wl.build(spark, warm), s"$runDir/warm_out"))
        warmups += (System.nanoTime() - t1) / 1e9
        if (k < SetupCycles - 1) spark.stop()
      }
    }
    val setupS = median(starts.indices.map(i => starts(i) + warmups(i)))
    println(f"generate: workload=${wl.name} seed=${o.seed} scale=${o.scale} " +
      f"rows=${in.rows} bytes=${in.bytes} files=${in.files} gen_s=$genS%.3f")

    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val plans = new LastPlan
    spark.listenerManager.register(plans)
    val layers = new Layers(spark, tracer)
    val cores = sc.defaultParallelism
    val sentinel = graft.Bench.sentinelOnce(spark)

    // digests are compared only between runs of the same code (o.code is
    // build.py's stamp of every source), never across commits
    val sizeTag = "%08x".format(in.sizes.toString.hashCode)
    val digestFile = new File(
      s"$work/digests/${wl.name}-${o.scale}-$sizeTag-${o.code}-s${o.seed}.txt")
    var firstDigests: Option[Map[String, String]] = None
    val out = s"$runDir/out"

    /** Checks one set of written outputs: exact answers plus digests that
      * must equal the first set of this run and of any earlier run of the
      * same seed and code. `extra` are failures found while running. One
      * operation per output. */
    def checkOutputs(label: String, extra: Seq[String] = Nil): Unit = {
      val summaries = wl.outputs.map { n =>
        n -> (try Right(summarize(spark, s"$out/$n", wl.groups.get(n)))
          catch { case e: Exception => Left(s"unreadable: ${e.getMessage}") })
      }.toMap
      val digests = summaries.map { case (n, r) => n -> r.fold(identity, _.digest) }
      val exact = extra ++ (try wl.check(spark, in, out,
          summaries.collect { case (n, Right(s)) => n -> s })
        catch { case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
      val want = firstDigests.orElse {
        if (digestFile.exists) Some(new String(Files.readAllBytes(digestFile.toPath),
          StandardCharsets.UTF_8).linesIterator.map(_.split("\t", 2))
          .collect { case Array(k, v) => k -> v }.toMap)
        else None
      }
      val bad = mutable.LinkedHashSet.empty[String]
      exact.foreach { m => fail(s"$label: $m"); bad += "exact" }
      wl.outputs.foreach { n =>
        want.flatMap(_.get(n)).foreach { w =>
          if (w != digests(n)) { fail(s"$label: digest of $n is ${digests(n)}, expected $w"); bad += n }
        }
      }
      if (firstDigests.isEmpty && exact.isEmpty && bad.isEmpty) {
        firstDigests = Some(digests)
        if (!digestFile.exists) {
          digestFile.getParentFile.mkdirs()
          Files.write(digestFile.toPath, digests.toSeq.sorted
            .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8))
        }
      }
      attempted += wl.outputs.size
      failed += (if (exact.nonEmpty) wl.outputs.size else bad.size)
    }

    // schemas of the composed flow's outputs, for the layered pass
    var shapes = Map.empty[String, org.apache.spark.sql.types.StructType]

    /** One untraced repetition of the composed flow: inputs on disk to every
      * output written. Returns (wall, cpu). */
    def rep(label: String, group: Option[String] = None): (Double, Double) = {
      Gen.deleteRecursively(new File(out))
      System.gc()
      group.foreach(g => sc.setJobGroup(g, g, interruptOnCancel = false))
      val cpu0 = Proc.cpuSeconds()
      val t0 = System.nanoTime()
      try {
        val frames = tracer.span(s"$label.build")(wl.build(spark, in))
        shapes = frames.map { case (n, df) => n -> df.schema }.toMap
        if (group.isDefined)
          tracer.span(s"$label.plan")(frames.foreach(_._2.queryExecution.executedPlan))
        tracer.span(s"$label.exec")(writeAll(frames, out))
      } catch {
        case e: Exception =>
          fail(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Proc.cpuSeconds() - cpu0
      println(f"$label: wall_s=$wall%.3f cpu_s=$cpu%.3f")
      o.corrupt.foreach(c => corrupt(out, c))
      checkOutputs(label)
      (wall, cpu)
    }

    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val perLayer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def record(k: String, v: Double): Unit =
      perLayer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

    val peakHeap = new PeakHeap
    peakHeap.start()
    val measureStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - measureStart) / 1e9
    if (!o.trace) {
      while (walls.size < wl.reps || elapsed < o.seconds) {
        val (w, c) = rep(s"rep${walls.size}")
        walls += w; cpus += c
      }
    } else {
      // the whole flow untraced under one job group (the engine layer),
      // then layer-by-layer passes until the time is spent
      listener.reset()
      val gc0 = Proc.gcSeconds()
      val (w0, c0) = tracer.span("engine")(rep("engine", Some("engine")))
      walls += w0; cpus += c0
      layers.settle()
      val eg = listener.group("engine")
      val engineSpan = tracer.spans.filter(_.name == "engine").last
      tracer.children(engineSpan.id).foreach { s =>
        record(s.name + "_s", s.seconds) }
      record("engine.jobs", eg.jobs.toDouble)
      record("engine.stages", eg.stages.toDouble)
      record("engine.tasks", eg.tasks.toDouble)
      record("engine.executor_cpu_s", eg.executorCpuNs / 1e9)
      record("engine.core_util", eg.executorCpuNs / 1e9 / (w0 * cores))
      record("engine.shuffle_mb", eg.shuffleWriteBytes / 1048576.0)
      record("engine.spill_mb", eg.diskSpillBytes / 1048576.0)
      record("engine.scan_amplification", eg.inputBytes.toDouble / math.max(1L, in.bytes))
      record("engine.output_mb", eg.outputBytes / 1048576.0)
      record("engine.gc_s", Proc.gcSeconds() - gc0)

      var pass = 0
      while (pass < 1 || elapsed < o.seconds) {
        Gen.deleteRecursively(new File(out))
        val mid = s"$runDir/mid"
        Gen.deleteRecursively(new File(mid))
        System.gc()
        listener.reset()
        val p = new LayerPass(spark, layers, plans, mid, shapes)
        val thrown = try { tracer.span("workload")(wl.layered(spark, in, out, p)); Nil }
          catch { case e: Exception =>
            Seq(s"layered pass threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        layers.settle()
        val rootSpan = tracer.spans.filter(_.name == "workload").last
        val tops = tracer.children(rootSpan.id)
        record("tracing.overhead_s", rootSpan.seconds - w0)
        record("tracing.uncovered_s", rootSpan.seconds - tops.map(_.seconds).sum)
        tops.foreach(s => record(s"${s.name}.self_s", tracer.selfSeconds(s)))
        p.m.foreach { case (k, v) => record(k, v) }
        p.top.foreach { l =>
          val g = listener.group(l)
          val wallL = p.m.getOrElse(s"$l.build_s", 0.0) + p.m.getOrElse(s"$l.exec_s", 0.0)
          record(s"$l.jobs", g.jobs.toDouble)
          record(s"$l.tasks", g.tasks.toDouble)
          record(s"$l.ms_per_job", if (g.jobs == 0) 0.0 else wallL * 1000 / g.jobs)
          record(s"$l.scan_mb", g.inputBytes / 1048576.0)
          record(s"$l.shuffle_mb", g.shuffleWriteBytes / 1048576.0)
          record(s"$l.spill_mb", g.diskSpillBytes / 1048576.0)
          if (!p.m.contains(s"$l.rows_out")) record(s"$l.rows_out", g.outputRecords.toDouble)
        }
        layerDerived(in, p.m, listener, record)
        checkOutputs(s"traced$pass", thrown ++ p.mismatches)
        pass += 1
      }
      if (wl == VariantLoad) {
        val split = Workloads.groupCounts(spark.read.parquet(s"$out/merged"), "merge_action")
        record("merge.rows_insert", split.getOrElse("insert", 0L).toDouble)
        record("merge.rows_present", split.getOrElse("already_in_rgd", 0L).toDouble)
      }
      tracer.span("functions")(Probes.run(spark, wl.kernels, tracer))
        .foreach { case (k, v) => record(s"functions.$k.ns_per_row", v) }
    }

    val peakHeapMb = peakHeap.stop()
    val loadPost = graft.Bench.loadAvg1()
    val contaminated = graft.Bench.contaminatedFlag(sentinel, Nil, loadPre, cores)
    println(f"machine: cores=$cores loadavg_pre=$loadPre%.2f loadavg_post=$loadPost%.2f " +
      f"sentinel_s=$sentinel%.3f contaminated=$contaminated")
    spark.stop()

    if (o.trace) {
      val spansFile = new File(s"$work/traces/$runId.json")
      spansFile.getParentFile.mkdirs()
      Files.write(spansFile.toPath, tracer.toJson.getBytes(StandardCharsets.UTF_8))
      println(s"spans: ${spansFile.getPath}")
    }
    Gen.deleteRecursively(new File(runDir))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val wall = median(walls.toSeq)
        val v = Map("wall_s" -> wall, "rows_per_s" -> in.rows / wall,
          "cpu_s" -> median(cpus.toSeq), "peak_heap_mb" -> peakHeapMb, "setup_s" -> setupS)
        Metrics.endToEnd.map { case (k, unit) => (k, v(k), unit) }
      } else {
        record("sessions.start_s", median(starts.toSeq))
        record("sessions.warmup_s", median(warmups.toSeq))
        record("inputs.gen_s", genS)
        record("checks.failed_frac", failed.toDouble / math.max(1L, attempted))
        record("machine.sentinel_s", sentinel)
        record("machine.contaminated", if (contaminated) 1.0 else 0.0)
        Metrics.perLayer.map { case (k, unit) =>
          (k, perLayer.get(k).map(v => median(v.toSeq)).getOrElse(0.0), unit) }
      }
    val body = metrics.map { case (k, v, u) =>
      s"""${json(k)}: {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": ${json(u)}}"""
    }.mkString(", ")
    println(s"""RESULT {"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Ratios and per-row costs derived from a pass's raw layer numbers. */
  def layerDerived(in: Inputs, m: mutable.Map[String, Double],
                   listener: GroupListener, record: (String, Double) => Unit): Unit = {
    def g(k: String): Double = m.getOrElse(k, 0.0)
    val lines = in.rows.toDouble
    if (m.contains("vcfparser.exec_s")) {
      record("vcfparser.rows_in", lines)
      record("vcfparser.ns_per_line", g("vcfparser.exec_s") * 1e9 / lines)
      val cf2 = listener.group("vcfparser").outputRecords.toDouble
      record("score.ns_per_row", if (cf2 == 0) 0.0 else g("score.exec_s") * 1e9 / cf2)
    }
    if (m.contains("annotate.exec_s")) {
      val out = listener.group("annotate").outputRecords.toDouble
      val cand = g("annotate.candidates")
      record("annotate.candidate_yield", if (cand == 0) 0.0 else out / cand)
    }
    if (m.contains("text.exec_s"))
      record("text.ns_per_doc", g("text.exec_s") * 1e9 / lines)
    if (m.contains("neardup.exec_s")) {
      val pairs = listener.group("neardup").outputRecords.toDouble
      record("neardup.pairs", pairs)
      val cand = g("neardup.candidates")
      record("neardup.pair_yield", if (cand == 0) 0.0 else pairs / cand)
    }
  }
}
