package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._
import graft.sources.{FastaGenome, Gff3}

/** Catches the executed plan of the last action, so SQL metrics of the
  * plan that really ran (not a re-planned copy) can be read afterwards. */
final class LastPlan extends QueryExecutionListener {
  @volatile var plan: Option[SparkPlan] = None
  override def onSuccess(f: String,
      qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
    plan = Some(qe.executedPlan)
  override def onFailure(f: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}

object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Output rows of the joins in `plan` whose keys include a column whose
    * name contains `keyName`; the largest such join. */
  def joinRows(plan: Option[SparkPlan], keyName: String): Long = plan match {
    case None => 0L
    case Some(p) =>
      val rows = collectWithSubqueries(p) {
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
            .exists(_.references.exists(_.name.contains(keyName))) =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      if (rows.isEmpty) 0L else rows.max
  }
}

/** The pieces of a traced, layer-by-layer pass. `shapes` holds the
  * schemas of the composed flow's outputs, as graft's calls return them. */
final class LayerPass(spark: SparkSession, val L: Layers, val plans: LastPlan,
                      val mid: String, shapes: Map[String, StructType]) {
  val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val top: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Frames this pass composed that differ from graft's: check failures. */
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** The columns of the composed flow's output `name`. */
  def columnsOf(name: String): Seq[Column] =
    shapes(name).fieldNames.toSeq.map(c => col(s"`$c`"))

  /** A frame this pass builds from graft's stages must have the columns
    * and types of the composed flow's output `name` (nullability aside:
    * parquet reads every column as nullable). */
  def sameShape(name: String, df: DataFrame): Unit = {
    def cols(s: StructType) = s.fields.toSeq.map(f => s"${f.name} ${f.dataType.sql}")
    if (cols(df.schema) != cols(shapes(name)))
      mismatches += s"layered $name has columns ${cols(df.schema).mkString(", ")}; " +
        s"the composed flow's has ${cols(shapes(name)).mkString(", ")}"
  }

  /** Time one layer: `build` is the public call (eager driver jobs land
    * here), `plan` forces each frame's executed plan, `exec` writes. */
  def layer[T](name: String)(build: => T)(frames: T => Seq[DataFrame])(
      exec: T => Unit): T = {
    top += name
    L(name) {
      val t0 = System.nanoTime()
      val built = L.tracer.span(s"$name.build")(build)
      val t1 = System.nanoTime()
      L.tracer.span(s"$name.plan")(frames(built).foreach(_.queryExecution.executedPlan))
      val t2 = System.nanoTime()
      val cpu0 = Proc.cpuSeconds()
      L.tracer.span(s"$name.exec")(exec(built))
      val t3 = System.nanoTime()
      m(s"$name.build_s") = (t1 - t0) / 1e9
      m(s"$name.plan_s") = (t2 - t1) / 1e9
      m(s"$name.exec_s") = (t3 - t2) / 1e9
      m(s"$name.cpu_s") = Proc.cpuSeconds() - cpu0
      built
    }
  }

  def read(path: String): DataFrame = spark.read.parquet(path)
}

/** One benchmark workload: the composed flow a user runs (timed with
  * tracing off), the same flow split into layers (traced), and the exact
  * answers its outputs must match. */
trait Workload {
  def name: String
  def outputs: Seq[String]
  /** graft.functions kernels on this workload's path (probed when traced). */
  def kernels: Seq[String]
  /** Timed repetitions in a run; the median is reported. Two where they
    * fit the time budget: the first repetition after set-up still runs
    * while the JIT compiles, and a median of two halves its noise. */
  def reps: Int
  /** The composed flow: every public call, returning the output frames.
    * Eager driver work inside graft's calls happens here. */
  def build(spark: SparkSession, in: Inputs): Seq[(String, DataFrame)]
  /** The same flow one layer at a time, each layer on the materialized
    * output of the one before; writes every output under `out`. */
  def layered(spark: SparkSession, in: Inputs, out: String, p: LayerPass): Unit
  /** Per output, the column whose values the output's summary counts
    * rows by, for checks that need more than the total row count. */
  def groups: Map[String, Column] = Map.empty
  /** Exact-answer checks of the written outputs, given each output's
    * summary: failure messages. */
  def check(spark: SparkSession, in: Inputs, out: String,
            s: Map[String, Summary]): Seq[String]
}

/** A written output's order-free digest and its row count per value of
  * the workload's group column (one group without one). */
final case class Summary(digest: String, groups: Map[String, Long]) {
  def rows: Long = groups.values.sum
}

object Workloads {
  val all: Seq[Workload] = Seq(VariantLoad, CorpusCurate, GraphRounds)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; choose one of ${all.map(_.name).mkString(", ")}"))

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  val VariantKey: Seq[String] =
    Seq("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type")

  /** The distinct-variant projection VariantPipeline.run applies to scored
    * rows, for the layered pass, which calls the stages one by one. The
    * pass checks its columns against VariantPipeline.run's `variants`. */
  def distinctVariants(scored: DataFrame): DataFrame =
    scored.select((VariantKey.map(col) :+ col("dbsnp_class")): _*).distinct()
      .withColumn("var_id", xxhash64(VariantKey.map(col): _*))

  /** The small loaded store of variant_load, kept as JSON lines. */
  def jsonStore(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.schema(Gen.StoreSchema).json(s"${in.dir}/store")

  def expect(fails: mutable.ArrayBuffer[String], what: String, got: Any,
             want: Any): Unit =
    if (got != want) fails += s"$what: got $got, expected $want"

  def groupCounts(df: DataFrame, key: String): Map[String, Long] =
    df.groupBy(col(key)).count().collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
}

import Workloads._

object VariantLoad extends Workload {
  val name = "variant_load"
  val outputs = Seq("variants", "sampleDetail", "merged", "annotated")
  val kernels = Seq("zygosity_status", "quality_score", "translate_dna")
  val reps = 2

  def build(spark: SparkSession, in: Inputs): Seq[(String, DataFrame)] = {
    val lines = spark.read.textFile(s"${in.dir}/batch.vcf")
    val strains = VcfParser.headerStrains(lines)
    val models = Gff3.modelTables(spark.read.textFile(s"${in.dir}/genes.gff3"))
    val genome = FastaGenome.fromLines(spark, spark.read.textFile(s"${in.dir}/genome.fa"))
    val r = VariantPipeline.run(lines, strains, in.genders,
      jsonStore(spark, in),
      models.genes, models.transcripts, models.features, genome)
    Seq("variants" -> r.variants, "sampleDetail" -> r.sampleDetail,
      "merged" -> r.merged, "annotated" -> r.annotated.toDF())
  }

  def layered(spark: SparkSession, in: Inputs, out: String, p: LayerPass): Unit = {
    val mid = p.mid
    gff3(spark, in, p)
    val genome = fasta(spark, in, p)
    val lines = spark.read.textFile(s"${in.dir}/batch.vcf")
    p.layer("vcfparser") {
      VcfParser.parse(lines, VcfParser.headerStrains(lines))
    } { df => Seq(df) } { df => write(df, s"$mid/cf2") }
    p.layer("score") {
      VariantPipeline.score(p.read(s"$mid/cf2"), in.genders)
    } { df => Seq(df) } { df =>
      write(df, s"$mid/scored")
      write(p.read(s"$mid/scored").select(p.columnsOf("sampleDetail"): _*),
        s"$out/sampleDetail")
    }
    val variants = p.layer("merge") {
      distinctVariants(p.read(s"$mid/scored"))
    } { df => Seq(df) } { df =>
      write(df, s"$out/variants")
      write(VariantMerge.classify(p.read(s"$out/variants"),
        jsonStore(spark, in), VariantKey, "variant_id"),
        s"$out/merged")
    }
    p.sameShape("variants", variants)
    p.layer("annotate") {
      TranscriptAnnotator.annotate(
        p.read(s"$out/variants").select("var_id", "chr", "pos", "ref_nuc", "var_nuc"),
        p.read(s"$mid/genes"), p.read(s"$mid/transcripts"),
        p.read(s"$mid/features"), genome).toDF()
    } { df => Seq(df) } { df => annotated(p, df, s"$out/annotated") }
  }

  /** sampleDetail rows count by "strain/X" on chromosome X and "strain/"
    * elsewhere. */
  override val groups: Map[String, Column] = Map(
    "sampleDetail" -> concat_ws("/", col("strain"), when(col("chr") === "X", "X").otherwise("")),
    "merged" -> col("merge_action"))

  def check(spark: SparkSession, in: Inputs, out: String,
            s: Map[String, Summary]): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val e = in.expected
    expect(f, "variants rows", s("variants").rows, e("variants"))
    val det = s("sampleDetail").groups
    val perStrain = det.groupMapReduce(_._1.split("/")(0))(_._2)(_ + _)
    e.collect { case (k, v) if k.startsWith("strain.") => k.drop(7) -> v }
      .foreach { case (st, v) =>
        expect(f, s"sampleDetail rows of $st", perStrain.getOrElse(st, 0L), v) }
    expect(f, "sampleDetail rows", s("sampleDetail").rows, e("sample_rows"))
    expect(f, "sampleDetail X rows",
      det.collect { case (k, v) if k.endsWith("/X") => v }.sum, e("sample_rows_x"))
    val split = s("merged").groups
    expect(f, "merged already_in_rgd", split.getOrElse("already_in_rgd", 0L),
      e("merge_present"))
    expect(f, "merged insert", split.getOrElse("insert", 0L), e("merge_insert"))
    expect(f, "annotated rows", s("annotated").rows, e("annotated_rows"))
    f.toSeq
  }

  /** Writes the annotator output and reads the range join's output rows
    * off the plan that ran. */
  def annotated(p: LayerPass, df: DataFrame, path: String): Unit = {
    write(df, path)
    p.L.settle()
    p.m("annotate.candidates") = PlanMetrics.joinRows(p.plans.plan, "bin").toDouble
  }

  /** Gene-model tables, written under the pass's scratch dir for the
    * annotate layer to read. */
  def gff3(spark: SparkSession, in: Inputs, p: LayerPass): Unit =
    p.layer("sources.gff3") {
      Gff3.modelTables(spark.read.textFile(s"${in.dir}/genes.gff3"))
    } { t => Seq(t.genes, t.transcripts, t.features) } { t =>
      write(t.genes, s"${p.mid}/genes"); write(t.transcripts, s"${p.mid}/transcripts")
      write(t.features, s"${p.mid}/features")
    }

  def fasta(spark: SparkSession, in: Inputs, p: LayerPass): FastaGenome.BroadcastGenome =
    p.layer("sources.fasta") {
      FastaGenome.fromLines(spark, spark.read.textFile(s"${in.dir}/genome.fa"))
    } { _ => Nil } { g =>
      // ship the broadcast to the executors: one chunk per chromosome
      import spark.implicits._
      val chrs = g.bc.value.keys.toSeq.sorted
      chrs.toDS().repartition(chrs.size)
        .map(c => (c, g.chunk(c, 1, Int.MaxValue).length.toLong))
        .toDF("chr", "bases").write.format("noop").mode("overwrite").save()
      p.m("sources.fasta.rows_out") = g.bc.value.values.map(_.length.toLong).sum.toDouble
    }
}

object CorpusCurate extends Workload {
  val name = "corpus_curate"
  val outputs = Seq("curated", "stats", "shards")
  val kernels = Seq("text_stats", "lang_id")
  val reps = 2
  val Shards = 16
  val block: Column = col("lang_pred")

  def build(spark: SparkSession, in: Inputs): Seq[(String, DataFrame)] = {
    val curated = CorpusPipeline.curate(
      spark.read.schema(Gen.DocSchema).json(s"${in.dir}/docs"), "id", "text", block)
    Seq("curated" -> curated, "stats" -> CorpusPipeline.stats(curated),
      "shards" -> Curation.shardBalanced(curated, "id", "n_chars", Shards))
  }

  def layered(spark: SparkSession, in: Inputs, out: String, p: LayerPass): Unit = {
    val mid = p.mid
    val cfg = CorpusPipeline.Config()
    val docs = spark.read.schema(Gen.DocSchema).json(s"${in.dir}/docs")
    p.layer("text") {
      TextAnalysis.qualityFeatures(col("text")).foldLeft(docs) {
        case (acc, (n, c)) => acc.withColumn(n, c) }
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
    } { df => Seq(df) } { df => write(df, s"$mid/text") }
    p.layer("neardup") {
      Dedup.ngramJaccardPairs(p.read(s"$mid/text"), "id", "text", block,
        cfg.shingleLen, cfg.jaccardThreshold, cfg.maxShingleDf)
    } { df => Seq(df) } { df =>
      write(df, s"$mid/pairs")
      p.L.settle()
      p.m("neardup.candidates") =
        PlanMetrics.joinRows(p.plans.plan, "id_a").toDouble
    }
    p.layer("curate") {
      CorpusPipeline.curate(docs, "id", "text", block, cfg)
    } { df => Seq(df) } { df =>
      write(df, s"$out/curated")
      write(CorpusPipeline.stats(p.read(s"$out/curated")), s"$out/stats")
    }
    p.layer("shard") {
      Curation.shardBalanced(p.read(s"$out/curated"), "id", "n_chars", Shards)
    } { df => Seq(df) } { df => write(df, s"$out/shards") }
  }

  override val groups: Map[String, Column] = Map("shards" -> col("shard"))

  def check(spark: SparkSession, in: Inputs, out: String,
            s: Map[String, Summary]): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val e = in.expected
    val n = s("curated").rows
    expect(f, "curated rows", n, e("curated"))
    expect(f, "curated distinct fingerprints", spark.read.parquet(s"$out/curated")
      .agg(countDistinct(col("fingerprint"))).head.getLong(0), n)
    val stats = spark.read.parquet(s"$out/stats").collect()
      .map(r => r.getAs[String]("lang_pred") -> r.getAs[Long]("n_docs")).toMap
    e.collect { case (k, v) if k.startsWith("lang.") => k.drop(5) -> v }
      .foreach { case (l, v) =>
        expect(f, s"stats n_docs of $l", stats.getOrElse(l, 0L), v) }
    val shards = s("shards").groups
    expect(f, "shards rows", shards.values.sum, e("curated"))
    expect(f, "shard count", shards.size.toLong, math.min(e("shards"), n))
    if (shards.nonEmpty && shards.values.max - shards.values.min > 1)
      f += s"shard sizes unbalanced: ${shards.values.min}..${shards.values.max}"
    f.toSeq
  }
}

object GraphRounds extends Workload {
  val name = "graph_rounds"
  val outputs = Seq("cc", "lpa", "audit", "pagerank")
  val kernels = Seq.empty[String]
  val reps = 1
  val LpaRounds = 2
  val AuditRounds = 1
  val PagerankRounds = 2

  def pairs(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.schema("id_a LONG, id_b LONG").option("sep", "\t")
      .csv(s"${in.dir}/edges.tsv")
  def nodes(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.schema("id LONG").csv(s"${in.dir}/nodes.txt")
  def directed(p: DataFrame): DataFrame =
    p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))

  def build(spark: SparkSession, in: Inputs): Seq[(String, DataFrame)] = {
    val p = pairs(spark, in)
    Seq(
      "cc" -> Dedup.connectedComponents(p, nodes(spark, in), "id"),
      "lpa" -> Graphs.labelPropagation(directed(p), "src", "dst", LpaRounds),
      "audit" -> PairGraph.communityAudit(p, "id_a", "id_b", AuditRounds),
      "pagerank" -> Graphs.pagerank(directed(p), "src", "dst", PagerankRounds))
  }

  def layered(spark: SparkSession, in: Inputs, out: String, p: LayerPass): Unit = {
    val e = pairs(spark, in)
    p.layer("graphs.cc")(Dedup.connectedComponents(e, nodes(spark, in), "id"))(
      df => Seq(df))(df => write(df, s"$out/cc"))
    p.layer("graphs.lpa")(Graphs.labelPropagation(directed(e), "src", "dst", LpaRounds))(
      df => Seq(df))(df => write(df, s"$out/lpa"))
    p.layer("graphs.audit")(PairGraph.communityAudit(e, "id_a", "id_b", AuditRounds))(
      df => Seq(df))(df => write(df, s"$out/audit"))
    p.layer("graphs.pagerank")(Graphs.pagerank(directed(e), "src", "dst", PagerankRounds))(
      df => Seq(df))(df => write(df, s"$out/pagerank"))
  }

  def check(spark: SparkSession, in: Inputs, out: String,
            s: Map[String, Summary]): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val e = in.expected
    val cc = spark.read.parquet(s"$out/cc")
      .agg(count(lit(1)), countDistinct(col("group_id")), sum(col("group_id"))).head
    expect(f, "cc rows", cc.getLong(0), e("nodes"))
    expect(f, "cc components", cc.getLong(1), e("components"))
    expect(f, "cc sum of group ids", cc.getLong(2), e("group_id_sum"))
    expect(f, "lpa rows", s("lpa").rows, e("edge_nodes"))
    val pr = spark.read.parquet(s"$out/pagerank").agg(count(lit(1)), sum(col("pr"))).head
    expect(f, "pagerank rows", pr.getLong(0), e("edge_nodes"))
    if (math.abs(pr.getDouble(1) - 1.0) > 1e-6) f += s"pagerank mass ${pr.getDouble(1)} != 1"
    val audit = spark.read.parquet(s"$out/audit")
      .agg(sum(col("n_members")), max(col("n_edges"))).head
    expect(f, "audit members", audit.getLong(0), e("edge_nodes"))
    expect(f, "audit edges", audit.getLong(1), e("edges"))
    f.toSeq
  }
}
