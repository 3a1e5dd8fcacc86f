package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dna, Par, TextKernels, VariantF, Zygosity}
import graft.operators.TextAnalysis

/** Kernel probes: each graft.functions kernel over `spark.range`-generated
  * columns, written to the noop sink. A probe's cost is its wall time minus
  * that of the same frame without the kernel column, per input row. These
  * catch kernel regressions a sub-second stage hides. */
object Probes {
  val all: Seq[String] = Seq("zygosity_status", "quality_score",
    "translate_dna", "text_stats", "lang_id")

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def best(df: DataFrame, reps: Int): Double =
    (0 until reps).map(_ => noop(df)).min

  /** A fixed pseudo-random DNA / text pool the probe columns slice from. */
  private lazy val dnaPool: String = {
    val r = new Rng(17)
    (0 until 6000).map(_ => Gen.Bases.charAt(r.nextInt(4))).mkString
  }
  private lazy val textPool: String = {
    val r = new Rng(23)
    val words = Gen.LangMarkers.values.flatten.toIndexedSeq ++
      Gen.vocab(r, "en", 400) ++ Gen.vocab(r, "de", 400)
    (0 until 1500).map(_ => words(r.nextInt(words.size))).mkString(" ")
  }

  /** (rows, base frame, kernel column) of one probe. */
  private def setup(spark: SparkSession, kernel: String): (Long, DataFrame, Column) = {
    val cores = spark.sparkContext.defaultParallelism
    def range(n: Long) = spark.range(0L, n, 1L, cores).toDF()
    kernel match {
      case "zygosity_status" =>
        val n = 4000000L
        val df = range(n).select(
          (col("id") % 101).cast("double").as("pct"),
          when(col("id") % 2 === 0, "M").otherwise("F").as("gender"),
          when(col("id") % 5 === 0, "X").otherwise("1").as("chr"),
          (col("id") * 37 % 3000000).as("pos"))
        (n, df, Zygosity.status(col("pct"), col("gender"), col("chr"),
          Par.inPar(col("chr"), col("pos"))))
      case "quality_score" =>
        val n = 4000000L
        val df = range(n).select((col("id") % 50).cast("int").as("rd"),
          (col("id") % 61).cast("int").as("td"))
        (n, df, VariantF.qualityScore(col("rd"), col("td")))
      case "translate_dna" =>
        val n = 400000L
        val df = range(n).select(lit(dnaPool).substr((col("id") % 5000 + 1).cast("int"), lit(300)).as("seq"))
        (n, df, Dna.translateDna(col("seq")))
      case "text_stats" =>
        val n = 100000L
        (n, textFrame(range(n)), TextKernels.textStats(col("text")))
      case "lang_id" =>
        val n = 100000L
        (n, textFrame(range(n)), TextAnalysis.langId(col("text")))
    }
  }

  private def textFrame(r: DataFrame): DataFrame =
    r.select(lit(textPool).substr((col("id") % 5000 + 1).cast("int"), lit(400))
      .as("text"))

  /** ns per row of each kernel (net of its input frame), run under the
    * tracer's `functions` span. */
  def run(spark: SparkSession, kernels: Seq[String], tracer: Tracer,
          reps: Int = 2): Map[String, Double] =
    kernels.map { k =>
      tracer.span(s"functions.$k") {
        val (n, base, kcol) = setup(spark, k)
        val withK = base.withColumn("__k", kcol)
        noop(withK) // compile and warm
        val tb = best(base, reps)
        val tk = best(withK, reps)
        k -> math.max(0.0, tk - tb) * 1e9 / n
      }
    }.toMap
}
