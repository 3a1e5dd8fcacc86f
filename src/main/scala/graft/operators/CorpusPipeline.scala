package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialization.materialize

/** Composed corpus-curation flow — the training-data twin of
  * [[VariantPipeline]]: exact dedup → quality gating → language ID →
  * near-dup removal → per-language stats. Each stage is the tested
  * operator; chaining stays declarative so Catalyst plans the whole
  * flow (one pass for the narrow stages, candidate-bounded joins for
  * the near-dup stage).
  *
  * Survivor policy (deterministic): exact dups keep the lowest doc id;
  * near-dup pairs drop the higher id of every pair.
  */
object CorpusPipeline {

  case class Config(
      minQuality: Double = 30.0,
      minTokens: Long = 5,
      jaccardThreshold: Double = 0.6,
      shingleLen: Int = 3,
      maxShingleDf: Int = 8)

  /** Curate: returns the surviving documents with `lang_pred`, quality
    * features and fingerprint attached. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             blockCol: Column, cfg: Config = Config()): DataFrame = {
    val id = col(idCol)

    // 1. exact dedup: keep the lowest id per normalized fingerprint
    val withFp = docs.withColumn("fingerprint",
      md5(Dedup.normText(col(textCol))))
    val keeper = withFp.groupBy("fingerprint")
      .agg(min(id).as(idCol))
    val deduped = withFp.join(keeper, Seq("fingerprint", idCol), "left_semi")

    // 2. quality gating
    val feats = TextAnalysis.qualityFeatures(col(textCol))
    val scored = feats.foldLeft(deduped) { case (acc, (n, c)) =>
      acc.withColumn(n, c)
    }
    val gated = scored.filter(
      col("quality") >= cfg.minQuality && col("n_tokens") >= cfg.minTokens)

    // 3. language id
    // Materialized ONCE: the near-dup stage references this frame on
    // both sides of its candidate/verify joins and the final anti-join
    // reads it again — without the cut, the fingerprint + semi-join +
    // quality-kernel + langId upstream re-executes per reference (the
    // plan scanned documents 8 times).
    val withLang = materialize(gated.withColumn("lang_pred",
      TextAnalysis.langId(col(textCol))))

    // 4. near-dup removal: drop the higher id of each candidate pair
    val pairs = Dedup.ngramJaccardPairs(withLang, idCol, textCol,
      blockCol, cfg.shingleLen, cfg.jaccardThreshold, cfg.maxShingleDf)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    withLang.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-language rollup of the curated corpus. */
  def stats(curated: DataFrame): DataFrame =
    curated.groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("sum_tokens"),
        round(avg("quality"), 2).as("avg_quality"))
}
