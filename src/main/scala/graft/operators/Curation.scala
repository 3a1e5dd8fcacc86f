package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialization.materialize

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: repetition-based quality rules, benchmark
  * decontamination, PII scrubbing, and deterministic stratified sampling
  * (temperature-weighted source mixing).
  *
  * All four are narrow, shuffle-light shapes:
  *  - repetition rules are a single-pass codegen kernel per row (zero
  *    shuffle);
  *  - decontamination shuffles only (doc, gram-hash) pairs and broadcasts
  *    the (small) benchmark gram set;
  *  - PII scrubbing is pure per-row regex work;
  *  - stratified sampling broadcasts a per-stratum rate table (one row per
  *    stratum) and filters with a deterministic md5-uniform — no
  *    `rand()`, so the sample is reproducible across engines, retries and
  *    speculative re-execution (rand() in a filter breaks task retry
  *    idempotence at scale).
  */
object Curation {

  import Dedup.normText

  /** Gopher-style repetition quality profile (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 — public): per document, word counts,
    * duplicate-word fraction, the character fraction covered by the most
    * frequent word bigram, and the character fraction in duplicated word
    * trigrams, plus a keep flag over the standard thresholds. The exact
    * integer numerators/denominators come from the one-pass
    * [[graft.functions.TextKernels.repStats]] kernel; fractions are
    * rounded once at the output so any engine reproduces them.
    *
    * Output: (id, n_words, mean_word_len, dup_word_frac, top_bigram_frac,
    * dup_trigram_frac, keep∈{0,1}).
    */
  /** `docs` plus a `__s` column holding the repStats array, materialized
    * behind an `explode(array(...))` Generate. The Generate is a
    * pushdown/collapse barrier: downstream filters and projections
    * reference the generated ATTRIBUTE, not the kernel call, so the
    * kernel runs exactly once per row. A plain `withColumn` alias gets
    * substituted by predicate pushdown / projection collapse into every
    * reference — the keep filter alone would re-evaluate repStats 14
    * times per row (measured in the corpus_mix plan), and the `when`
    * conditionals block Spark's subexpression elimination. */
  private def withStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("*"),
      explode(array(graft.functions.TextKernels.repStats(col(textCol))))
        .as("__s"))

  /** The profile fractions derived from a `__s` repStats array column,
    * plus the keep predicate over them — shared by the batch profile and
    * the stateless streaming gate. */
  private def profileFractions(): Seq[(String, Column)] = {
    def at(i: Int): Column = element_at(col("__s"), i)
    val nWords = at(1)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" ->
        when(nWords > 0, round(at(3).cast("double") / nWords, 4)).otherwise(0.0),
      "dup_word_frac" ->
        when(nWords > 0, round((nWords - at(2)).cast("double") / nWords, 4)).otherwise(0.0),
      "top_bigram_frac" ->
        when(at(5) > 0, round(at(4).cast("double") / at(5), 4)).otherwise(0.0),
      "dup_trigram_frac" ->
        when(at(7) > 0, round(at(6).cast("double") / at(7), 4)).otherwise(0.0))
  }

  private def keepPredicate(maxDupWordFrac: Double, maxTopBigramFrac: Double,
                            maxDupTrigramFrac: Double, minWords: Int,
                            maxMeanWordLen: Double): Column =
    col("n_words") >= minWords &&
      col("mean_word_len") <= maxMeanWordLen &&
      col("dup_word_frac") <= maxDupWordFrac &&
      col("top_bigram_frac") <= maxTopBigramFrac &&
      col("dup_trigram_frac") <= maxDupTrigramFrac

  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        maxDupWordFrac: Double = 0.6,
                        maxTopBigramFrac: Double = 0.2,
                        maxDupTrigramFrac: Double = 0.6,
                        minWords: Int = 5,
                        maxMeanWordLen: Double = 12.0): DataFrame =
    withStats(docs, textCol)
      .select(col(idCol) +: profileFractions().map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        keepPredicate(maxDupWordFrac, maxTopBigramFrac, maxDupTrigramFrac,
          minWords, maxMeanWordLen).cast("int"))

  /** All original columns of the rows that pass the repetition rules,
    * with the profile fractions attached. Pure per-row work (the scalar
    * kernel + a filter): stateless on a streaming frame — no join back,
    * no shuffle, no watermark — so it composes in front of stateful
    * stages without adding a second stateful operator. */
  def repetitionGate(docs: DataFrame, textCol: String,
                     maxDupWordFrac: Double = 0.6,
                     maxTopBigramFrac: Double = 0.2,
                     maxDupTrigramFrac: Double = 0.6,
                     minWords: Int = 5,
                     maxMeanWordLen: Double = 12.0): DataFrame = {
    val withFracs = profileFractions().foldLeft(withStats(docs, textCol)) {
      case (df, (n, c)) => df.withColumn(n, c)
    }
    withFracs
      .filter(keepPredicate(maxDupWordFrac, maxTopBigramFrac,
        maxDupTrigramFrac, minWords, maxMeanWordLen))
      .drop("__s")
  }

  /** Distinct word n-grams of the normalized text: (id, gram) rows.
    * Narrow per-row expansion bounded by document length; the grams come
    * from the single-pass [[graft.functions.Shingles.wordGrams]] kernel
    * (the split + transform + array_distinct higher-order chain is
    * interpreted per gram and dominated the decontamination scan). */
  def wordGrams(docs: DataFrame, idCol: String, textCol: String,
                n: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.Shingles
        .wordGrams(normText(col(textCol)), n)).as("gram"))

  /** Benchmark decontamination: training documents sharing ≥1 word
    * `n`-gram with any benchmark document (the standard test-set-overlap
    * filter run before LLM training, e.g. GPT-3 appendix C — public).
    *
    * The benchmark gram set is distinct'd and broadcast (benchmarks are
    * tiny next to a training corpus); training grams therefore never
    * shuffle — the contamination count is a map-side join + partial
    * aggregation. Output: (id, n_shared) for contaminated docs only.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 4): DataFrame = {
    val benchGrams = broadcast(
      wordGrams(bench, idCol, textCol, n).select("gram").distinct())
    wordGrams(train, idCol, textCol, n)
      .join(benchGrams, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Fuzzy benchmark decontamination: training documents that are
    * NEAR-duplicates of a benchmark document — caught by sharing a
    * minhash LSH band bucket ([[Dedup.bandBuckets]]) — the near-dup
    * analog of [[decontaminate]] used when test-set leakage is lightly
    * edited rather than verbatim (the fuzzy dedup-vs-eval-set pass of
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" — public).
    *
    * Same scale shape as the exact pass: the benchmark's (band, bucket)
    * set is distinct'd and broadcast, so training-side band rows never
    * shuffle; only the matched candidates flow into the per-doc count.
    * Output: (id, n_bands ∈ 1..numBands) for flagged docs only — the
    * band count is a crude similarity signal (all bands shared ≈ exact
    * dup).
    */
  def decontaminateFuzzy(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, numHashes: Int = 16,
                         rowsPerBand: Int = 4,
                         shingleLen: Int = 3): DataFrame = {
    val benchBands = broadcast(
      Dedup.bandBuckets(bench, idCol, textCol, numHashes, rowsPerBand,
        shingleLen).select("band", "bucket").distinct())
    Dedup.bandBuckets(train, idCol, textCol, numHashes, rowsPerBand,
        shingleLen)
      .join(benchBands, Seq("band", "bucket"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("band")).as("n_bands"))
  }

  /** Incremental ingest dedup — the other direction of
    * [[decontaminateFuzzy]]: keep the NEW batch's docs that are not
    * near-dups of the EXISTING corpus (any shared minhash band drops
    * the doc; identical docs share every band, so exact dups are
    * subsumed). Build/probe sides are chosen for the incremental shape:
    * ingest batches are small, so the BATCH bands broadcast and the
    * corpus bands stream map-side — the corpus (the 100 TB side) is
    * never shuffled, and re-running the ingest is idempotent
    * (re-offered survivors band-match the corpus copy once absorbed).
    */
  /** `minSharedBands` tunes the drop threshold: 1 = any band (the
    * aggressive LSH screen — on a narrow-vocabulary corpus where
    * baseline jaccard is already high, this drops nearly everything),
    * numBands = all bands (≈ exact-dup only). Bands are counted across
    * the WHOLE corpus (distinct batch-doc bands matched by ANY corpus
    * doc): a batch doc matching one band each of three different corpus
    * docs drops at minSharedBands=3 — a recall-leaning screen; count
    * per corpus doc (group on the corpus id too) for the stricter
    * single-counterpart reading. */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, numHashes: Int = 16,
                       rowsPerBand: Int = 4, shingleLen: Int = 3,
                       minSharedBands: Int = 3): DataFrame = {
    require(minSharedBands >= 1, "minSharedBands must be >= 1")
    val batchBands = broadcast(Dedup.bandBuckets(batch, idCol, textCol,
        numHashes, rowsPerBand, shingleLen)
      .select(col(idCol).as("__bid"), col("band"), col("bucket")))
    val matched = Dedup.bandBuckets(corpus, idCol, textCol, numHashes,
        rowsPerBand, shingleLen)
      .join(batchBands, Seq("band", "bucket"))
      .select(col("__bid"), col("band")).distinct()
      .groupBy("__bid").agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") >= minSharedBands)
      .select(col("__bid").as(idCol))
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** The full curate-and-mix flow, composed: exact dedup (keep the
    * lowest id per normalized-text fingerprint) → repetition quality
    * gate → benchmark decontamination (drop docs overlapping `bench` on
    * a word n-gram) → temperature-weighted stratified sampling. Returns
    * the surviving rows with their original columns.
    *
    * Stage order matters at scale: dedup first (cheapest per-row cut,
    * one shuffle), then the zero-shuffle gate, then decontamination
    * (broadcast bench grams over the already-shrunk corpus), and the
    * sampler last so its per-stratum rates reflect the cleaned corpus —
    * mixing before cleaning would re-skew whatever the cleaning drops.
    */
  def curateMix(docs: DataFrame, bench: DataFrame, idCol: String,
                textCol: String, strataCol: String,
                decontamN: Int = 4, targetFrac: Double = 0.5,
                alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wFp = Window.partitionBy("__fp")
    val deduped = docs
      .withColumn("__fp", md5(normText(col(textCol))))
      .withColumn("__mn", min(col(idCol)).over(wFp))
      .filter(col(idCol) === col("__mn")).drop("__fp", "__mn")
    // `gated` feeds three scans — the decontamination gram side, the
    // anti-join probe side, and (through `clean`) the sampler's stats +
    // rate-join double pass. Materialize it (eager = false: the dedup
    // shuffle runs here, the first reader runs the gate stage and stores
    // the blocks) so the scan → dedup shuffle → gate chain runs once,
    // not once per subtree (the anti-join sides prune different
    // columns, so ReuseExchange can NOT collapse them).
    val gated = materialize(repetitionGate(deduped, textCol)
      .drop("n_words", "mean_word_len", "dup_word_frac", "top_bigram_frac",
        "dup_trigram_frac"), eager = false)
    val contaminated = decontaminate(gated, bench, idCol, textCol, decontamN)
      .select(idCol)
    val clean = gated.join(contaminated, Seq(idCol), "left_anti")
    stratifiedSample(clean, idCol, strataCol, targetFrac, alpha)
  }

  /** Simple-pattern PII regexes, chosen to parse identically under Java
    * regex (Spark) and RE2 (DuckDB/Go): no backrefs, no lookaround. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,4}"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\b555-[0-9]{4}\\b"

  /** PII detection + redaction: per-type match counts over the raw text
    * and a redacted copy with emails → `<EMAIL>`, IPv4 addresses →
    * `<IP>`, then phone numbers → `<PHONE>` (fixed order — email first so
    * its digit runs can't be half-eaten by the broader patterns). Pure
    * per-row regex work: zero shuffle at any scale.
    *
    * Output: (id, n_email, n_ip, n_phone, clean).
    */
  def scrubPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_count(t, lit(emailRe)).cast("long").as("n_email"),
      regexp_count(t, lit(ipRe)).cast("long").as("n_ip"),
      regexp_count(t, lit(phoneRe)).cast("long").as("n_phone"),
      regexp_replace(regexp_replace(regexp_replace(t,
        emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>").as("clean"))
  }

  /** Deterministic temperature-weighted stratified sampling — the "data
    * mixing" step that rebalances sources/languages before training
    * (multinomial sampling with exponent `alpha`, the mT5/XLM-R scheme —
    * public). Stratum weights `n_s^alpha` set per-stratum keep rates that
    * hit `targetFrac` of the corpus in expectation while flattening the
    * stratum distribution; rows are kept when a uniform in [0,1) derived
    * from `md5(id)` falls under the stratum rate.
    *
    * The rate table is one row per stratum — aggregated once and
    * broadcast; the filter itself is per-row hash arithmetic. No rand():
    * the sample is a pure function of ids, so retries, speculation and
    * cross-engine oracles all agree.
    *
    * `alpha = 1` reproduces plain proportional sampling; `alpha = 0.5`
    * (default) upsamples rare strata.
    */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       targetFrac: Double = 0.4,
                       alpha: Double = 0.5): DataFrame = {
    // n^alpha via sqrt when alpha = 0.5 (the common temperature): sqrt is
    // IEEE correctly-rounded in every engine, pow(x, 0.5) is only
    // 1-ulp-accurate and may differ between libm implementations
    def weight(n: Column): Column =
      if (alpha == 0.5) sqrt(n.cast("double")) else pow(n.cast("double"), alpha)
    val stats = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val totals = stats.agg(sum("__n").as("__total"),
      sum(weight(col("__n"))).as("__sumw"))
    // rate_s = min(1, targetFrac * total * n_s^alpha / sumw / n_s),
    // evaluated left to right and rounded to 6 dp so an external engine
    // reproduces the comparison exactly (the rounding also absorbs any
    // last-ulp difference in the sumw summation order)
    val rates = stats.crossJoin(broadcast(totals))
      .select(col(strataCol),
        round(least(lit(1.0),
          lit(targetFrac) * col("__total") * weight(col("__n")) /
            col("__sumw") / col("__n")), 6).as("__rate"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
      .cast("double") / 16777216.0
    docs.join(broadcast(rates), strataCol)
      .filter(u < col("__rate"))
      .drop("__rate")
  }

  /** Deterministic EXACT-k-per-stratum sample — the reservoir-sampling
    * contract (exactly k uniform picks per group) without reservoir
    * state: rank each stratum's members by the md5 of their id (a
    * uniform, engine-reproducible permutation — the no-rand() rule of
    * [[stratifiedSample]], which is the rate-based twin) and keep the
    * first k. Retries, speculation and cross-engine oracles all agree
    * because the sample is a pure function of the ids.
    *
    * Scale shape: one shuffle on the stratum key; the rank ≤ k filter
    * compiles to WindowGroupLimit (Spark 3.5+), which keeps a k-row heap
    * per partition BEFORE the exchange — the full stratum never sorts.
    *
    * @return (strataCol, idCol, rk) — rk ∈ [1, k]
    */
  def sampleExactK(docs: DataFrame, idCol: String, strataCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    docs.select(col(strataCol), col(idCol))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Weighted reservoir sample — k picks WITHOUT replacement where a
    * document's inclusion odds scale with a weight column (Efraimidis &
    * Spirakis 2006 "A-ES": draw u ~ U(0,1) per item, keep the k
    * largest u^(1/w), equivalently the k SMALLEST −ln(u)/w). The
    * one-pass, mergeable selection behind "sample long documents
    * proportionally more" in corpus mixing.
    *
    * Determinism discipline (the no-rand() rule of
    * [[stratifiedSample]]): u derives from md5 of the id — 24 hex bits
    * + 0.5, over 2^24, so u ∈ (0,1) exclusive and the division is
    * EXACT (power-of-two divisor); every engine reproduces the draw.
    * The A-ES key −ln(u)/w (positive) is rounded to a ×10⁶-scaled
    * exact long BEFORE comparison (the su4 discipline: a last-ulp `ln`
    * difference between libm implementations cannot flip an order
    * decided on scaled integers), with the id as total-order tiebreak.
    *
    * Scale shape: one narrow pass computes keys; the global top-k is
    * [[TopK.ranked]] (TakeOrderedAndProject — per-partition k-row
    * heaps, one k-row merge). Nothing larger than k rows ever sits in
    * one task; this IS reservoir sampling's distributed form.
    *
    * @param weightCol positive weights (heavier = more likely)
    * @return (rank, idCol, w, key6) — rank 1..k by (key6 asc, id)
    */
  def weightedReservoir(docs: DataFrame, idCol: String, weightCol: Column,
                        k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
      .cast("double") + 0.5) / 16777216.0
    val key6 = round(-log(u) / weightCol.cast("double") * 1e6).cast("long")
    TopK.ranked(
      docs.select(col(idCol), weightCol.cast("long").as("w"),
        key6.as("key6")),
      k, col("key6").asc, col(idCol).asc)
  }

  /** Size-balanced shard assignment for corpus export: rank documents
    * by descending size and deal them round-robin over `numShards`
    * output shards — the classic LPT-style balance (largest items
    * spread first), within ~max(size) of optimal per shard.
    *
    * The global rank comes from a distributed SORT + `zipWithIndex`
    * (range-partitioned sort, then per-partition index offsets — two
    * narrow passes), NOT from a single-partition window: `row_number()
    * OVER (ORDER BY …)` with no partition key funnels the whole corpus
    * through one task, which is exactly the shape that dies at 100 TB.
    * The (size desc, id) order is total, so the index — and therefore
    * every shard — is deterministic under retries.
    *
    * Output: (id, size, shard). */
  def shardBalanced(docs: DataFrame, idCol: String, sizeCol: String,
                    numShards: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sorted = docs.select(col(idCol), col(sizeCol))
      .orderBy(col(sizeCol).desc, col(idCol))
    val indexed = sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      sorted.schema.add("rn", LongType))
    indexed.withColumn("shard", col("rn") % numShards).drop("rn")
  }

  /** Greedy contiguous sequence packing per language: walk documents in
    * id order, cut a new bin whenever the running size crosses a
    * `budget` multiple — the deterministic, shuffle-once approximation
    * of first-fit packing for training-sequence export (true first-fit
    * is inherently sequential; contiguous-greedy keeps bins within one
    * document of the budget and needs only a partitioned prefix sum).
    * A document that crosses a boundary belongs to the bin where it
    * STARTS, so bins can overflow by at most one document — never
    * underfill. Output: (lang, bin_id, n_docs, bin_chars). */
  def packGreedy(docs: DataFrame, idCol: String, sizeCol: String,
                 langCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // window keys reference the POST-rename frame ("lang"/"sz"): keyed
    // on langCol the plan only resolves when the caller happens to pass
    // the literal name "lang"
    val w = Window.partitionBy("lang").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(langCol).as("lang"), col(idCol), col(sizeCol).as("sz"))
      .withColumn("cum", sum(col("sz")).over(w))
      .withColumn("bin_id", expr(s"(cum - sz) div $budget"))
      .groupBy("lang", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("bin_chars"))
  }

  /** Temperature-scaled source sampling weights — the multilingual /
    * multi-source rebalance of Conneau et al. 2019 (XLM-R §3.1) and
    * the LLaMA data mix: w_s ∝ tokens_s^alpha, alpha < 1 upweighting
    * small sources without letting a giant one drown the mix.
    *
    * One partial-agg shuffle to the source-sized frame. pow() is libm,
    * so each weight ×10⁴-rounds to an exact long (surprisal
    * discipline) before the share divisions — shares are then ratios
    * of exact longs, ×10⁴-rounded once.
    *
    * @return (source, n_docs, tokens, share4, raw_share4) —
    *         raw_share4 is the un-tempered token share, showing what
    *         alpha changed
    */
  def temperatureMix(docs: DataFrame, srcCol: String, textCol: String,
                     alpha: Double): DataFrame = {
    val perSrc = docs
      .select(col(srcCol).as("source"),
        size(filter(split(normText(col(textCol)), " "),
          w => length(w) > 0)).cast("long").as("toks"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum("toks").as("tokens"))
      .withColumn("w4",
        round(pow(col("tokens").cast("double"), alpha) * 10000)
          .cast("long"))
    val tot = broadcast(perSrc.agg(sum("w4").as("wtot"),
      sum("tokens").as("ttot")))
    perSrc.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("tokens"),
        round(lit(10000.0) * col("w4") / col("wtot"))
          .cast("long").as("share4"),
        round(lit(10000.0) * col("tokens") / col("ttot"))
          .cast("long").as("raw_share4"))
  }
}
