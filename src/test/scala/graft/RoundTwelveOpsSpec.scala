package graft

import graft.functions.{SamKernelOps, SamKernels}
import graft.sources.Sam
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 operators: the CIGAR kernel pinned to the original
  * `aggregate`-fold formulation + malformed-CIGAR quarantine; the SAM
  * family built on it (pileup conservation, gene coverage, duplicate
  * marking, streaming census twin); the materialize-once pair graph;
  * the graph convergence loops (coreness, PageRank-to-tolerance) with
  * their fixed-round graded prefixes; the VCF writer↔parser inverse;
  * and the round's analytics (Ts/Tv, corpus split, LSH recall audit,
  * KING kinship, Markov stationary, genotype concordance, seasonal
  * decomposition).
  */
class RoundTwelveOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cigarSpans kernel == aggregate-fold formulation on randomized CIGARs") {
    // deterministic pseudo-random CIGARs over every op class,
    // 1..12 ops per string, lengths 1..400
    val ops = "MIDNSHP=X"
    val rnd = new scala.util.Random(12L)
    val cigars = (1 to 500).map { _ =>
      val n = 1 + rnd.nextInt(12)
      (1 to n).map(_ =>
        s"${1 + rnd.nextInt(400)}${ops(rnd.nextInt(ops.length))}").mkString
    }
    val df = cigars.toDF("cigar")
      .select(col("cigar"),
        SamKernels.cigarSpans(col("cigar")).as("k"),
        Sam.opSumsFold(col("cigar")).as("f"))
    val rows = df.as[(String, Seq[Long], Seq[Long])].collect()
    assert(rows.length == 500)
    rows.foreach { case (c, k, f) => assert(k == f, s"mismatch on $c") }
  }

  test("cigarSpans quarantines malformed CIGARs as null") {
    val bad = Seq("abc", "100", "M10", "10M5", "", "10Z", "10M#",
      "9999999999999999999999M", "10m")
    val good = Seq("10M", "1=1X1D1N1I1S1H1P", "100M")
    val got = (bad ++ good).toDF("cigar")
      .select(col("cigar"), SamKernels.cigarSpans(col("cigar")).as("s"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    bad.foreach(c => assert(got(c), s"$c should quarantine"))
    good.foreach(c => assert(!got(c), s"$c should parse"))
    // direct-eval path agrees with codegen path on a malformed input
    assert(SamKernelOps.cigarSpans(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")) == null)
  }

  test("sam_pileup: hand case + aligned-mass conservation invariant") {
    import graft.operators.Intervals
    // hand case: reads [1,4], [3,6], [10,11] on one chr →
    // segments [1,3)=1, [3,5)=2, [5,7)=1, [7,10)=0, [10,12)=1
    def sam(q: String, pos: Long, cigar: String): String =
      Seq(q, "0", "chr1", pos.toString, "30", cigar,
        "*", "0", "0", "*", "*").mkString("\t")
    val aln = Sam.alignments(
      Seq(sam("a", 1, "4M"), sam("b", 3, "4M"), sam("c", 10, "2M")).toDS())
    val segs = Intervals.coverageSegments(aln, Seq("chr"),
        col("pos"), col("end_pos"))
      .select("pos", "end_pos", "depth").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(segs.toSeq == Seq((1L, 3L, 1L), (3L, 5L, 2L), (5L, 7L, 1L),
      (7L, 10L, 0L), (10L, 12L, 1L)))
    // conservation on the graded query at sf0.001: the pileup's
    // aligned base mass (Σ depth·bp) must equal the census's
    // Σ ref_span per chr — the sweep can't lose or invent bases
    val dir = "/root/testdata/sf0.001"
    val pileup = SparkEntry.queries("sam_pileup")(spark, dir)
      .select("chr", "aligned_bp").as[(String, Long)].collect().toMap
    val census = SparkEntry.queries("sam_alignment_stats")(spark, dir)
      .select("chr", "sum_ref_span").as[(String, Long)].collect().toMap
    assert(pileup == census)
    assert(pileup.nonEmpty)
  }

  test("PairGraph.materializeNearDup: identical results, cached reuse") {
    import graft.operators.{Dedup, PairGraph}
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val block = concat(col("lang"), lit("|"),
      floor(col("n_chars") / 100).cast("long").cast("string"))
    val selfContained = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = block, n = 3, minJaccard = 0.2)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val g = PairGraph.materializeNearDup(docs, "doc_id", "text",
      blockCol = block, n = 3, minJaccard = 0.2)
    val materialized = g.select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(materialized == selfContained && materialized.nonEmpty)
    // a downstream consumer's plan must read the materialized leaf, not
    // re-run the shingle pipeline
    val consumer = g.select(col("id_a").as("id"))
      .union(g.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val plan = consumer.queryExecution.optimizedPlan
    val leaves = plan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }
    assert(leaves.nonEmpty, "consumer plan does not read the materialized leaf")
    val shingleKernels = plan.flatMap(_.expressions.flatMap(_.collect {
      case k: graft.functions.CharShingles => k
      case k: graft.functions.PackedCharShingles => k
    }))
    assert(shingleKernels.isEmpty, "consumer plan re-runs the shingle kernel")
    assert(consumer.count() > 0)
  }

  test("corenessDecomposition: hand graphs; graded peel is its prefix") {
    import graft.operators.Graphs
    def undirected(pairs: Seq[(Int, Int)]) =
      pairs.flatMap { case (a, b) =>
        Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
        .toDF("src", "dst")
    // 4-clique {1,2,3,4} + pendant 5–1: clique coreness 3, pendant 1
    val g1 = undirected(Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
      (3, 4), (1, 5)))
    val got1 = Graphs.corenessDecomposition(g1, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L))
    // triangle {10,11,12} + tail 12–13: triangle 2, tail 1
    val g2 = undirected(Seq((10, 11), (11, 12), (10, 12), (12, 13)))
    val got2 = Graphs.corenessDecomposition(g2, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(10L -> 2L, 11L -> 2L, 12L -> 2L, 13L -> 1L))
    // the graded fixed-round peel is a prefix of the decomposition's
    // level-2 inner loop (shared peelRound): counts on g1 at k=2 —
    // round 1 drops the pendant, then stable
    val peel = Graphs.kcorePeel(g1, "src", "dst", k = 2, rounds = 3)
      .collect().head
    assert(Seq(peel.getLong(0), peel.getLong(1), peel.getLong(2),
      peel.getLong(3)) == Seq(5L, 4L, 4L, 4L))
  }

  test("pagerankToTolerance: converges on a cycle; fixed-round prefix") {
    import graft.operators.Graphs
    // 3-cycle (both directions): uniform 1/3 is the stationary point —
    // one round moves ranks by < 1e-9, so tol 1e-9 stops after round 1
    val cyc = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L)).toDF("src", "dst")
    val (pr, rounds) = Graphs.pagerankToTolerance(cyc, "src", "dst",
      tol = 1e-9, maxIterations = 10)
    assert(rounds == 1)
    pr.as[(Long, Double)].collect().foreach { case (_, p) =>
      assert(math.abs(p - 1.0 / 3.0) < 1e-9) }
    // prefix: on an asymmetric directed graph, the loop stopped at
    // maxIterations must equal the graded fixed-iteration pagerank
    // exactly (shared pagerankRound, identical arithmetic)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val fixed = Graphs.pagerank(g, "src", "dst", iterations = 2)
      .as[(Long, Double)].collect().toMap
    val (loop, n) = Graphs.pagerankToTolerance(g, "src", "dst",
      tol = 0.0, maxIterations = 2)
    assert(n == 2)
    assert(loop.as[(Long, Double)].collect().toMap == fixed)
  }

  test("VCF writer and parser are mutual inverses on a hand site") {
    import graft.operators.{VcfFormat, VcfParser}
    // one site, 4 samples: het, hom, hom-ref (dropped), missing
    // (dropped) — the parser must recover exactly the written depths
    val line = Seq(("3", 1234L, "A", "G")).toDF("chr", "pos", "ref", "alt")
      .select(VcfFormat.toMultiSampleVcfLine(
        col("chr"), col("pos"), lit(null).cast("string"),
        col("ref"), col("alt"), lit("GT:AD:DP"),
        Seq(lit("0/1:7,3:11"), lit("1/1:0,9:10"), lit("0/0:5,0:5"),
          lit("./.:0,0:0"))).as("line")).as[String]
    assert(line.head() ==
      "3\t1234\t.\tA\tG\t.\tPASS\t.\tGT:AD:DP\t0/1:7,3:11\t1/1:0,9:10\t0/0:5,0:5\t./.:0,0:0")
    val rows = VcfParser.parse(line, Seq("S0", "S1", "S2", "S3"))
      .select("strain", "chr", "pos", "ref_nuc", "var_nuc",
        "allele_depth", "read_depth", "total_depth")
      .as[(String, String, Int, String, String, Int, Int, Int)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("S0", "3", 1234, "A", "G", 3, 10, 11),
      ("S1", "3", 1234, "A", "G", 9, 9, 10)))
  }

  test("sam_gene_coverage: hand case through parse → sweep → clip") {
    import graft.operators.{Intervals, RangeJoin}
    // reads [1,4], [3,6], [10,11]; gene [2,10] → clipped overlaps:
    // [2,2]x1 + [3,4]x2 + [5,6]x1 + [7,9]x0 + [10,10]x1
    // covered 1+2+2+1 = 6, aligned 1+4+2+1 = 8, max depth 2
    def sam(q: String, pos: Long, cigar: String): String =
      Seq(q, "0", "chr1", pos.toString, "30", cigar,
        "*", "0", "0", "*", "*").mkString("\t")
    val aln = Sam.alignments(
      Seq(sam("a", 1, "4M"), sam("b", 3, "4M"), sam("c", 10, "2M")).toDS())
    val segs = Intervals.coverageSegments(aln, Seq("chr"),
        col("pos"), col("end_pos"))
      .select(col("chr"), col("pos").as("sstart"),
        (col("end_pos") - 1).as("sstop"), col("depth"))
    val genes = Seq((7L, "chr1", 2L, 10L))
      .toDF("gene_id", "chr", "gstart", "gstop")
    val j = RangeJoin.overlapJoined(segs, genes, "sstart", "sstop",
      "gstart", "gstop", Seq("chr"))
    val ov = least(col("sstop"), col("gstop")) -
      greatest(col("sstart"), col("gstart")) + 1
    val got = j.groupBy("gene_id").agg(
        sum(when(col("depth") > 0, ov).otherwise(0L)).as("covered_bp"),
        sum(col("depth") * ov).as("aligned_bp"),
        max("depth").as("max_depth"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((7L, 6L, 8L, 2L)))
  }

  test("variant_tstv: counts partition the mismatching variants") {
    // independent re-derivation: ts iff {ref,var} = {A,G} or {C,T};
    // totals must partition the ref≠var population per chr
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("variant_tstv")(spark, dir)
      .select("chr", "n_ts", "n_tv").as[(Long, Long, Long)]
      .collect().map { case (c, t, v) => c -> ((t, v)) }.toMap
    val li = Tables.lineitem(spark, dir)
      .select((col("l_orderkey") % 5).cast("long").as("chr"),
        (col("l_partkey") % 4).cast("int").as("r"),
        (col("l_suppkey") % 4).cast("int").as("v"))
      .as[(Long, Int, Int)].collect()
    def base(i: Int) = "ACGT" (i)
    val expect = li.filter { case (_, r, v) => base(r) != base(v) }
      .groupBy(_._1).map { case (chr, rows) =>
        val ts = rows.count { case (_, r, v) =>
          Set(base(r), base(v)).subsetOf(Set('A', 'G')) ||
            Set(base(r), base(v)).subsetOf(Set('C', 'T')) }
        chr -> ((ts.toLong, (rows.size - ts).toLong))
      }
    assert(got == expect && got.nonEmpty)
  }

  test("sam_markdup semantics: same (chr,pos,strand) marks, strand splits") {
    import org.apache.spark.sql.expressions.Window
    def sam(q: String, flag: Int, pos: Long, mapq: Int): String =
      Seq(q, flag.toString, "chr1", pos.toString, mapq.toString, "10M",
        "*", "0", "0", "*", "*").mkString("\t")
    // a,b same pos+strand (b lower mapq → dup); c same pos opposite
    // strand (kept); d ties a's position on mapq → qname breaks (a
    // kept, d dup); e different pos (kept)
    val aln = Sam.alignments(Seq(
      sam("a", 0, 100, 60), sam("b", 0, 100, 30), sam("c", 16, 100, 60),
      sam("d", 0, 100, 60), sam("e", 0, 200, 60)).toDS())
    val w = Window.partitionBy("chr", "pos", "flag")
      .orderBy(col("mapq").desc, col("qname"))
    val marked = aln.withColumn("rn", row_number().over(w))
      .select(col("qname"), (col("rn") > 1).as("dup"))
      .as[(String, Boolean)].collect().toMap
    assert(marked == Map("a" -> false, "b" -> true, "c" -> false,
      "d" -> true, "e" -> false))
  }

  test("corpus_split: md5 buckets are stable and partition the corpus") {
    // known vector: md5("1") = c4ca4238... → 0xc4ca = 50378 → bucket 78
    val b = Seq(1L).toDF("doc_id")
      .select((conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long") % 100).as("bucket"))
      .as[Long].head()
    assert(b == 0xc4ca % 100)
    // the three splits partition every language's documents exactly
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("corpus_split")(spark, dir)
      .groupBy("lang").agg(sum("n_docs").as("n"),
        countDistinct("split").as("k"))
      .as[(String, Long, Long)].collect()
    val docs = Tables.documents(spark, dir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    got.foreach { case (lang, n, k) =>
      assert(n == docs(lang) && k >= 2, s"$lang: $n vs ${docs(lang)}") }
    assert(got.nonEmpty)
  }

  test("dedup_recall_audit: hit counts bounded and ratios consistent") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("dedup_recall_audit")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].head()
    val (truth, cand, hits, recall4, hitRate4) = r
    assert(hits <= math.min(truth, cand) && truth > 0 && cand > 0)
    assert(recall4 == math.round(10000.0 * hits / truth))
    assert(hitRate4 == math.round(10000.0 * hits / cand))
  }

  test("popgen_king: hand kinship — duplicate, unrelated, opp-hom") {
    // two samples with identical genotypes over 4 sites: n_both_het =
    // het count, n_opp_hom = 0 → φ = het/(2·het) = 0.5 (duplicate);
    // the KING duplicate criterion is exactly φ ≈ 0.5
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("popgen_king")(spark, dir)
    val row = got.filter(col("s1") === 0 && col("s2") === 1)
      .select("n_sites").as[Long].head()
    assert(row > 0)
    // pure-derivation hand case via the same aggregation shape
    val cells = Seq(
      // site 1: both het; site 2: opposite hom; site 3: s1 het only
      (1L, "a", 1L), (1L, "b", 1L),
      (2L, "a", 0L), (2L, "b", 2L),
      (3L, "a", 1L), (3L, "b", 0L)).toDF("pos", "sample", "gv")
    val a = cells.select(col("pos"), col("sample").as("s1"),
      col("gv").as("g1"))
    val b = cells.select(col("pos"), col("sample").as("s2"),
      col("gv").as("g2"))
    val k = a.join(b, Seq("pos")).filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(
        sum(when(col("g1") === 1 && col("g2") === 1, 1L).otherwise(0L))
          .as("bh"),
        sum(when(abs(col("g1") - col("g2")) === 2, 1L).otherwise(0L))
          .as("oh"),
        sum(when(col("g1") === 1, 1L).otherwise(0L)).as("h1"),
        sum(when(col("g2") === 1, 1L).otherwise(0L)).as("h2"))
      .select(round(lit(10000.0) * (col("bh") - lit(2) * col("oh"))
        / (col("h1") + col("h2"))).cast("long"))
      .as[Long].head()
    // bh=1, oh=1, h1=2, h2=1 → 1e4·(1−2)/3 = −3333
    assert(k == -3333L)
  }

  test("StreamSam census across triggers equals the batch census") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamSam
    implicit val sqlCtx = spark.sqlContext
    def sam(q: String, chr: String, pos: Long, cigar: String): String =
      Seq(q, "0", chr, pos.toString, "30", cigar,
        "*", "0", "0", "*", "*").mkString("\t")
    val batch1 = Seq(sam("a", "chr1", 100, "10M"),
      sam("b", "chr2", 50, "3S7M"), "@HD\tVN:1.6")
    val batch2 = Seq(sam("c", "chr1", 200, "5M2D3M"),
      sam("bad", "chr1", 10, "10Z")) // quarantined in-stream too
    val mem = MemoryStream[String]
    val q = StreamSam.alignmentStats(mem.toDS())
      .writeStream.format("memory").queryName("sam_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("sam_stream")
        .select("chr", "n_reads", "sum_ref_span", "sum_clipped")
        .as[(String, Long, Long, Long)].collect().toSet
      val batch = Sam.alignments((batch1 ++ batch2).toDS())
        .groupBy("chr").agg(count(lit(1)).as("n_reads"),
          sum("ref_span").as("sum_ref_span"),
          sum("n_clipped").as("sum_clipped"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed == Set(("chr1", 2L, 20L, 0L), ("chr2", 1L, 7L, 3L)))
    } finally q.stop()
  }

  test("markovStationary: exact 3-round hand chain") {
    import graft.operators.EventOps
    // one user, sequence A,B,B,A,B → counts A→B:2, B→B:1, B→A:1 →
    // P(A→B)=1, P(B→·)=1/2 each. From uniform (.5,.5) the three
    // rounds give (.25,.75), (.375,.625), (.3125,.6875) — all dyadic,
    // so the ×10¹² rounding is a no-op and equality is exact. (True
    // stationary is (1/3, 2/3); 3 rounds is the graded prefix.)
    val ev = Seq(("u", "A", 1L, 1L), ("u", "B", 2L, 2L),
      ("u", "B", 3L, 3L), ("u", "A", 4L, 4L), ("u", "B", 5L, 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = EventOps.markovStationary(ev, "user_id", "event_type",
      col("ts"), col("event_id"), iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(got == Map("A" -> 0.3125, "B" -> 0.6875))
  }

  test("vcf_genotype_concordance: discordance is exactly the perturbation") {
    // every discordant cell must be one the perturbation touched AND
    // whose rotation actually changed the genotype (it always does:
    // +1 mod 3 has no fixed point), so n_sites − n_concordant ==
    // count of (pos + sample) % 17 == 0 cells per sample
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("vcf_genotype_concordance")(spark, dir)
      .select("sample", "n_sites", "n_concordant")
      .as[(Long, Long, Long)].collect()
      .map { case (sm, n, c) => sm -> (n - c) }.toMap
    val cells = Tables.lineitem(spark, dir)
      .select((col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 1000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 20).cast("long").as("sample"))
      .distinct()
      .filter((col("pos") + col("sample")) % 17 === 0)
      .groupBy("sample").count()
      .as[(Long, Long)].collect().toMap
    got.foreach { case (sm, d) =>
      assert(d == cells.getOrElse(sm, 0L), s"sample $sm") }
    assert(got.nonEmpty)
  }

  test("events_seasonal_decompose: detrended mass sums to zero per type") {
    // Σ_dow sum_det7 per type = Σ_days (7x − t7); every interior day's
    // count appears 7 times positively (once per window it centers or
    // flanks) ... exactness is easier asserted than derived: on a
    // PURE-TREND series (no seasonality) every det7 is 0
    val daily = (0 until 28).map(d => ("t", d.toLong, 10L + d))
      .toDF("event_type", "day", "x")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val det = daily.withColumn("t7", sum("x").over(w))
      .withColumn("nw", count(lit(1)).over(w))
      .filter(col("nw") === 7)
      .select((col("x") * 7 - col("t7")).as("det7"))
      .as[Long].collect()
    assert(det.length == 22 && det.forall(_ == 0L))
    // and on the graded query: dow values land in 0..6, n_days ≥ 1
    val got = SparkEntry.queries("events_seasonal_decompose")(spark,
      "/root/testdata/sf0.001")
      .select("dow", "n_days").as[(Long, Long)].collect()
    assert(got.nonEmpty && got.forall { case (d, n) =>
      d >= 0 && d <= 6 && n >= 1 })
  }

  test("sam_flagstat bit decode on hand flags") {
    // 1299 = 0x1|0x2|0x10|0x100|0x400: decode each category from a
    // hand-built flag set
    def sam(q: String, flag: Long): String =
      Seq(q, flag.toString, "chr1", "100", "30", "10M",
        "*", "0", "0", "*", "*").mkString("\t")
    val aln = Sam.alignments(Seq(
      sam("a", 0), sam("b", 1), sam("c", 3), sam("d", 16),
      sam("e", 1299)).toDS())
    def hasBit(b: Long) =
      (col("flag").cast("long").bitwiseAND(b) =!= 0L)
    val r = aln.agg(
      sum(when(hasBit(1), 1L).otherwise(0L)),
      sum(when(hasBit(2), 1L).otherwise(0L)),
      sum(when(hasBit(16), 1L).otherwise(0L)),
      sum(when(hasBit(256), 1L).otherwise(0L)),
      sum(when(hasBit(1024), 1L).otherwise(0L))).as[(Long, Long, Long,
        Long, Long)].head()
    assert(r == ((3L, 2L, 2L, 1L, 1L)))
  }

  test("ORF scan hand case: first in-frame stop, frames independent") {
    import org.apache.spark.sql.expressions.Window
    // ATGAAATAGATGTGA (len 15): frame 0 codons ATG AAA TAG ATG TGA →
    // ORF1 = ATG..TAG (9 nt), ORF2 = ATG..TGA (6 nt); the TAG at
    // offsets 7/8 belongs to other frames and must not close ORF1
    // early; a start with no following stop (trailing ATG) yields none
    val dna = Seq((1L, "ATGAAATAGATGTGA"), (2L, "AAAATG"))
      .toDF("doc_id", "dna")
    val codons = dna.select(col("doc_id"),
        posexplode(graft.functions.Dna.kmers(col("dna"), 3)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        pmod(col("pos"), lit(3)).as("frame"),
        (col("col") === "ATG").as("is_start"),
        col("col").isin("TAA", "TAG", "TGA").as("is_stop"))
    val w = Window.partitionBy("doc_id", "frame").orderBy("i")
      .rowsBetween(1, Window.unboundedFollowing)
    val orfs = codons
      .withColumn("next_stop", min(when(col("is_stop"), col("i"))).over(w))
      .filter(col("is_start") && col("next_stop").isNotNull)
      .select(col("doc_id"), (col("next_stop") - col("i") + 3).as("nt"))
      .as[(Long, Long)].collect().sorted
    assert(orfs.toSeq == Seq((1L, 6L), (1L, 9L)))
  }

  test("matryoshka audit: zero-tail vectors give perfect prefix recall") {
    import graft.operators.Similarity
    // vectors with all mass in the first 16 dims: the truncated path
    // scores every pair identically to the full path, so recall@5 is
    // exactly 100% — the inverse pin for the graded audit (which reads
    // low on the synthetic random embeddings, honestly: they have no
    // MRL structure)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        if (d < 16) math.sin(i * 31 + d * 7).toFloat else 0f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 10 === 0)
    def trunc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val brute = Similarity.cosineTopK(vecs, queries, "vec_id",
      "embedding", k = 5).select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    val pfx = Similarity.cosineTopK(trunc(vecs), trunc(queries),
      "vec_id", "embedding", k = 5).select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    assert(brute == pfx && brute.size == 20)
  }

  test("Sam.alignments drops malformed-CIGAR rows (quarantine gate)") {
    def sam(qname: String, cigar: String): String =
      Seq(qname, "0", "chr1", "100", "30", cigar,
        "*", "0", "0", "*", "*").mkString("\t")
    val lines = Seq(sam("ok", "10M"), sam("badop", "10Z"),
      sam("noop", "100"), sam("noct", "M")).toDS()
    val got = Sam.alignments(lines).select("qname").as[String].collect()
    assert(got.toSeq == Seq("ok"))
  }

  test("degreeAssortativity: star = -1, path = -1/2, matching = null") {
    import graft.operators.Graphs
    def r4(edges: Seq[(Long, Long)]): Option[Long] = {
      val got = Graphs.degreeAssortativity(
        edges.toDF("a", "b"), "a", "b").collect()
      assert(got.length == 1)
      if (got(0).isNullAt(2)) None else Some(got(0).getLong(2))
    }
    // star S3: every edge joins deg-3 hub to a deg-1 leaf — perfectly
    // disassortative
    assert(r4(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == Some(-10000L))
    // path P4: degrees 1,2,2,1 → r = -1/2 by hand-computed moments
    assert(r4(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == Some(-5000L))
    // perfect matching: all degrees 1, zero variance → undefined
    assert(r4(Seq((1L, 2L), (3L, 4L))).isEmpty)
    // the unique-undirected-pair precondition is enforced, not
    // assumed: duplicated + reversed input gives the same answer
    val noisy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L))
    assert(r4(noisy) == Some(-5000L))
  }

  test("inbreedingF: all-het vs all-hom-alt two-sample hand cohort") {
    import graft.operators.PopGen
    // 4 sites, sample 0 always het, sample 1 always hom-alt:
    // p = 3/4 per site, E(hom) = 1 - 2pq = 0.625 per site.
    // F(het sample)  = (0 - 2.5) / (4 - 2.5) = -5/3 → -16667
    // F(hom sample)  = (4 - 2.5) / (4 - 2.5) = 1    →  10000
    val cells = (0 until 4).flatMap(p =>
      Seq((0L, p.toLong, 0L, 1), (0L, p.toLong, 1L, 2)))
      .toDF("chr", "pos", "sample", "gv")
    val got = PopGen.inbreedingF(cells)
      .select("sample", "n_sites", "obs_hom", "exp_hom_e8", "f4")
      .as[(Long, Long, Long, Long, Long)].collect().toMap2
    assert(got(0L) == (4L, 0L, 250000000L, -16667L))
    assert(got(1L) == (4L, 4L, 250000000L, 10000L))
    // monomorphic sites are excluded: adding a site where both are
    // hom-ref (p = 0) changes nothing
    val mono = cells.union(Seq((0L, 9L, 0L, 0), (0L, 9L, 1L, 0))
      .toDF("chr", "pos", "sample", "gv"))
    val got2 = PopGen.inbreedingF(mono)
      .select("sample", "n_sites", "obs_hom", "exp_hom_e8", "f4")
      .as[(Long, Long, Long, Long, Long)].collect().toMap2
    assert(got2 == got)
  }

  test("dailyAutocorr: alternating series = -1 at lag 1, +1 at lag 2") {
    import graft.operators.EventOps
    // type "a": daily counts 1,2,1,2,1,2 over days 0..5;
    // type "b": constant 3/day (zero variance at every lag)
    val dayUs = 86400000000L
    val rows = (0 until 6).flatMap { d =>
      val ca = if (d % 2 == 0) 1 else 2
      (0 until ca).map(i => ("a", d * dayUs + i)) ++
        (0 until 3).map(i => ("b", d * dayUs + i))
    }
    val ev = rows.toDF("event_type", "us")
    val got = EventOps.dailyAutocorr(ev, "event_type", col("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(("a", 1L)) == Some(-10000L))
    assert(got(("a", 2L)) == Some(10000L))
    // constant series: undefined correlation at every observed lag
    (1L to 5L).foreach(k => assert(got(("b", k)).isEmpty))
    // lag 5 for "a": single pair (zero variance) → null, not ±1
    assert(got(("a", 5L)).isEmpty)
  }

  test("userGini: equal users = 0, whale and tie histograms by hand") {
    import graft.operators.EventOps
    val dayUs = 86400000000L
    def burst(t: String, u: Long, n: Int) =
      (0 until n).map(i => (t, u, dayUs + i))
    // "eq": 4 users × 1 event → G = 0
    // "whale": counts 1,1,1,5 → G = 12/32 = 0.375
    // "ties": counts 1,1,2,2 → G = 4/24 → 1667
    val rows =
      (1L to 4L).flatMap(u => burst("eq", u, 1)) ++
      (1L to 3L).flatMap(u => burst("whale", u, 1)) ++
        burst("whale", 9L, 5) ++
      (1L to 2L).flatMap(u => burst("ties", u, 1)) ++
      (3L to 4L).flatMap(u => burst("ties", u, 2))
    val ev = rows.toDF("event_type", "user_id", "us")
    val got = EventOps.userGini(ev, "user_id", "event_type")
      .select("event_type", "n_users", "n_events", "gini4")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got("eq") == (4L, 4L, 0L))
    assert(got("whale") == (4L, 8L, 3750L))
    assert(got("ties") == (4L, 6L, 1667L))
  }

  test("imageEntropy: half-half = 1 bit, flat = 0, gray bins, quarantine") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaCodec, MediaRow}
    val half = MediaCodec.bmpWithPixels(16, 16,
      (x, _) => if (x < 8) 0x000000 else 0xFFFFFF)
    val flat = MediaCodec.bmpWithPixels(16, 16, (_, _) => 0xFFFFFF)
    val gray = MediaCodec.bmpWithPixels(16, 16,
      (x, _) => if (x < 4) 0x808080 else 0x000000)
    val media = Seq(MediaRow(1L, "image", half),
      MediaRow(2L, "image", flat), MediaRow(3L, "image", gray),
      MediaRow(4L, "image", Array[Byte](1, 2, 3))).toDS()
    val got = Multimodal.imageEntropy(media)
      .select("media_id", "n_pixels", "n_bins", "entropy4")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // p = 0.5/0.5: each bin term = round(.5·round(log2 .5,4)·(−1e4)) =
    // 5000 → exactly 1 bit ×10⁴
    assert(got(1L) == (256L, 2L, 10000L))
    assert(got(2L) == (256L, 1L, 0L))
    // 0x808080 → lum (128·3)/3 = bin 128; p = 1/4 and 3/4
    // t4(1/4) = round(.25·(−2.0)·(−1e4)) = 5000
    // t4(3/4) = round(.75·round(log2 .75, 4)·(−1e4)) = 3112 — the
    // 4dp-rounded 0.4150 is just UNDER its decimal value as a double,
    // so .75·0.4150·1e4 lands at 3112.49999… and rounds down (both
    // engines share the IEEE value, which is what parity pins)
    assert(got(3L) == (256L, 2L, 8112L))
    assert(!got.contains(4L)) // non-BMP quarantines to zero rows
  }

  test("dna_gc_windows formula: independent recount on the derived DNA") {
    // the graded query's per-window G/C tallies re-derived by plain
    // Scala string walking over the SAME md5→ACGT derivation — an
    // independent-arithmetic pin (the flagstat discipline), not a copy
    // of the column expressions
    val texts = Seq("alpha", "beta", "gamma", "delta")
    def dna(t: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.map(c => "ACGTACGTACGTACGT"("0123456789abcdef".indexOf(c)))
        .mkString
    }
    val expected = (1 to 25 by 4).map { start =>
      val wins = texts.map(t => dna(t).substring(start - 1, start + 7))
      (start.toLong, (wins.size.toLong,
        wins.map(_.count(_ == 'G').toLong).sum,
        wins.map(_.count(_ == 'C').toLong).sum))
    }.toMap
    val spark2 = spark
    val df = texts.toDF("text")
    df.createOrReplaceTempView("gc_docs")
    // run the graded pipeline over the hand corpus by substituting the
    // table load with the tiny frame
    import org.apache.spark.sql.functions.{col => c}
    val derived = df.select(org.apache.spark.sql.functions.translate(
        org.apache.spark.sql.functions.md5(c("text")),
        "0123456789abcdef", "ACGTACGTACGTACGT").as("dna"))
      .select(explode(sequence(lit(1), lit(25), lit(4))).as("start"),
        c("dna"))
      .select(c("start").cast("long").as("start"),
        c("dna").substr(c("start"), lit(8)).as("w"))
      .select(c("start"),
        (lit(8) - length(translate(c("w"), "G", ""))).cast("long").as("g"),
        (lit(8) - length(translate(c("w"), "C", ""))).cast("long").as("c"))
      .groupBy("start").agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("g").as("sg"),
        org.apache.spark.sql.functions.sum("c").as("sc"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(derived == expected)
  }

  test("fprAudit: occupancy matches an independent md5 recount") {
    import graft.operators.BloomJoin
    val dim = (1L to 100L).toDF("k")
    val fact = ((1L to 100L) ++ (10001L to 10100L)).toDF("k")
    val row = BloomJoin.fprAudit(fact, "k", dim, "k").collect()(0)
    val (nNeg, nFp, occ) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nNeg == 100L)
    // independent occupancy: 3 disjoint 16-bit md5 windows per dim key
    val bits = (1L to 100L).flatMap { k =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until 3).map(i =>
        java.lang.Long.parseLong(hex.substring(i * 4, i * 4 + 4), 16))
    }.toSet
    assert(occ == bits.size.toLong)
    assert(row.getLong(4) ==
      math.round(1e4 * occ.toDouble * occ * occ / (1L << 48).toDouble))
    // ~300 of 65536 bits set → (s/m)³ ≈ 1e-7: zero FPs on 100 negatives
    assert(nFp == 0L && row.getLong(3) == 0L)
  }

  test("pq distortions: exactly zero at centroids, matches direct form") {
    import graft.operators.Similarity
    val cbs = Similarity.pqQuantizer(8, 16, 8)
    // a vector stitched from centroid j=3 of every subspace: the
    // expanded |v|²+|c|²−2v·c cancels EXACTLY (identical summation
    // order on identical bits) → all-zero distortion rows
    val v0 = cbs.flatMap(cb => cb(3))
    val z = Similarity.pqDistortionStats(
      Seq((0L, v0)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cbs).collect()
    assert(z.length == 8 &&
      z.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
    // arbitrary vector: per-subspace distortion equals the DIRECT
    // min_j |v_m − c_j|² recount within float-expansion tolerance
    // (the expanded and subtracted forms differ only in rounding)
    val rnd = new scala.util.Random(7)
    val v1 = Array.fill(64)(rnd.nextFloat())
    val got = Similarity.pqDistortionStats(
      Seq((1L, v1)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cbs)
      .orderBy("sub").collect().map(_.getLong(2))
    val exp = (0 until 8).map { m =>
      (0 until 16).map { j =>
        val c = cbs(m)(j)
        (0 until 8).map { i =>
          val d = v1(m * 8 + i).toDouble - c(i).toDouble; d * d
        }.sum
      }.min
    }
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g / 1e6 - e) < 1e-6, s"$g vs $e") }
  }

  test("depthGini: uniform coverage = 0, hand-computed skewed case") {
    import graft.operators.Intervals
    // uniform: two identical reads [1,10] → depth 2 everywhere → G = 0
    val uni = Seq(("chr1", 1L, 10L), ("chr1", 1L, 10L))
      .toDF("chr", "start", "stop")
    val g0 = Intervals.depthGini(Intervals.coverageSegments(uni,
      Seq("chr"), col("start"), col("stop")), Seq("chr")).collect()(0)
    assert(g0.getLong(4) == 0L && g0.getLong(2) == 10L)
    // skewed: [1,10] + [1,2] → histogram depth1×8bp, depth2×2bp;
    // s2 = 1·8·9 + 2·2·19 = 148, n = 10, S = 12 →
    // G = (148 − 11·12)/120 = 16/120 → 1333
    val skew = Seq(("chr1", 1L, 10L), ("chr1", 1L, 2L))
      .toDF("chr", "start", "stop")
    val g1 = Intervals.depthGini(Intervals.coverageSegments(skew,
      Seq("chr"), col("start"), col("stop")), Seq("chr")).collect()(0)
    assert((g1.getLong(1), g1.getLong(2), g1.getLong(3), g1.getLong(4))
      == ((2L, 10L, 12L, 1333L)))
  }

  test("audioZeroCrossings: hand waveform flips, short-tail frame") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaCodec, MediaRow}
    // frame 0 = [1,-1,2,3]: flips at (1,-1),(−1,2) → 2/3 → 6667
    // frame 1 = [-5,0]: 0 counts non-negative → 1 flip/1 → 10000
    val wav = MediaCodec.wavWithSamples(8000, 1,
      Array[Short](1, -1, 2, 3, -5, 0))
    val got = Multimodal.audioZeroCrossings(
      Seq(MediaRow(7L, "audio", wav)).toDS(), frameSize = 4)
      .collect().map(f => f.frame_idx -> ((f.n_samples, f.n_zc, f.zcr4)))
      .toMap
    assert(got(0L) == (4L, 2L, 6667L))
    assert(got(1L) == (2L, 1L, 10000L))
  }

  test("corpus_dup_quality: end-to-end on a hand corpus") {
    // ids 1-3 share a keepable text, 4-5 share a 1-word (reject) text,
    // 6 is unique and keepable → buckets (3,3,10000) (2,0,0) (1,1,10000)
    // keepable texts need enough DISTINCT bigrams that the top one
    // stays ≤ 0.2 of bigram mass (a 6-word doc reads 0.22 and rejects)
    val good = "spark join filter merge table scan group sort window " +
      "batch stream hash key value row column"
    val docs = Seq((1L, good), (2L, good), (3L, good),
      (4L, "word"), (5L, "word"),
      (6L, "data row key value column stream agg query plan stage " +
        "task shuffle broadcast partition bucket"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dupq").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_dup_quality")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(3L -> ((3L, 3L, 10000L)),
      2L -> ((2L, 0L, 0L)), 1L -> ((1L, 1L, 10000L))))
  }

  test("hourProfile: exact hour mapping and index arithmetic") {
    import graft.operators.EventOps
    val hourUs = 3600000000L
    // type "a": events at 00:30, 01:30, 01:45 → hour0×1, hour1×2
    val ev = Seq(("a", hourUs / 2), ("a", hourUs + hourUs / 2),
      ("a", hourUs + 3 * hourUs / 4),
      // 25h mark wraps to hour 1 on day 2
      ("b", 25L * hourUs + 1L))
      .toDF("event_type", "us")
    val got = EventOps.hourProfile(ev, "event_type", col("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("a", 0L)) == (1L, 8.0))
    assert(got(("a", 1L)) == (2L, 16.0))
    assert(got(("b", 1L)) == (1L, 24.0))
  }

  test("ld_prune_step and sam_mapq_profile: internal identities at sf0.001") {
    // ld: kept + pruned = sites per chr, checksum consistent with kept
    val ld = SparkEntry.queries("ld_prune_step")(spark,
      "/root/testdata/sf0.001").collect()
    assert(ld.nonEmpty)
    ld.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      assert(r.getLong(2) > 0 && r.getLong(4) > 0)
    }
    // mapq: decades confined to the synthetic 20..59 range and the
    // low fraction re-derivable from the histogram rows themselves
    val mq = SparkEntry.queries("sam_mapq_profile")(spark,
      "/root/testdata/sf0.001").collect()
    assert(mq.nonEmpty)
    assert(mq.forall(r => (2L to 5L).contains(r.getLong(1))))
    mq.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val tot = rows.map(_.getLong(2)).sum
      val low = rows.filter(_.getLong(1) < 3).map(_.getLong(2)).sum
      val expect = math.round(10000.0 * low / tot)
      assert(rows.forall(_.getLong(3) == expect))
      assert(low > 0 && low < tot) // threshold 30 keeps the leg alive
    }
  }

  test("jmBigramSurprisal: hand corpus — interpolated P by hand") {
    import graft.operators.TextAnalysis
    // corpus "a b a b" + "a b": unigrams a:3 b:3 (N=6); bigrams
    // "a b":3 "b a":1; c1(a)=3 c1(b)=1 →
    // P(b|a) = .5·3/3 + .5·3/6 = .75, P(a|b) = .5·1/1 + .5·3/6 = .75
    // → every bigram su4 = round(−log2(.75)·10⁴) = 4150
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.jmBigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == (3L, 3 * 4150L / 10000.0 / 3))
    assert(got(2L) == (1L, 4150L / 10000.0 / 1))
  }

  test("variant_density: windows partition the distinct variant set") {
    val rows = SparkEntry.queries("variant_density")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // coordinate space is 0..99999 → 1 kb windows 0..99
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 99))
    // no window double-counts: (chr, win) keys unique
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
      == rows.length)
  }

  test("modularity: two bridged triangles, one-community zero, negatives") {
    import graft.operators.Graphs
    // two triangles {1,2,3} {4,5,6} + bridge 3-4: m = 7, e_in = 6,
    // d_A = d_B = 7 → Q = (4·7·6 − 98)/196 = 70/196 → 357143
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    def q(labels: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Graphs.modularity(edges, "a", "b",
        labels.toDF("id", "label")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val twoCom = (1L to 3L).map(_ -> 1L) ++ (4L to 6L).map(_ -> 2L)
    assert(q(twoCom) == (2L, 7L, 357143L))
    // everything in one community: Q = 0 exactly
    assert(q((1L to 6L).map(_ -> 1L)) == (1L, 7L, 0L))
    // singleton communities: e_in = 0 → Q strictly negative
    val single = q((1L to 6L).map(i => i -> i))
    assert(single._1 == 6L && single._3 < 0L)
  }

  test("cosineTopKFiltered: neighbors stay inside the label partition") {
    import graft.operators.Similarity
    // query 0 (label 1): its globally-nearest vector (id 10, label 2)
    // must NOT appear; within label 1, id 1 (aligned) beats id 2
    // (orthogonal)
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val rows = Seq(
      (0L, v(1, 0), 1), (1L, v(2, 0.1f), 1), (2L, v(0, 1), 1),
      (10L, v(1, 0.001f), 2), (11L, v(0.9f, 0), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.cosineTopKFiltered(rows,
      rows.filter(col("vec_id") === 0), "vec_id", "embedding", "label",
      k = 2).select("corpus_id", "rank").as[(Long, Int)].collect().toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == 1 && got(2L) == 2)
  }

  test("tajima constants + D re-derived independently from outputs") {
    // constants: a1 = H(5) against an independent BigDecimal sum
    val a1 = (1 until 6).map(1.0 / _).sum
    val h5 = (1 until 6).map(i =>
      BigDecimal(1) / BigDecimal(i)).sum.toDouble
    assert(math.abs(a1 - h5) < 1e-12)
    // run the graded query; re-derive D from its own (s, pi8) outputs
    // with the TEXTBOOK formula arrangement (different association
    // order than the query's pinned sequence) — agreement within 1e-3
    // of a D unit pins the expression against formula transcription
    // errors without copying it
    val rows = SparkEntry.queries("popgen_tajima_d")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val M = 6
    val a2 = (1 until M).map(i => 1.0 / i / i).sum
    val b1 = (M + 1.0) / (3.0 * (M - 1)); val b2 = 2.0 * (M * M + M + 3) / (9.0 * M * (M - 1))
    val c1 = b1 - 1 / a1; val c2 = b2 - (M + 2) / (a1 * M) + a2 / a1 / a1
    val e1 = c1 / a1; val e2 = c2 / (a1 * a1 + a2)
    rows.foreach { r =>
      val s = r.getLong(1).toDouble; val pi = r.getLong(2) / 1e8
      val d = (pi - s / a1) / math.sqrt(e1 * s + e2 * s * (s - 1))
      assert(math.abs(d - r.getLong(3) / 1e4) < 1e-3,
        s"chr ${r.getLong(0)}: $d vs ${r.getLong(3) / 1e4}")
    }
  }

  test("palindromic 6-mers: revcomp filter on hand sequences") {
    import graft.functions.Dna
    // GAATTC (EcoRI) is its own revcomp; AAAAAA and GATTCA are not
    val seqs = Seq((1L, "GAATTCAA"), (2L, "AAAAAAGAATTC"),
      (3L, "GATTCAGT")).toDF("doc_id", "dna")
    val got = seqs
      .select(col("doc_id"), explode(Dna.kmers(col("dna"), 6)).as("kmer"))
      .filter(reverse(translate(col("kmer"), "ACGT", "TGCA"))
        === col("kmer"))
      .groupBy("kmer").agg(count(lit(1)).as("n"),
        countDistinct("doc_id").as("nd"))
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map("GAATTC" -> ((2L, 2L))))
  }

  test("interval jaccard: hand intersection through merge + range join") {
    import graft.operators.{Intervals, RangeJoin}
    // A = [1,6]+[4,10] (merges to [1,10]) + [20,30]; B = [5,25] →
    // intersection [5,10] (6 bp) + [20,25] (6 bp) = 12 bp
    val a = Seq((0L, 1L, 6L), (0L, 4L, 10L), (0L, 20L, 30L))
      .toDF("chr", "gstart", "gstop")
    val b = Seq((0L, 5L, 25L)).toDF("chr", "gstart", "gstop")
    val ma = Intervals.mergeIntervals(a, Seq("chr"), col("gstart"),
      col("gstop")).select(col("chr"), col("mstart").as("a_start"),
      col("mstop").as("a_stop"))
    val mb = Intervals.mergeIntervals(b, Seq("chr"), col("gstart"),
      col("gstop")).select(col("chr"), col("mstart").as("b_start"),
      col("mstop").as("b_stop"))
    val inter = RangeJoin.overlapJoined(ma, mb, "a_start", "a_stop",
        "b_start", "b_stop", keys = Seq("chr"), binWidth = 4096)
      .select((least(col("a_stop"), col("b_stop")) -
        greatest(col("a_start"), col("b_start")) + 1L).as("ov"))
      .filter(col("ov") > 0).agg(sum("ov")).as[Long].collect()(0)
    assert(inter == 12L)
    // and the graded query's rows are self-consistent at sf0.001
    val rows = SparkEntry.queries("interval_jaccard")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ab, bb, ib, j4) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(ib >= 0 && ib <= math.min(ab, bb))
      assert(j4 == math.round(10000.0 * ib / (ab + bb - ib)))
    }
  }

  test("codon usage: RSCU sums to n_syn x 1e4 per amino acid") {
    import graft.functions.DnaOps
    val rows = SparkEntry.queries("dna_codon_usage")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val nSyn = DnaOps.codonTable.groupBy(_._2).map { case (a, cs) =>
      a.toString -> cs.size }
    // Σ_c RSCU over one AA's observed codons = n_syn exactly (up to
    // per-codon rounding): Σ n_occ·n_syn/total = n_syn
    rows.groupBy(_.getString(1)).foreach { case (aa, rs) =>
      val sum4 = rs.map(_.getLong(3)).sum
      assert(math.abs(sum4 - nSyn(aa) * 10000L) <= rs.length,
        s"$aa: $sum4 vs ${nSyn(aa) * 10000}")
    }
    // total codon mass = 10 frame-0 codons per doc
    val nDocs = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_.getLong(2)).sum == 10 * nDocs)
  }

  test("pi windows: per-site pi bounded, windows confined to the space") {
    val rows = SparkEntry.queries("popgen_pi_windows")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 9) // pos < 1000
      // max per-site π under the n ≥ 2 filter is M/(2(M−1)) ≤ 2/3
      assert(r.getLong(3) <= r.getLong(2) * 66666667L)
      assert(r.getLong(3) > 0)
    }
  }

  test("Scd2.asOf: half-open validity — batch instant reads post-batch") {
    import graft.operators.Scd2
    val hist = Seq(
      (1L, "A", 0L, Some(100L)), (1L, "B", 100L, None), // change at 100
      (2L, "C", 0L, Some(100L))) // deleted at 100
      .toDF("custkey", "segment", "valid_from", "valid_to")
    def at(t: Long) = Scd2.asOf(hist, t)
      .select("custkey", "segment").as[(Long, String)].collect().toMap
    assert(at(50L) == Map(1L -> "A", 2L -> "C"))
    assert(at(100L) == Map(1L -> "B")) // the batch instant is post-batch
    assert(at(150L) == Map(1L -> "B"))
  }

  test("events_new_vs_returning: hand two-user growth accounting") {
    val dayUs = 86400000000L
    // user 1 active day 0 and 1; user 2 first appears day 1
    val ev = Seq((1L, 10L), (1L, dayUs + 5L), (1L, dayUs + 9L),
      (2L, dayUs + 7L)).toDF("user_id", "us")
    val tmp = java.nio.file.Files.createTempDirectory("nvr").toString
    ev.select(col("user_id"),
        (col("us") * 1000).as("ts"), // store as ns like the real table
        lit(0L).as("event_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = SparkEntry.queries("events_new_vs_returning")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((1L, 0L)), 1L -> ((1L, 1L))))
  }

  test("grmPairs: hand cohort — centered-dosage cross products over shared sites") {
    // site pos1: gv = (0, 2, 1) → p = 1/2, dq8 = 5e7,
    //   zq4 = (−10000, 10000, 0)
    // site pos2: gv = (1, 1, 0) → p = 1/3, dq8 = round(4/9·1e8) =
    //   44444444, zq4 = (3333, 3333, −6667)
    val cells = Seq(
      (0L, 1L, 0L, 0), (0L, 1L, 1L, 2), (0L, 1L, 2L, 1),
      (0L, 2L, 0L, 1), (0L, 2L, 1L, 1), (0L, 2L, 2L, 0))
      .toDF("chr", "pos", "sample", "gv")
    val got = graft.operators.PopGen.grmPairs(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // (0,1): num = −1e8 + 3333² = −88891111, den = 94444444 → −9412
    // (0,2): num = 0 + 3333·(−6667) = −22221111 → −2353
    // (1,2): num = 0 + 3333·(−6667) = −22221111 → −2353
    assert(got == Map(
      (0L, 1L) -> ((2L, -9412L)),
      (0L, 2L) -> ((2L, -2353L)),
      (1L, 2L) -> ((2L, -2353L))))
  }

  test("grmPairs: monomorphic sites contribute nothing") {
    // pos1 fixed hom-ref (p = 0), pos9 fixed hom-alt (p = 1) — both
    // excluded; only pos2 (p = 1/2) grades the pair
    val cells = Seq(
      (0L, 1L, 0L, 0), (0L, 1L, 1L, 0),
      (0L, 9L, 0L, 2), (0L, 9L, 1L, 2),
      (0L, 2L, 0L, 0), (0L, 2L, 1L, 2))
      .toDF("chr", "pos", "sample", "gv")
    val rows = graft.operators.PopGen.grmPairs(cells).collect()
    assert(rows.length == 1)
    val r = rows.head
    // p = 1/2: zq4 = (−10000, 10000), dq8 = 5e7 →
    // grm4 = round(1e4·(−1e8)/5e7) = −20000
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((0L, 1L, 1L, -20000L)))
  }

  test("lifeTable: censoring at the cutoff day, at-risk tail, hazard") {
    val dayUs = 86400000000L
    // A active days 0 and 5 → t=5 churn; B day 5 only → t=0 churn;
    // C days 1..3 → t=2 churn; D day 6 (the cutoff) → t=0 CENSORED
    val ev = Seq(
      (1L, 0L * dayUs + 3L), (1L, 5L * dayUs + 9L),
      (2L, 5L * dayUs + 1L),
      (3L, 1L * dayUs), (3L, 2L * dayUs + 7L), (3L, 3L * dayUs),
      (4L, 6L * dayUs + 11L))
      .toDF("user_id", "us")
    val got = graft.operators.EventOps.lifeTable(ev, "user_id", col("us"))
      .as[(Long, Long, Long, Long, Long)].collect().toMap2
    assert(got == Map(
      0L -> ((4L, 1L, 1L, 25000000L)),
      2L -> ((2L, 1L, 0L, 50000000L)),
      5L -> ((1L, 1L, 0L, 100000000L))))
  }

  test("localClustering: K4 plus pendant — per-node triangles and exclusions") {
    // 4-clique {1,2,3,4} + pendant 5–1: every clique node sits in 3 of
    // the 4 triangles; node 1 has deg 4 (cc = 1/2), others deg 3
    // (cc = 1); node 5 (deg 1) is excluded
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("a", "b")
    val got = graft.operators.Graphs.localClustering(e, "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((4L, 3L)), 2L -> ((3L, 3L)),
      3L -> ((3L, 3L)), 4L -> ((3L, 3L))))
    // duplicate/both-direction input changes nothing (distinct gate)
    val dup = e.union(e.select(col("b"), col("a")))
    val got2 = graft.operators.Graphs.localClustering(dup, "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got2 == got)
  }

  test("text_textrank: two-word symmetric graph is a fixed point at 0.5") {
    val tmp = java.nio.file.Files.createTempDirectory("trk").toString
    Seq((1L, "a b a", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("text_textrank")(spark, tmp)
      .as[(Long, String, Double)].collect().toList
    assert(got == List((1L, "a", 0.5), (2L, "b", 0.5)))
  }

  test("conductance: bridged triangles, singleton labeling, one-community NULL") {
    // two triangles {1,2,3} {4,5,6} + bridge 3-4: m = 7, 2m = 14
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val twoComm = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("id", "label")
    val got = graft.operators.Graphs.conductance(e, "a", "b", twoComm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    // each side: vol = 2+2+3 = 7, cut = 1, min(7, 14-7) = 7 -> 1/7
    assert(got == Map(10L -> ((3L, 7L, 1L, 142857L)),
      20L -> ((3L, 7L, 1L, 142857L))))
    // every node its own community: cut = vol = deg < 7 -> phi = 1
    val selfComm = (1L to 6L).map(i => (i, i)).toDF("id", "label")
    val self = graft.operators.Graphs.conductance(e, "a", "b", selfComm)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(self.length == 6)
    self.foreach { case (vol, cut, c6) =>
      assert(vol == cut && c6 == 1000000L)
    }
    // ONE community: complement volume 0 -> NULL, not 0
    val oneComm = (1L to 6L).map(i => (i, 99L)).toDF("id", "label")
    val one = graft.operators.Graphs.conductance(e, "a", "b", oneComm)
      .collect()
    assert(one.length == 1 && one.head.getLong(2) == 14L &&
      one.head.getLong(3) == 0L && one.head.isNullAt(4))
  }

  test("simpsonDiversity: hand counts, single-token NULL guard") {
    val docs = Seq(
      ("A", "a a b"), ("B", "x"),
      ("C", "t t t t")).toDF("source", "text")
    val got = graft.operators.TextAnalysis
      .simpsonDiversity(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // A: c = (2,1), coll = 2, N(N-1) = 6 -> round(1e8/3) = 33333333
    // B: N = 1 -> NULL;  C: coll = 12 = N(N-1) -> exactly 1e8
    assert(got == Map(
      "A" -> ((3L, 2L, 33333333L)),
      "B" -> ((1L, 1L, -1L)),
      "C" -> ((4L, 1L, 100000000L))))
  }

  test("ivfListBalance: hand centroids, dead list emits a zero row") {
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(-9f, -9f))
    val emb = Seq(
      (1L, Array(2f, 0f)),   // d0 = 1-4 = -3 wins
      (2L, Array(0f, 3f)),   // d1 = 1-6 = -5 wins
      (3L, Array(1f, 1f)))   // d0 = -1 beats d1 = -1? tie -> smaller c
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .ivfListBalance(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // counts (2,1,0) of 3; load4 = n*3/3*1e4
    assert(got == Map(
      0L -> ((2L, 20000L)), 1L -> ((1L, 10000L)), 2L -> ((0L, 0L))))
  }

  test("minimizers: brute-force twin over hand sequences") {
    val seqs = Seq((1L, "ACGTACGTACGTAC"), (2L, "AAAAAAAAAA"),
      (3L, "ACGTA")) // len 5 = k+w-1-... only k=3,w=4: nk=3 < w -> none
    val k = 3; val w = 4
    def h40(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(10), 16)
    }
    val expected = seqs.flatMap { case (id, sq) =>
      val nk = sq.length - k + 1
      if (nk < w) None else {
        val keys = (0 until nk).map(p => h40(sq.substring(p, p + k)) * 65536L + p)
        val minpos = (0 to nk - w).map(j =>
          (j until j + w).map(keys).min % 65536L).distinct
        Some(id -> ((nk - w + 1L, minpos.size.toLong,
          math.round(1.0e6 * minpos.size / (nk - w + 1)))))
      }
    }.toMap
    val got = graft.operators.Sketches.minimizers(
        seqs.toDF("id", "dna"), "id", "dna", k, w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected && got.contains(1L) && !got.contains(3L))
    // constant sequence: every 3-mer identical, min key = earliest pos
    // in each window -> minimizers = window starts = nk-w+1, density 1e6
    assert(got(2L) == ((5L, 5L, 1000000L)))
  }

  test("burstiness: periodic, bursty, and all-zero-gap NULL") {
    val m = 60000000L
    val ev = Seq(
      // X: one user, gaps 10,10 min -> sigma 0 -> B = -1e4
      ("X", 1L, 0L * m), ("X", 1L, 10L * m), ("X", 1L, 20L * m),
      // Y: gaps 30 (u1) and 1 (u2): mu 15.5, var 210.25, sigma 14.5
      //    B = round(1e4 * -1/30) = -333
      ("Y", 1L, 0L * m), ("Y", 1L, 30L * m),
      ("Y", 2L, 0L * m), ("Y", 2L, 1L * m),
      // Z: duplicate timestamp -> gap 0 -> sigma+mu = 0 -> NULL
      ("Z", 3L, 5L * m), ("Z", 3L, 5L * m))
      .toDF("etype", "user_id", "us")
    val got = graft.operators.EventOps
      .burstiness(ev, "etype", "user_id", col("us"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))).toMap
    assert(got == Map(
      "X" -> ((2L, 20L, -10000L)),
      "Y" -> ((2L, 31L, -333L)),
      "Z" -> ((1L, 0L, Long.MinValue))))
  }

  test("grmPowerStep: exact matvec over the hand-cohort matrix") {
    // the grmPairs hand cohort: G4 off-diagonals (0,1) = -9412,
    // (0,2) = (1,2) = -2353; diagonals from the same chain:
    // G(0,0) = G(1,1) = round(1e4*111108889/94444444) = 11764,
    // G(2,2) = round(1e4*44448889/94444444) = 4706
    val cells = Seq(
      (0L, 1L, 0L, 0), (0L, 1L, 1L, 2), (0L, 1L, 2L, 1),
      (0L, 2L, 0L, 1), (0L, 2L, 1L, 1), (0L, 2L, 2L, 0))
      .toDF("chr", "pos", "sample", "gv")
    def parity(s: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % 2) * 2 - 1
    }
    val g = Map(
      (0L, 0L) -> 11764L, (0L, 1L) -> -9412L, (0L, 2L) -> -2353L,
      (1L, 0L) -> -9412L, (1L, 1L) -> 11764L, (1L, 2L) -> -2353L,
      (2L, 0L) -> -2353L, (2L, 1L) -> -2353L, (2L, 2L) -> 4706L)
    val expV1 = (0L to 2L).map(i =>
      i -> (0L to 2L).map(j => g((i, j)) * parity(j)).sum).toMap
    val mx = expV1.values.map(math.abs).max
    val got = graft.operators.PopGen.grmPowerStep(cells)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expected = expV1.map { case (i, v) =>
      i -> ((3L, v, math.round(10000.0 * v / mx)))
    }
    assert(got == expected)
  }

  test("mannKendall: monotone series, all-tied NULL, single-day NULL") {
    val dayUs = 86400000000L
    // "up": counts 1,2,3,4 over days 0..3 -> S = 6, no ties,
    // var = 4*3*13 = 156; "flat": 2 days x 2 events -> var_num = 0;
    // "one": a single day
    val ev =
      (0 until 4).flatMap(d => Seq.fill(d + 1)(("up", d.toLong * dayUs))) ++
      Seq(("flat", 0L), ("flat", 1L), ("flat", dayUs), ("flat", dayUs + 5L)) ++
      Seq(("one", 3L * dayUs))
    val got = graft.operators.EventOps
      .mannKendall(ev.toDF("etype", "us"), "etype", col("us"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))).toMap
    val zUp = math.round(10000.0 * 5 / math.sqrt(156 / 18.0))
    assert(got == Map(
      "up" -> ((4L, 6L, 156L, zUp)),
      "flat" -> ((2L, 0L, 0L, Long.MinValue)),
      "one" -> ((1L, 0L, 0L, Long.MinValue))))
  }

  test("events_session_stats: hand sessions bucket correctly") {
    val ns = 1000000000L
    // user 1: events at 0s, 50s, 100s (one 3-event session, dur 100),
    // then 10000s (singleton); user 2: one event
    val ev = Seq(
      (1L, 101L, 0L * ns), (1L, 102L, 50L * ns), (1L, 103L, 100L * ns),
      (1L, 104L, 10000L * ns), (2L, 201L, 7L * ns))
      .toDF("user_id", "event_id", "ts_ns")
    val sess = graft.operators.Sessionize.sessions(
      ev, "user_id", expr("ts_ns DIV 1000000000"), col("event_id"),
      gapSec = 1800)
    val got = sess.groupBy("n_events").agg(
        count(lit(1)).as("n_sessions"),
        sum(col("sess_end") - col("sess_start")).as("sum_dur_sec"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(3L -> ((1L, 100L)), 1L -> ((2L, 0L))))
  }

  test("dedup_cluster_sizes: component census over hand components") {
    // components {1,2,3}, {4}, {5,6} -> sizes 3,1,2 one group each
    val docs = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(pairs, docs, "doc_id")
      .groupBy("group_id").agg(count(lit(1)).as("gsize"))
      .groupBy("gsize").agg(count(lit(1)).as("n_groups"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("hapaxStats: hand counts and both normalizations") {
    val docs = Seq(("A", "a a b c"), ("B", "z z")).toDF("source", "text")
    val got = graft.operators.TextAnalysis.hapaxStats(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // A: tokens 4, types 3, hapax 2 -> 6667 / 5000; B: zero hapax
    assert(got == Map(
      "A" -> ((4L, 3L, 2L, 6667L, 5000L)),
      "B" -> ((2L, 1L, 0L, 0L, 0L))))
  }

  test("nearestInterval: overlap wins, distance ties break to start, radius gates") {
    val q = Seq((0L, 1L, 10L, 20L), (0L, 2L, 100L, 110L),
      (0L, 3L, 50L, 52L)).toDF("chr", "call_id", "c_start", "c_stop")
    val f = Seq(
      (0L, 11L, 30L, 35L),   // dist 10 from q1
      (0L, 12L, 22L, 60L),   // dist 2 from q1, overlap for q3
      (0L, 13L, 5L, 12L),    // overlaps q1 -> dist 0 wins
      (0L, 14L, 44L, 46L),   // dist 4 from q3 (overridden by overlap 12)
      (0L, 15L, 700L, 720L)) // beyond 500 of nothing relevant? q2: 590 away
      .toDF("chr", "gene_id", "gstart", "gstop")
    val got = graft.operators.NearestFeature.nearestInterval(
        q, f, "call_id", "c_start", "c_stop", "gstart", "gstop",
        "gene_id", keys = Seq("chr"), maxDist = 500L)
      .select("call_id", "gene_id", "distance")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // q2 [100,110]: f12 ends 60 -> dist 40; f15 starts 700 -> 590 > 500
    assert(got == Map(1L -> ((13L, 0L)), 2L -> ((12L, 40L)),
      3L -> ((12L, 0L))))
    // distance tie: [40,40] sits 4 from [30,36] and 4 from [44,46]
    // -> smaller gstart (21) wins
    val q2 = Seq((0L, 9L, 40L, 40L)).toDF("chr", "call_id", "c_start", "c_stop")
    val ft = Seq((0L, 21L, 30L, 36L), (0L, 22L, 44L, 46L))
      .toDF("chr", "gene_id", "gstart", "gstop")
    val tie = graft.operators.NearestFeature.nearestInterval(
        q2, ft, "call_id", "c_start", "c_stop", "gstart", "gstop",
        "gene_id", keys = Seq("chr"), maxDist = 500L)
      .select("gene_id", "distance").collect().head
    assert((tie.getLong(0), tie.getLong(1)) == ((21L, 4L)))
  }

  test("dauMau: coverage explode matches the hand 30-day window") {
    val dayUs = 86400000000L
    val ev = Seq((1L, 0L), (2L, 3L), (1L, 5L * dayUs), (2L, 40L * dayUs))
      .toDF("user_id", "us")
    val got = graft.operators.EventOps.dauMau(ev, "user_id", col("us"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // day0: dau 2, mau 2; day5: dau 1 (u1), mau 2 (both cover day 5);
    // day40: dau 1 (u2), mau 1 (u1's day-5 coverage ends day 34)
    assert(got == Map(
      0L -> ((2L, 2L, 10000L)),
      5L -> ((1L, 2L, 5000L)),
      40L -> ((1L, 1L, 10000L))))
  }

  test("variant_context96: pyrimidine normalization against a driver twin") {
    val tmp = java.nio.file.Files.createTempDirectory("ctx").toString
    Seq((7L, 1, 2L), (12L, 3, 5L), (40L, 2, 9L), (3L, 1, 1L))
      .toDF("l_orderkey", "l_linenumber", "l_suppkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    def b(chr: Long, pos: Long): Char = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"$chr:$pos".getBytes("UTF-8"))
      "ACGTACGTACGTACGT".charAt((d(0) >> 4) & 0xf)
    }
    def comp(c: Char) = "TGCA"("ACGT".indexOf(c))
    val expected = Seq((7L, 1, 2L), (12L, 3, 5L), (40L, 2, 9L), (3L, 1, 1L))
      .map { case (o, l, sk) =>
        val chr = o % 5; val pos = (o * 31 + l * 7) % 100000
        val rot = (sk % 3 + 1).toInt
        val ref = b(chr, pos)
        val alt = "ACGT"(("ACGT".indexOf(ref) + rot) % 4)
        val (lb, rb) = (b(chr, pos - 1), b(chr, pos + 1))
        val cls = if (ref == 'C' || ref == 'T') (s"$ref>$alt", s"$lb$ref$rb")
          else (s"${comp(ref)}>${comp(alt)}",
            s"${comp(rb)}${comp(ref)}${comp(lb)}")
        ((chr, pos, alt), cls)
      }.distinct.map(_._2)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = SparkEntry.queries("variant_context96")(spark, tmp)
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    got.keys.foreach { case (subst, ctx) =>
      assert(subst(0) == ctx(1) && (subst(0) == 'C' || subst(0) == 'T'))
    }
  }

  test("popgen_missingness: counts over a hand cell frame") {
    // reuses the operator shape inline: 3 sites, sample 0 called at
    // all 3, sample 1 at 1
    val cells = Seq((0L, 1L, 0L, 1), (0L, 2L, 0L, 2), (1L, 9L, 0L, 0),
      (0L, 2L, 1L, 1)).toDF("chr", "pos", "sample", "gv")
    val sites = broadcast(cells.select("chr", "pos").distinct()
      .agg(count(lit(1)).as("n_sites")))
    val got = cells.groupBy("sample").agg(count(lit(1)).as("n_called"))
      .crossJoin(sites)
      .select(col("sample"), col("n_called"), col("n_sites"),
        round(lit(10000.0) * col("n_called").cast("double") /
          col("n_sites").cast("double")).cast("long").as("call_rate4"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(0L -> ((3L, 3L, 10000L)), 1L -> ((1L, 3L, 3333L))))
  }

  test("n50Stats: textbook, all-equal, and single-contig cases") {
    def run(lens: Seq[Long]) = {
      val r = graft.operators.Intervals.n50Stats(
        lens.map(Tuple1(_)).toDF("len"), "len").collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // [10,8,8,4,2]: T = 32, cum desc 10,18 -> N50 = 8 at the 2nd contig
    assert(run(Seq(10L, 8L, 8L, 4L, 2L)) == ((5L, 32L, 8L, 2L)))
    // all equal: half of 20 needs 2 of the 5s
    assert(run(Seq(5L, 5L, 5L, 5L)) == ((4L, 20L, 5L, 2L)))
    assert(run(Seq(7L)) == ((1L, 7L, 7L, 1L)))
    // odd total: [3,2]: T = 5, 2*3 >= 5 -> N50 = 3, one contig
    assert(run(Seq(3L, 2L)) == ((2L, 5L, 3L, 1L)))
  }

  test("audioStats: exact sums and peak through the WAV round-trip") {
    import spark.implicits._
    val s: Array[Short] = Array(100, -100, 50, 0)
    val media = Seq(graft.operators.Multimodal.MediaRow(7L, "audio",
      graft.operators.Multimodal.MediaCodec.wavWithSamples(8000, 1, s))).toDS()
    val r = graft.operators.Multimodal.audioStats(media).collect().head
    assert((r.media_id, r.n_samples, r.sum_s, r.sum_sq, r.peak) ==
      ((7L, 4, 50L, 22500L, 100)))
    // all-zero clip: sums zero (the crest NULL guard input)
    val z = Seq(graft.operators.Multimodal.MediaRow(8L, "audio",
      graft.operators.Multimodal.MediaCodec.wavWithSamples(8000, 1,
        Array[Short](0, 0)))).toDS()
    val rz = graft.operators.Multimodal.audioStats(z).collect().head
    assert(rz.sum_sq == 0L && rz.peak == 0)
  }

  test("StreamGaps: per-key moments match batch burstiness across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamGaps
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val m = 60000000L
    // key (X,1): gaps 10,10; (Y,1): 30; (Y,2): 1 — chopped so X's
    // second gap spans triggers
    val t1 = Seq(StreamGaps.Ev("X", 1L, 0L), StreamGaps.Ev("X", 1L, 10L * m),
      StreamGaps.Ev("Y", 1L, 0L))
    val t2 = Seq(StreamGaps.Ev("X", 1L, 20L * m), StreamGaps.Ev("Y", 2L, 0L))
    val t3 = Seq(StreamGaps.Ev("Y", 1L, 30L * m), StreamGaps.Ev("Y", 2L, 1L * m))
    val mem = MemoryStream[StreamGaps.Ev]
    val q = StreamGaps.moments(mem.toDS())
      .writeStream.format("memory").queryName("sg_out")
      .outputMode("append").start()
    try {
      mem.addData(t1); q.processAllAvailable()
      mem.addData(t2); q.processAllAvailable()
      mem.addData(t3); q.processAllAvailable()
      val streamed = spark.table("sg_out")
        .as[(String, Long, Long, Long, Long)].collect()
        .groupBy(r => (r._1, r._2))
        .map { case (k, rows) => k -> rows.maxBy(_._3) } // latest = max n
        .values.toSeq
      // per-TYPE rollup of the final streamed key moments == batch
      val rolled = streamed.groupBy(_._1).map { case (t, rs) =>
        t -> ((rs.map(_._3).sum, rs.map(_._4).sum, rs.map(_._5).sum))
      }
      val batchMoments = (t1 ++ t2 ++ t3)
        .groupBy(e => (e.etype, e.user)).toSeq.flatMap { case ((t, _), es) =>
          es.map(_.us).sorted.sliding(2).collect {
            case Seq(a, b) => (t, (b - a) / m)
          }
        }.groupBy(_._1).map { case (t, gs) =>
          t -> ((gs.size.toLong, gs.map(_._2).sum,
            gs.map(g => g._2 * g._2).sum))
        }
      assert(rolled == batchMoments)
      // and the graded operator agrees on (n_gaps, sum_gap_min)
      val batch = graft.operators.EventOps.burstiness(
        (t1 ++ t2 ++ t3).map(e => (e.etype, e.user, e.us))
          .toDF("etype", "user_id", "us"), "etype", "user_id", col("us"))
        .select("etype", "n_gaps", "sum_gap_min")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rolled.map { case (t, v) => t -> ((v._1, v._2)) } == batch)
    } finally q.stop()
  }

  test("BloomJoin.merge: build(A union B) == merge(build(A), build(B))") {
    val a = (1L to 400L).map(Tuple1(_)).toDF("k")
    val b = (300L to 700L).map(Tuple1(_)).toDF("k")
    val u = (1L to 700L).map(Tuple1(_)).toDF("k")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = asMap(graft.operators.BloomJoin.merge(
      graft.operators.BloomJoin.build(a, "k"),
      graft.operators.BloomJoin.build(b, "k")))
    val direct = asMap(graft.operators.BloomJoin.build(u, "k"))
    assert(merged == direct && merged.nonEmpty)
  }

  test("Fastq.parse: record assembly gates malformed quartets") {
    val lines = Seq(
      // good record 0
      (0L, "@r1"), (1L, "ACGT"), (2L, "+"), (3L, "IIII"),
      // record 1: header missing '@'
      (4L, "r2"), (5L, "AC"), (6L, "+"), (7L, "II"),
      // record 2: seq/qual length mismatch
      (8L, "@r3"), (9L, "ACG"), (10L, "+"), (11L, "II"),
      // record 3: '+' line corrupt
      (12L, "@r4"), (13L, "A"), (14L, "x"), (15L, "I"),
      // record 4: missing final line
      (16L, "@r5"), (17L, "A"), (18L, "+"),
      // good record 5, '+' with comment
      (20L, "@r6 extra"), (21L, "GG"), (22L, "+r6"), (23L, "#!"))
      .toDF("line_no", "text")
    val got = graft.sources.Fastq.parse(lines, "line_no", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == Set(("r1", "ACGT", "IIII"),
      ("r6 extra", "GG", "#!")))
  }

  test("attribution composition: horizon, at-or-before tie, max-channel collapse") {
    val day = 86400000000L
    val conv = Seq((1L, 10L * day), (2L, 10L * day), (3L, 10L * day),
      (4L, 10L * day)).toDF("user_id", "us")
    val touch = Seq(
      (1L, 9L * day, "ad"),            // within 7d -> ad
      (2L, 1L * day, "email"),         // 9 days back -> unattributed
      (3L, 10L * day, "ad"),           // simultaneous with conversion
      (3L, 10L * day, "email"))        // -> max(channel) = email
      .toDF("user_id", "tus", "event_type")
      .groupBy(col("user_id"), col("tus"))
      .agg(max("event_type").as("channel"))
    // user 4 has no touch at all -> unattributed
    val j = graft.operators.EventOps.asOfJoin(conv, touch, "user_id",
      col("us"), col("tus"), Seq("channel"))
    val got = j.select(when(col("asof_ts").isNotNull &&
          col("us") - col("asof_ts") <= 7L * day, col("asof_channel"))
        .otherwise(lit("unattributed")).as("channel"))
      .groupBy("channel").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ad" -> 1L, "email" -> 1L, "unattributed" -> 2L))
  }

  test("dedup_keep_best policy: longest per component, singleton keeps itself") {
    // components {1,2}, {3}; doc 2 longer -> keep 2; 3 keeps itself
    val docs = Seq((1L, 100L), (2L, 200L), (3L, 50L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val groups = graft.operators.Dedup.connectedComponents(
      pairs, docs, "doc_id")
    val g = groups.join(docs.select(col("doc_id").as("id"),
      col("n_chars")), "id")
    val best = g.groupBy("group_id")
      .agg(min(struct((-col("n_chars")).as("neg"), col("id").as("id")))
        .as("__b"))
      .select(col("group_id"), col("__b.id").as("keep_id"))
    val got = g.join(best, "group_id")
      .select(col("id"),
        when(col("id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("VcfNorm.splitAndTrim: split, suffix-then-prefix trim, minimal stays") {
    val v = Seq(
      // multiallelic split, no trim possible on either pair
      (0L, 10L, "ACG", Seq("A", "T")),
      // shared suffix G then shared prefix T -> (11, ACG, A)
      (0L, 10L, "TACGG", Seq("TAG")),
      // pure prefix trim: CC>CT -> (11, C, T)
      (0L, 10L, "CC", Seq("CT")),
      // suffix trim stops when alt hits length 1: AAA>AA -> (10, AA, A)
      (0L, 10L, "AAA", Seq("AA")),
      // already minimal SNV untouched
      (1L, 5L, "G", Seq("C")))
      .toDF("chr", "pos", "ref", "alts")
    val got = graft.operators.VcfNorm.splitAndTrim(v).collect()
      .map(n => (n.chr, n.pos, n.ref, n.alt, n.allele_idx, n.n_alts))
      .toSet
    assert(got == Set(
      (0L, 10L, "ACG", "A", 0, 2), (0L, 10L, "ACG", "T", 1, 2),
      (0L, 11L, "ACG", "A", 0, 1),
      (0L, 11L, "C", "T", 0, 1),
      (0L, 10L, "AA", "A", 0, 1),
      (1L, 5L, "G", "C", 0, 1)))
  }

  test("readability: hand counts and pinned formulas, empty-doc NULL") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),  // 6 words, 2 sentences
      (2L, "")).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis
      .readability(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    val (w, s2, y) = (r1.getLong(1), r1.getLong(2), r1.getLong(3))
    assert((w, s2) == ((6L, 2L)))
    // vowel groups: e,a,a,e,o,a = 6
    assert(y == 6L)
    val fk = math.round(100.0 * (0.39 * (w.toDouble / s2) +
      11.8 * (y.toDouble / w) - 15.59))
    assert(r1.getLong(4) == fk)
    assert(rows(2L).getLong(1) == 0L && rows(2L).isNullAt(4))
  }

  test("codeSignals: symbol density and keyword hits trip the flag") {
    val docs = Seq(
      (1L, "def f(x) { return x; }"),       // keywords def+return, symbols
      (2L, "a plain english sentence here"),
      (3L, "x=(1);y=(2);z=(3);")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .codeSignals(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    // doc 1: syms {}();} -> {,},(,),;,} count: ( ) { ; } = 5, kw 2
    assert(got(1L)._2 == 2L && got(1L)._3 == 1L)
    assert(got(2L) == ((0L, 0L, 0L)))
    // doc 3: = ( ) ; x3 -> 12 symbols over 18 chars -> ratio >= 300
    assert(got(3L)._1 == 12L && got(3L)._3 == 1L)
  }

  test("dna_seq_entropy: uniform, skewed, and single-base landmarks") {
    val tmp = java.nio.file.Files.createTempDirectory("dse").toString
    // the graded query derives seq = translate(md5(text), ...) — build
    // docs whose md5-derived sequences we recompute driver-side
    val docs = Seq((1L, "alpha", "en", "s", 5L), (2L, "beta", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def seqOf(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      hex.map(c => "ACGTACGTACGTACGT"("0123456789abcdef".indexOf(c)))
    }
    def ent4(s2: String): Long =
      "ACGT".map { b =>
        val c = s2.count(_ == b)
        if (c == 0) 0L else {
          val p = c.toDouble / s2.length
          val l4 = BigDecimal(math.log(p) / math.log(2.0))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          BigDecimal(p * l4 * -10000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
      }.sum
    val got = SparkEntry.queries("dna_seq_entropy")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(6), r.getLong(7))))
      .toMap
    val exp = Map(
      1L -> ((seqOf("alpha").distinct.length.toLong, ent4(seqOf("alpha")))),
      2L -> ((seqOf("beta").distinct.length.toLong, ent4(seqOf("beta")))))
    assert(got == exp)
    // landmark: a perfectly uniform 4-base sequence scores exactly 2
    // bits = 20000 under the su4 chain
    assert(ent4("ACGTACGT") == 20000L)
  }

  private implicit class Tup5Map(
      rows: Array[(Long, Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long, Long)] =
      rows.map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
  }
}
