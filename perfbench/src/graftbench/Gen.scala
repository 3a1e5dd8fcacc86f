package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** SplitMix64: the one source of randomness. Every generated byte is a
  * function of the seed, so the same seed gives byte-identical inputs. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.finish(s)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p
  def fork(tag: Long): Rng = new Rng(Rng.mix(nextLong(), tag))
  /** Fisher-Yates, in place. */
  def shuffle[T](a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}

object Rng {
  def finish(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Stateless hash of two longs: row i of a table generated in
    * parallel depends only on (seed, i). */
  def mix(a: Long, b: Long): Long =
    finish(finish(a + 0x9E3779B97F4A7C15L) ^ (b * 0xC2B2AE3D27D4EB4FL))
}

/** What a generated input set is: where it lives, how big it is, and the
  * exact answers the checks compare the program's outputs against. The
  * answers come from the generator's own bookkeeping, never from graft. */
final case class Inputs(
    dir: String,
    seed: Long,
    sizes: Seq[(String, Long)],
    rows: Long,
    expected: Map[String, Long],
    genders: Map[String, String] = Map.empty) {
  def bytes: Long = Gen.dirBytes(new File(dir))
  def files: Int = Gen.dirFiles(new File(dir))
}

/** Input sizes of each workload; `scale` picks full (timed) or tiny (the
  * untimed warm-up during set-up, and the benchmark's own tests). */
object Sizes {
  final case class VariantLoad(sites: Int, chrLen: Int, storeExtra: Int)
  final case class Corpus(baseDocs: Int)
  final case class GraphRounds(components: Int, maxSize: Int)

  def variantLoad(scale: String): VariantLoad = scale match {
    case "full" => VariantLoad(sites = 7000, chrLen = 200000, storeExtra = 1000)
    case _ => VariantLoad(sites = 400, chrLen = 12000, storeExtra = 20)
  }
  def corpus(scale: String): Corpus = scale match {
    case "full" => Corpus(baseDocs = 600)
    case _ => Corpus(baseDocs = 80)
  }
  def graphRounds(scale: String): GraphRounds = scale match {
    // no long chains: each chain link costs a connected-components round
    case "full" => GraphRounds(components = 3000, maxSize = 5)
    case _ => GraphRounds(components = 20, maxSize = 3)
  }
}

object Gen {
  val Bases = "ACGT"
  val Chroms: Seq[String] = Seq("1", "2", "3", "4", "X")

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
  def dirFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirFiles).sum).getOrElse(0)
    else 1

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  final class TextOut(path: String) {
    new File(path).getParentFile.mkdirs()
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    def line(s: String): Unit = { w.write(s); w.write('\n') }
    def close(): Unit = w.close()
  }

  private def jsonValue(v: Any): String = v match {
    case s: String =>
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    case other => other.toString
  }

  /** Rows as JSON lines, `files` files of consecutive rows. A text format
    * keeps inputs byte-identical per seed; parquet-mr writes each column's
    * encoding list in hash-set order, which changes from one JVM to the
    * next. */
  def writeJsonLines(rows: Seq[Row], schema: StructType, dir: String,
                     files: Int): Unit = {
    val per = math.max(1, (rows.size + files - 1) / files)
    rows.grouped(per).zipWithIndex.foreach { case (part, f) =>
      val out = new TextOut(f"$dir/part-$f%05d.json")
      part.foreach { r =>
        out.line(schema.fieldNames.indices.map { i =>
          s"${jsonValue(schema.fieldNames(i))}: ${jsonValue(r.get(i))}"
        }.mkString("{", ", ", "}"))
      }
      out.close()
    }
  }

  def stamp(in: Inputs, workload: String, scale: String): Unit = {
    val sizes = in.sizes.map { case (k, v) => s"""    "$k": $v""" }
      .mkString(",\n")
    val exp = in.expected.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""    "$k": $v""" }.mkString(",\n")
    val body =
      s"""{
         |  "workload": "$workload",
         |  "scale": "$scale",
         |  "seed": ${in.seed},
         |  "sizes": {
         |$sizes
         |  },
         |  "input_rows": ${in.rows},
         |  "input_bytes": ${in.bytes},
         |  "input_files": ${in.files},
         |  "expected": {
         |$exp
         |  }
         |}
         |""".stripMargin
    Files.write(new File(in.dir, "inputs.json").toPath,
      body.getBytes(StandardCharsets.UTF_8))
  }

  def generate(workload: String, seed: Long, scale: String,
               dir: String): Inputs = {
    deleteRecursively(new File(dir))
    new File(dir).mkdirs()
    val rng = new Rng(Rng.mix(seed, workload.hashCode.toLong))
    val in = workload match {
      case "variant_load" => variantLoad(rng, seed, Sizes.variantLoad(scale), dir)
      case "corpus_curate" => corpus(rng, seed, Sizes.corpus(scale), dir)
      case "graph_rounds" => graph(rng, seed, Sizes.graphRounds(scale), dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    stamp(in, workload, scale)
    in
  }

  // ---------------------------------------------------------------- genome

  /** Gene model on one chromosome: non-overlapping genes, each with 1-3
    * transcripts; `trCount` is what the annotator must fan a contained
    * variant out to. */
  final case class Gene(chr: String, start: Int, stop: Int, trCount: Int)

  def writeGenome(rng: Rng, chrLen: Int, path: String): Map[String, String] = {
    val out = new TextOut(path)
    val seqs = Chroms.map { c =>
      val sb = new java.lang.StringBuilder(chrLen)
      var i = 0
      while (i < chrLen) { sb.append(Bases.charAt(rng.nextInt(4))); i += 1 }
      val s = sb.toString
      out.line(s">chr$c synthetic")
      s.grouped(60).foreach(out.line)
      c -> s
    }.toMap
    out.close()
    seqs
  }

  def writeGff(rng: Rng, span: Int, path: String): Seq[Gene] = {
    val out = new TextOut(path)
    out.line("##gff-version 3")
    val genes = mutable.ArrayBuffer.empty[Gene]
    Chroms.foreach { c =>
      var pos = 1 + rng.nextInt(2000)
      var g = 0
      while (pos + 12000 < span) {
        val len = 1500 + rng.nextInt(9000)
        val gs = pos; val ge = pos + len - 1
        val strand = if (rng.chance(0.5)) "+" else "-"
        val gid = s"gene_${c}_$g"
        out.line(s"chr$c\tbench\tgene\t$gs\t$ge\t.\t$strand\t.\tID=$gid")
        val nTr = 1 + rng.nextInt(3)
        (0 until nTr).foreach { t =>
          val tid = s"tr_${c}_${g}_$t"
          val coding = rng.chance(0.8)
          val ttype = if (coding) "mRNA" else "lnc_RNA"
          out.line(s"chr$c\tbench\t$ttype\t$gs\t$ge\t.\t$strand\t.\tID=$tid;Parent=$gid")
          val nEx = 2 + rng.nextInt(4)
          val slot = len / nEx
          val exons = (0 until nEx).map { e =>
            val s = gs + e * slot + rng.nextInt(math.max(1, slot / 4))
            val stop = math.min(ge, s + slot / 3 + rng.nextInt(math.max(1, slot / 3)))
            (s, stop)
          }
          exons.zipWithIndex.foreach { case ((s, e), k) =>
            out.line(s"chr$c\tbench\texon\t$s\t$e\t.\t$strand\t.\tID=ex_${tid}_$k;Parent=$tid")
          }
          if (coding) {
            val (fs, fe) = exons.head
            val (ls, le) = exons.last
            out.line(s"chr$c\tbench\tfive_prime_UTR\t$fs\t${math.min(fe, fs + 20)}\t.\t$strand\t.\tID=u5_$tid;Parent=$tid")
            out.line(s"chr$c\tbench\tthree_prime_UTR\t${math.max(ls, le - 20)}\t$le\t.\t$strand\t.\tID=u3_$tid;Parent=$tid")
          }
        }
        genes += Gene(c, gs, ge, nTr)
        g += 1
        pos = ge + 200 + rng.nextInt(3000)
      }
    }
    out.close()
    genes.toSeq
  }

  /** Transcript rows the annotator must emit for one variant position:
    * the transcript count of the gene containing it (genes never overlap). */
  final class GeneIndex(genes: Seq[Gene]) {
    private val byChr = genes.groupBy(_.chr).map { case (c, gs) =>
      c -> gs.sortBy(_.start).toArray }
    def transcriptsAt(chr: String, pos: Int): Int = byChr.get(chr) match {
      case None => 0
      case Some(arr) =>
        var lo = 0; var hi = arr.length - 1; var hit = 0
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid).start > pos) hi = mid - 1
          else if (arr(mid).stop < pos) lo = mid + 1
          else { hit = arr(mid).trCount; lo = hi + 1 }
        }
        hit
    }
  }

  // ---------------------------------------------------------------- VCF

  val StrainPool: Seq[String] = Seq("SHR", "BN", "WKY", "F344", "LEW", "SD",
    "DA", "FHH", "ACI", "GK", "LH", "MNS")
  def genderOf(strain: String): String =
    if (StrainPool.indexOf(strain) % 2 == 0) "M" else "F"

  /** One VCF site. kind: snv | ins | del | multi (multi-allelic lines are
    * skipped by the converter, like the reference's). */
  final case class Site(chr: String, pos: Int, ref: String, alt: String,
                        kind: String, id: String) {
    def endPos: Int = kind match {
      case "ins" => pos
      case "del" => pos + ref.length
      case _ => pos + 1
    }
    def variantType: String = kind match {
      case "ins" => "insertion"
      case "del" => "deletion"
      case _ => "snv"
    }
  }

  def otherBase(rng: Rng, b: Char): String = {
    var c = b
    while (c == b) c = Bases.charAt(rng.nextInt(4))
    c.toString
  }

  /** A sample cell; called cells (0/1, 1/1) always carry alt reads > 0, so
    * every called cell survives the scorer's zero-score drop. */
  def cell(rng: Rng): (String, Boolean) = {
    val r = rng.nextInt(100)
    if (r < 10) ("./.", false)
    else if (r < 38) {
      val d = 5 + rng.nextInt(30)
      (s"0/0:$d,0:$d", false)
    } else {
      val het = r < 72
      val refR = if (het) 3 + rng.nextInt(25) else rng.nextInt(3)
      val altR = 1 + rng.nextInt(30)
      (s"${if (het) "0/1" else "1/1"}:$refR,$altR:${refR + altR}", true)
    }
  }

  def siteAt(rng: Rng, chr: String, pos: Int, genome: Int => Char): Site = {
    val id = if (rng.chance(0.3)) s"rs${1000 + rng.nextInt(9000000)}" else "."
    val r = rng.nextInt(100)
    val refBase = genome(pos)
    if (r < 84) Site(chr, pos, refBase.toString, otherBase(rng, refBase), "snv", id)
    else if (r < 91) {
      val n = 1 + rng.nextInt(3)
      Site(chr, pos, "", (0 until n).map(_ => Bases.charAt(rng.nextInt(4))).mkString, "ins", id)
    } else if (r < 97) {
      val n = 1 + rng.nextInt(3)
      Site(chr, pos, (0 until n).map(k => genome(pos + k)).mkString, "", "del", id)
    } else Site(chr, pos, refBase.toString,
      s"${otherBase(rng, refBase)},${otherBase(rng, refBase)}", "multi", id)
  }

  def vcfHeader(out: TextOut, strains: Seq[String]): Unit = {
    out.line("##fileformat=VCFv4.2")
    out.line("##source=graftbench")
    out.line("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">")
    out.line("##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">")
    out.line("##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">")
    out.line("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      strains.mkString("\t"))
  }

  /** Writes the site with fresh cells; returns the strains whose cell is
    * called (each becomes one sample-detail row). */
  def vcfLine(out: TextOut, rng: Rng, s: Site, strains: Seq[String]): Seq[String] = {
    val cells = strains.map(st => (st, cell(rng)))
    out.line(s"chr${s.chr}\t${s.pos}\t${s.id}\t${s.ref}\t${s.alt}\t50\tPASS\t.\tGT:AD:DP\t" +
      cells.map(_._2._1).mkString("\t"))
    cells.collect { case (st, (_, true)) => st }
  }

  val StoreSchema: StructType = StructType(Seq(
    StructField("chr", StringType), StructField("pos", IntegerType),
    StructField("end_pos", IntegerType), StructField("ref_nuc", StringType),
    StructField("var_nuc", StringType), StructField("variant_type", StringType),
    StructField("variant_id", LongType), StructField("dbsnp_class", StringType),
    StructField("sample_count", IntegerType)))

  def variantLoad(rng: Rng, seed: Long, sz: Sizes.VariantLoad, dir: String): Inputs = {
    val genome = writeGenome(rng.fork(1), sz.chrLen, s"$dir/genome.fa")
    val genes = writeGff(rng.fork(2), sz.chrLen, s"$dir/genes.gff3")
    val gi = new GeneIndex(genes)
    val strains = StrainPool.take(8)
    val vr = rng.fork(3)
    val out = new TextOut(s"$dir/batch.vcf")
    vcfHeader(out, strains)
    val perStrain = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val present = mutable.ArrayBuffer.empty[Row]
    var variants = 0L; var dataLines = 0L; var annotated = 0L; var xRows = 0L
    val perChr = sz.sites / Chroms.size
    Chroms.foreach { c =>
      val g = genome(c)
      // one site per stride, so every seed gets the same number of lines
      val gap = (sz.chrLen - 10) / perChr
      var k = 0
      while (k < perChr) {
        val pos = 1 + k * gap + vr.nextInt(gap - 4)
        val s = siteAt(vr, c, pos, p => g.charAt(p - 1))
        val called = vcfLine(out, vr, s, strains)
        dataLines += 1
        if (s.kind != "multi" && called.nonEmpty) {
          called.foreach(st => perStrain(st) += 1)
          if (c == "X") xRows += called.size
          variants += 1
          annotated += gi.transcriptsAt(c, s.pos)
          if (vr.chance(0.3)) present += Row(c, s.pos, s.endPos, s.ref, s.alt,
            s.variantType, 500000L + present.size, "dbSnp", called.size)
        }
        k += 1
      }
    }
    out.close()
    // loaded variants the batch never touches (var_nuc N never occurs)
    val extra = (0 until sz.storeExtra).map { i =>
      val c = Chroms(vr.nextInt(Chroms.size))
      val p = 1 + vr.nextInt(sz.chrLen - 2)
      Row(c, p, p + 1, "A", "N", "snv", 900000L + i, "novel", 1)
    }
    val store = present.toSeq ++ extra
    writeJsonLines(store, StoreSchema, s"$dir/store", 4)
    val exp = Map(
      "variants" -> variants,
      "sample_rows" -> perStrain.values.sum,
      "sample_rows_x" -> xRows,
      "merge_present" -> present.size.toLong,
      "merge_insert" -> (variants - present.size),
      "annotated_rows" -> annotated) ++
      perStrain.map { case (st, n) => s"strain.$st" -> n }
    Inputs(dir, seed, Seq("sites" -> sz.sites.toLong, "strains" -> 8L,
      "chromosomes" -> Chroms.size.toLong, "chr_len" -> sz.chrLen.toLong,
      "genes" -> genes.size.toLong, "store_rows" -> store.size.toLong),
      rows = dataLines, expected = exp,
      genders = strains.map(s => s -> genderOf(s)).toMap)
  }

  // ---------------------------------------------------------------- corpus

  val DocSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("src_lang", StringType), StructField("text", StringType)))

  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "und")
  /** Marker words the language identifier scores (graft's TextAnalysis
    * markers, minus "la", which two languages share). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "ist", "nicht"),
    "fr" -> Seq("le", "et", "les", "des"),
    "es" -> Seq("el", "de", "que", "los"),
    "und" -> Seq.empty)
  private val latin = "abcdefghijklmnopqrstuvwxyz"
  private val extraLetters: Map[String, String] = Map(
    "en" -> "", "de" -> "äöüß", "fr" -> "éèêàçœ", "es" -> "ñáéíóú",
    "und" -> "")
  private val greek = "αβγδεζηθικλμνξοπρστυφχψω"
  private val cyrillic = "абвгдежзийклмнопрстуфхцчшщыэюя"
  /** 240 CJK ideographs: with them a language's alphabet has ~300
    * letters, so a character 3-gram is rare across documents, as rare
    * words and names make it in real text. Without rare shingles the
    * near-dup stage (which joins on shingles in at most 8 documents of a
    * block) finds nothing, and unrelated documents would flood it. */
  private val ideographs = (0 until 240).map(i => (0x4E00 + i * 7).toChar).mkString

  /** A language's pseudo-vocabulary. und words carry no Latin letters
    * and no marker, so they identify as "und". */
  def vocab(rng: Rng, lang: String, n: Int): IndexedSeq[String] = {
    val markers = LangMarkers.values.flatten.toSet
    val alphabet = (if (lang == "und") cyrillic
      else latin + extraLetters(lang)) + greek + ideographs
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < n) {
      val len = 4 + rng.nextInt(6)
      val w = (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      if (!markers(w)) words += w
    }
    words.toIndexedSeq
  }

  def corpus(rng: Rng, seed: Long, sz: Sizes.Corpus, dir: String): Inputs = {
    val vocabs = Langs.map(l => l -> vocab(rng.fork(l.hashCode), l, 20000)).toMap
    val docs = mutable.ArrayBuffer.empty[(String, String)] // (lang, text)
    val keptPerLang = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var exactCopies = 0L; var nearCopies = 0L; var junk = 0L
    def words(lang: String, n: Int): mutable.ArrayBuffer[String] = {
      val v = vocabs(lang)
      val ws = mutable.ArrayBuffer.fill(n)(v(rng.nextInt(v.size)))
      LangMarkers(lang).foreach { m =>
        (0 until 1 + rng.nextInt(2)).foreach(_ => ws.insert(rng.nextInt(ws.size + 1), m))
      }
      ws
    }
    // every 25 base documents carry 3 exact and 2 near duplicates, so the
    // corpus size is the same for every seed
    (0 until sz.baseDocs).foreach { b =>
      val lang = Langs(rng.nextInt(Langs.size))
      val ws = words(lang, 30 + rng.nextInt(40))
      val text = ws.mkString(" ") + "."
      docs += ((lang, text))
      keptPerLang(lang) += 1
      val r = b % 25
      if (r < 3) {
        // exact duplicate up to case and whitespace
        val noisy = ws.map(w => if (rng.chance(0.2)) w.capitalize else w)
          .mkString(if (rng.chance(0.5)) "  " else " \t") + ". "
        docs += ((lang, "  " + noisy))
        exactCopies += 1
      } else if (r < 5) {
        // near duplicate: one non-marker word replaced
        val markers = LangMarkers(lang).toSet
        val idx = (0 until ws.size).filterNot(i => markers(ws(i)))
        val i = idx(rng.nextInt(idx.size))
        val v = vocabs(lang)
        val ws2 = ws.clone()
        ws2(i) = v(rng.nextInt(v.size))
        docs += ((lang, ws2.mkString(" ") + "."))
        nearCopies += 1
      }
    }
    // junk the quality gate removes: punctuation-heavy or too short
    (0 until sz.baseDocs / 20).foreach { k =>
      val lang = Langs(rng.nextInt(Langs.size))
      val text = if (k % 2 == 0)
        (0 until 12).map(_ => "#!%" + vocabs(lang)(rng.nextInt(100)).take(2) + "$&*").mkString(" ")
      else words(lang, 1).take(3).mkString(" ")
      docs += ((lang, text))
      junk += 1
    }
    // shuffle so copies are not adjacent and ids carry no structure
    val order = docs.indices.toArray
    rng.shuffle(order)
    val rows = order.indices.map { k =>
      val (lang, text) = docs(order(k))
      Row(k.toLong + 1, lang, text)
    }
    writeJsonLines(rows, DocSchema, s"$dir/docs", 8)
    val exp = Map(
      "docs" -> docs.size.toLong,
      "curated" -> keptPerLang.values.sum,
      "exact_copies" -> exactCopies,
      "near_copies" -> nearCopies,
      "junk" -> junk,
      "shards" -> 16L) ++ keptPerLang.map { case (l, n) => s"lang.$l" -> n }
    Inputs(dir, seed, Seq("base_docs" -> sz.baseDocs.toLong,
      "docs" -> docs.size.toLong), rows = docs.size.toLong, expected = exp)
  }

  // ----------------------------------------------------------------- graph

  def graph(rng: Rng, seed: Long, sz: Sizes.GraphRounds, dir: String): Inputs = {
    // component sizes: singletons (isolated nodes) and small random trees
    // with a few extra edges
    val sizes = mutable.ArrayBuffer.empty[Int]
    (0 until sz.components).foreach { _ =>
      val r = rng.nextInt(100)
      val small = math.max(2, sz.maxSize / 2)
      sizes += (if (r < 15) 1 else if (r < 85) 2 + rng.nextInt(small - 1)
        else small + 1 + rng.nextInt(math.max(1, sz.maxSize - small)))
    }
    val n = sizes.sum
    // node ids: a permutation of 1..n spread over a wider id range
    val ids = Array.tabulate(n)(i => (i + 1).toLong * 7 + rng.nextInt(7))
    rng.shuffle(ids)
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    var at = 0
    var sumMin = 0L; var edgeNodes = 0L
    sizes.foreach { s =>
      val comp = ids.slice(at, at + s)
      at += s
      sumMin += comp.min * s
      if (s > 1) edgeNodes += s
      val es = mutable.LinkedHashSet.empty[(Long, Long)]
      def add(a: Long, b: Long): Unit = es += ((math.min(a, b), math.max(a, b)))
      (1 until s).foreach { k =>
        add(comp(k), comp(rng.nextInt(k)))
      }
      if (s > 3) (0 until s / 4).foreach { _ =>
        val a = comp(rng.nextInt(s)); val b = comp(rng.nextInt(s))
        if (a != b) add(a, b)
      }
      edges ++= es
    }
    val order = edges.toArray
    rng.shuffle(order)
    val eo = new TextOut(s"$dir/edges.tsv")
    order.foreach { case (a, b) =>
      if (rng.chance(0.5)) eo.line(s"$a\t$b") else eo.line(s"$b\t$a") }
    eo.close()
    val no = new TextOut(s"$dir/nodes.txt")
    ids.sorted.foreach(x => no.line(x.toString))
    no.close()
    Inputs(dir, seed, Seq("nodes" -> n.toLong, "edges" -> order.length.toLong,
      "components" -> sizes.size.toLong, "max_size" -> sz.maxSize.toLong),
      rows = order.length.toLong,
      expected = Map("nodes" -> n.toLong, "edges" -> order.length.toLong,
        "components" -> sizes.size.toLong, "group_id_sum" -> sumMin,
        "edge_nodes" -> edgeNodes))
  }
}
