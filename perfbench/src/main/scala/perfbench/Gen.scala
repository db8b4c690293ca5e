package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every file is a pure function of
  * (workload, seed, size): the same triple gives the same bytes, so a
  * generated directory is cached and reused by later runs. Each directory
  * also holds the truth the output checks compare against. */
object Gen {
  /** Bump when the generated bytes change, so stale caches are not reused. */
  val Version = 2

  /** The directory for (workload, seed, size), generating it on first use.
    * Generation writes to a temporary sibling and renames it into place,
    * so an interrupted run never leaves a half-written cache behind. */
  def cached(root: Path, workload: String, seed: Long, size: String)
            (write: Path => Unit): Path = {
    val d = root.resolve(s"$workload-s$seed-n$size-v$Version")
    if (!Files.exists(d)) {
      Files.createDirectories(root)
      val tmp = Files.createTempDirectory(root, s".tmp-$workload-")
      write(tmp)
      Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE)
    }
    d
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ---- text material -------------------------------------------------------

  private val syllables = Seq("ka", "ri", "to", "mel", "an", "sor", "vi",
    "den", "lu", "pra", "go", "nes", "ti", "bar", "co", "fen", "ul", "mo",
    "ser", "da", "pi", "lon", "ex", "qua", "ro", "sti", "ne", "vel")

  /** A fixed vocabulary of pseudo-words (the same for every seed). */
  val vocab: Array[String] = {
    val r = new SplittableRandom(7)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 6000) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }
    seen.toArray
  }

  /** Words that exercise escaping and multi-byte encoding in every layer
    * a value passes through: quotes, apostrophes, accents, Greek, CJK. */
  val awkward: Array[String] = Array("\"robust\"", "patients'", "naïve",
    "β-catenin", "café", "Zürich", "São", "≥95%", "µm", "Ångström",
    "東京", "résumé", "\"so-called\"", "façade", "Øresund")

  def words(r: SplittableRandom, n: Int, awkwardShare: Double): Seq[String] =
    (0 until n).map { _ =>
      if (r.nextDouble() < awkwardShare) awkward(r.nextInt(awkward.length))
      else vocab(r.nextInt(vocab.length))
    }

  /** Writes `text` with the given line ending; all generators write UTF-8. */
  def writeText(p: Path, lines: Iterable[String], eol: String): Unit = {
    val sb = new java.lang.StringBuilder
    lines.foreach(l => sb.append(l).append(eol))
    Files.write(p, sb.toString.getBytes(UTF_8))
  }

  /** Wraps `text` at word boundaries: the first line carries `first`, the
    * rest `indent`. Joining the pieces with single spaces restores `text`,
    * which is how every tagged-format parser reads continuation lines. */
  def wrap(first: String, indent: String, text: String,
           width: Int = 72): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new java.lang.StringBuilder(first)
    var empty = true
    text.split(" ").foreach { w =>
      if (!empty && cur.length + 1 + w.length > width) {
        out += cur.toString; cur.setLength(0); cur.append(indent); empty = true
      }
      if (!empty) cur.append(' ')
      cur.append(w); empty = false
    }
    out += cur.toString
    out.toSeq
  }

  def tsvSafe(s: String): String = {
    require(!s.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"value carries a tab or newline: $s")
    s
  }

  // ---- bib_export -----------------------------------------------------------

  /** Source formats and the `source_type` each one parses to. */
  val bibFormats: Seq[(String, String)] = Seq(
    "pubmed" -> "pubmed", "wos_txt" -> "wos", "wos_csv" -> "wos",
    "sciencedirect" -> "sciencedirect")
  private val priority = Map("wos" -> 3, "pubmed" -> 2, "sciencedirect" -> 1)

  final case class Paper(id: Int, doi: Option[String], title: String,
                         abstractText: Option[String], journal: String,
                         year: Int, authors: Seq[(String, String)],
                         formats: Seq[String])

  /** Zipf(1.1) over `n` ranks: a few journals carry most papers. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def bibPapers(seed: Long, nPapers: Int): Seq[Paper] = {
    val r = rng(seed, 0xB1BL)
    val nJournals = 240
    val journals = (0 until nJournals).map { j =>
      val jr = rng(seed, 0x10000L + j)
      val name = "Journal of " + words(jr, 2, 0.0).map(_.capitalize).mkString(" ")
      if (j % 17 == 3) name + " Española" else name
    }
    val zipf = new Zipf(nJournals, 1.1)
    (0 until nPapers).map { i =>
      val hasDoi = r.nextDouble() >= 0.06
      val primary = bibFormats(r.nextInt(bibFormats.size))._1
      // planted cross-source overlap: each extra format joins with
      // probability 0.22; DOI-less papers stay in one source, since
      // without a key nothing could tie their copies together
      val extra = if (!hasDoi) Seq()
        else bibFormats.map(_._1).filter(f => f != primary && r.nextDouble() < 0.22)
      val title = words(r, 6 + r.nextInt(9), 0.04).mkString(" ").capitalize
      val abs = words(r, 40 + r.nextInt(90), 0.06).mkString(" ")
      // BibSources.wosCsv reads with Spark's default CSV escape (a
      // backslash), so an RFC 4180 doubled quote comes back mangled: text
      // with double quotes stays out of the CSV carrier until that reader
      // is fixed, and reaches the other three formats only
      val quoted = (title + abs).contains('"')
      val formats = (primary +: extra).map(f => if (quoted && f == "wos_csv") "wos_txt" else f)
        .distinct.sortBy(f => bibFormats.map(_._1).indexOf(f))
      // PubMed-only papers without an abstract go down the LLM layer's
      // no-call path and keep the template defaults
      val noAbstract = formats == Seq("pubmed") && r.nextDouble() < 0.03
      val nAuthors = 1 + r.nextInt(5)
      val authors = (0 until nAuthors).map { _ =>
        (vocab(r.nextInt(vocab.length)).capitalize,
          vocab(r.nextInt(vocab.length)).capitalize)
      }
      Paper(i,
        if (hasDoi) Some(f"10.${5000 + i % 97}%d/bench.$seed%d.$i%d") else None,
        title, if (noAbstract) None else Some(abs),
        journals(zipf.draw(r)), 1995 + r.nextInt(30), authors, formats)
    }
  }

  /** Writes the four export files, the truth table and the manifest.
    * The WOS tagged file uses CRLF line endings. */
  def writeBib(dir: Path, seed: Long, nPapers: Int): Unit = {
    val papers = bibPapers(seed, nPapers)
    val r = rng(seed, 0xD01L)
    def of(f: String) = papers.filter(_.formats.contains(f))
    // DOI spelling varies by source; Normalize.normalizeDoi must map every
    // variant back to the same key
    def upperSuffix(d: String) = { val i = d.indexOf('/'); d.take(i) + d.drop(i).toUpperCase }

    val pubmed = of("pubmed").flatMap { p =>
      Seq(s"PMID- ${30000000 + p.id}") ++
        wrap("TI  - ", "      ", p.title) ++
        p.abstractText.toSeq.flatMap(a => wrap("AB  - ", "      ", a)) ++
        p.authors.map { case (l, f) => s"FAU - $l, $f" } ++
        Seq(s"TA  - ${p.journal}", s"JT  - ${p.journal}",
          s"DP  - ${p.year} Mar") ++
        p.doi.toSeq.map(d => s"AID - ${if (p.id % 3 == 0) upperSuffix(d) else d} [doi]") ++
        Seq("")
    }
    writeText(dir.resolve("pubmed.txt"), pubmed, "\n")

    val wos = Seq("FN Clarivate Analytics Web of Science", "VR 1.0") ++
      of("wos_txt").flatMap { p =>
        Seq("PT J") ++
          p.authors.zipWithIndex.map { case ((l, f), k) =>
            (if (k == 0) "AF " else "   ") + s"$l, $f" } ++
          wrap("TI ", "   ", p.title) ++
          Seq(s"SO ${p.journal}") ++
          p.abstractText.toSeq.flatMap(a => wrap("AB ", "   ", a)) ++
          p.doi.toSeq.map(d => s"DI $d") ++
          Seq(s"PY ${p.year}", f"UT WOS:${p.id}%015d", "ER", "")
      } ++ Seq("EF")
    writeText(dir.resolve("wos.txt"), wos, "\r\n")

    def csvQ(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    val csv = "TI,AB,SO,DI,PY,UT,AF" +: of("wos_csv").map { p =>
      Seq(p.title, p.abstractText.getOrElse(""), p.journal,
        p.doi.map(d => if (p.id % 2 == 0) "doi:" + d else d).getOrElse(""),
        p.year.toString, f"WOS:${p.id}%015d",
        p.authors.map { case (l, f) => s"$l, $f" }.mkString("; "))
        .map(csvQ).mkString(",")
    }
    writeText(dir.resolve("wos.csv"), csv, "\n")

    // planted rejects: entries without a Keywords line fail the parser's
    // validity rule and must be dropped, never half-parsed
    var sdRejects = 0
    val sd = of("sciencedirect").flatMap { p =>
      val entry = Seq(
        p.authors.map { case (l, f) => s"$l, ${f.head}." }.mkString(", ") + ",",
        p.title + ",", p.journal + ",",
        s"Volume ${1 + p.id % 40}, Issue ${1 + p.id % 6},",
        s"${p.year},", s"Pages ${p.id % 900 + 1}-${p.id % 900 + 12},") ++
        p.doi.toSeq.map(d => s"https://doi.org/$d.") ++
        Seq(f"(https://www.sciencedirect.com/science/article/pii/S${p.id}%016d)",
          s"Abstract: ${p.abstractText.get}",
          "Keywords: " + p.title.split(" ").take(3).mkString("; "), "")
      if (r.nextDouble() < 0.02) {
        sdRejects += 1
        Seq("Correspondence to the editor,", p.title + ",",
          s"Volume ${1 + p.id % 40},", "Abstract: not provided", "") ++ entry
      } else entry
    }
    writeText(dir.resolve("sciencedirect.txt"), sd, "\n")

    // truth: one row per expected output row. A DOI keeps its
    // highest-priority copy; DOI-less records are all kept.
    val truth = papers.flatMap { p =>
      val srcs = p.formats.map(f => bibFormats.toMap.apply(f))
      p.doi match {
        case Some(d) => Seq((d, srcs.maxBy(priority), p))
        case None => srcs.map(s => ("", s, p))
      }
    }
    writeText(dir.resolve("truth.tsv"), truth.map { case (d, s, p) =>
      val toks = p.abstractText.map(_.trim.split("\\s+").toSeq).getOrElse(Seq())
      Seq(d, s, p.title, p.journal.trim.toLowerCase, p.year.toString,
        if (toks.isEmpty) "" else toks.length.toString,
        toks.take(8).mkString(" "), p.abstractText.getOrElse(""))
        .map(tsvSafe).mkString("\t")
    }, "\n")
    val records = bibFormats.map { case (f, _) => f -> of(f).size }.toMap
    val bytes = Seq("pubmed.txt", "wos.txt", "wos.csv", "sciencedirect.txt")
      .map(f => Files.size(dir.resolve(f))).sum
    Json.write(dir.resolve("manifest.json"), Map(
      "workload" -> "bib_export", "seed" -> seed, "papers" -> nPapers,
      "records" -> (records.values.sum + sdRejects),
      "records_by_format" -> records, "sd_rejects" -> sdRejects,
      "survivors" -> truth.size, "keyless" -> truth.count(_._1.isEmpty),
      "input_bytes" -> bytes))
  }

  // ---- citation_rank -----------------------------------------------------------

  val embDim = 32
  val topics = 16

  /** Power-law citation graph by the copying model: each new paper cites
    * earlier papers, half uniformly and half by copying the target of a
    * random earlier citation, which gives in-degrees a heavy tail.
    * Embeddings are noisy copies of one of `topics` unit centres. */
  def writeCitation(dir: Path, seed: Long, nPapers: Int, meanRefs: Int): Unit = {
    val r = rng(seed, 0xC17L)
    val src = mutable.ArrayBuilder.make[Int]
    val dst = mutable.ArrayBuilder.make[Int]
    val dsts = new Array[Int](nPapers * (2 * meanRefs + 1))
    var nEdges = 0
    for (p <- 1 until nPapers) {
      val refs = math.min(p, r.nextInt(2 * meanRefs + 1))
      val chosen = mutable.LinkedHashSet[Int]()
      var tries = 0
      while (chosen.size < refs && tries < 4 * refs) {
        val t = if (nEdges > 0 && r.nextDouble() < 0.5) dsts(r.nextInt(nEdges))
                else r.nextInt(p)
        chosen += t; tries += 1
      }
      chosen.foreach { t => src += p; dst += t; dsts(nEdges) = t; nEdges += 1 }
    }
    val (s, d) = (src.result(), dst.result())
    writeText(dir.resolve("edges.tsv"), s.indices.map(i => s"${s(i)}\t${d(i)}"), "\n")
    val centres = Array.fill(topics, embDim)(r.nextDouble() * 2 - 1)
    val emb = (0 until nPapers).map { i =>
      val t = r.nextInt(topics)
      val v = centres(t).map(c => c + (r.nextDouble() * 2 - 1) * 0.15)
      s"$i\t$t\t" + v.map(x => f"$x%.5f").mkString(",")
    }
    writeText(dir.resolve("embeddings.tsv"), emb, "\n")
    Json.write(dir.resolve("manifest.json"), Map(
      "workload" -> "citation_rank", "seed" -> seed, "papers" -> nPapers,
      "edges" -> nEdges, "topics" -> topics, "dim" -> embDim))
  }
}
