package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.operators.{Dedup, Enrich, HttpClients}
import graft.sources.{BibSources, Excel}

/** The reference's own job: parse four export formats, combine, normalise
  * DOIs, keep one record per DOI by source priority, fetch journal
  * metrics and run one LLM extraction per abstract against the loopback
  * mock, add link columns and write a styled workbook. */
final class BibExport(spark: SparkSession, root: Path, seed: Long,
                      server: MockServer, papers: Int) extends Workload {
  import BibExport._

  private val metrics = new HttpClients.HttpMetricsClient(HttpClients.HttpConfig(
    server.url("/metrics"), retryBaseMillis = RetryBaseMillis))
  private val llm = new HttpClients.HttpLlmClient(HttpClients.HttpConfig(
    server.url("/v1/chat/completions"), retryBaseMillis = RetryBaseMillis),
    model = "bench", maxTokens = 256)
  private val out = root.resolve("run").resolve("bib_export.xlsx")
  private var dir: Path = _

  private def gen(n: Int): Path =
    Gen.cached(root.resolve("data"), "bib_export", seed, n.toString)(Gen.writeBib(_, seed, n))

  /** Frames the traced run forced, kept for the per-layer ratios. */
  private final class Stages(val combined: DataFrame, val deduped: DataFrame)

  private def pipeline(d: Path, t: Tracer): Stages = {
    def f(name: String) = d.resolve(name).toString
    val combined = t.span("bibsources.parse") {
      t.force(BibSources.combine(Seq(
        BibSources.pubmed(spark, f("pubmed.txt")),
        BibSources.wos(spark, f("wos.txt")),
        BibSources.wosCsv(spark, f("wos.csv")),
        BibSources.sciencedirect(spark, f("sciencedirect.txt")))))
    }
    val deduped = t.span("dedup.priority") {
      val normalized = combined
        .withColumn("doi_norm", Normalize.normalizeDoi(col("doi")))
        .withColumn("prio", Normalize.sourcePriority(col("source_type")))
        .withColumn("rid", xxhash64(col("source_type"), col("title"),
          col("doi_norm"), col("pmid"), col("wos_id")))
      t.force(Dedup.priorityDedup(normalized, col("doi_norm"), col("prio"), col("rid")))
    }
    val enriched = t.span("enrich.metrics") {
      t.force(Enrich.journalMetrics(deduped, "journal", metrics))
    }
    val extracted = t.span("enrich.llm") {
      t.force(Enrich.llmExtract(enriched, "abstract", Fields, llm))
    }
    t.span("excel.write") {
      Files.createDirectories(out.getParent)
      Excel.writeXlsx(extracted
        .withColumn("pubmed_link", Normalize.nullToEmpty(
          Normalize.pubmedLink(col("source_type"), col("pmid"))))
        .withColumn("wos_link", Normalize.nullToEmpty(
          Normalize.wosLink(col("source_type"), col("wos_id"))))
        .withColumn("doi_link", Normalize.nullToEmpty(Normalize.doiLink(col("doi_norm"))))
        .withColumn("title_link", Normalize.titleLink(col("wos_link"),
          col("pubmed_link"), lit(""), col("doi_link")))
        .select("source_type", "title", "doi_norm", "publication_year",
          "journal", "impact_factor", "quartile", "title_link", "doi_link",
          "summary", "n_words"),
        out.toString)
    }
    new Stages(combined, deduped)
  }

  /** Passes over the real input: passes keep speeding up for several
    * passes, and these take the steepest part of that curve. */
  def warmUp(): Unit = (1 to WarmPasses).foreach { _ =>
    server.reset()
    pipeline(dir, Tracer(spark, live = false))
    val f = new Failures
    check(dir, f)
    require(f.count == 0, "warm-up output check failed: " + f.all.mkString("; "))
  }

  def prepare(): Unit = dir = gen(papers)

  def run(seconds: Double, tracer: Tracer): Outcome = {
    val manifest = Json.read(dir.resolve("manifest.json"))
    val records = manifest.path("records").asLong
    val failures = new Failures
    val passes = mutable.ArrayBuffer[Double]()
    val passesCpu = mutable.ArrayBuffer[Double]()
    val passesProcessCpu = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    val layerRows = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val live = tracer.live && i % 2 == 1
      server.reset()
      if (live) tracer.attach()
      val (p0, c0, pc0) = (System.nanoTime(), ThreadCpu.snapshot(), Main.processCpuS())
      val stages = try Some(tracer.span("bib.pass")(pipeline(dir, tracer)))
        catch { case e: Exception =>
          failures.check(ok = false, s"pass $i failed: $e"); None }
      val s = (System.nanoTime() - p0) / 1e9
      passesCpu += ThreadCpu.since(c0)
      passesProcessCpu += Main.processCpuS() - pc0
      tracer.detach()
      Main.progress(s"bib_export pass $i: $s s")
      attempted += 1
      passes += s
      if (tracer.live) (if (live) traced else untraced) += s
      // logical requests: every attempt minus the refused first attempts
      val logical = server.requests.get - server.refused.get
      attempted += logical
      val c = check(dir, failures)
      if (live) stages.foreach { st =>
        val parsed = st.combined.count().toDouble
        layerRows += Map(
          "bibsources.reject_ratio" -> (1.0 - parsed / records),
          "dedup.priority.keep_ratio" -> st.deduped.count() / parsed,
          "enrich.metrics.keys" -> (server.metricsRequests.get - c.metricsRefused).toDouble,
          "httpclients.requests" -> server.requests.get.toDouble,
          "httpclients.retries" -> server.refused.get.toDouble,
          "httpclients.service_s" -> server.handlerNanos.get / 1e9,
          "jsonrepair.default_ratio" -> c.defaultRatio,
          "excel.bytes" -> Files.size(out).toDouble)
      }
      tracer.releaseForced()
      i += 1
    }
    Outcome(records, passes.toSeq, passesCpu.toSeq, passesProcessCpu.toSeq, attempted, failures.count,
      failures.all, Stats.medians(layerRows.toSeq), traced.toSeq, untraced.toSeq,
      Map("passes" -> passes.size, "papers" -> papers, "records" -> records))
  }

  /** Reads the workbook back and compares it with the truth table: the
    * DOI survivors and the source that won each, titles, enrichment
    * values, extracted fields, and the mock's exact request counts. */
  private def check(d: Path, f: Failures): Checked = {
    val truth = Files.readAllLines(d.resolve("truth.tsv"), UTF_8).asScala.toSeq
      .map(_.split("\t", -1))
    val rows = Excel.readXlsx(spark, out.toString).collect().toSeq
    def s(r: org.apache.spark.sql.Row, c: String): String =
      Option(r.getAs[String](c)).getOrElse("")
    f.check(rows.size == truth.size, s"workbook has ${rows.size} rows, truth ${truth.size}")
    val byDoi = rows.filter(s(_, "doi_norm").nonEmpty).groupBy(s(_, "doi_norm"))
    f.check(byDoi.forall(_._2.size == 1), "a DOI survived more than once")
    val keyless = rows.filter(s(_, "doi_norm").isEmpty)
      .map(r => (s(r, "source_type"), s(r, "title"))).sorted
    f.check(keyless == truth.filter(_(0).isEmpty).map(t => (t(1), t(2))).sorted,
      "DOI-less records differ from the truth")
    truth.foreach { t =>
      val Array(doi, src, title, journal, year, nWords, summary, _) = t
      val hit = if (doi.nonEmpty) byDoi.get(doi).map(_.head)
        else rows.find(r => s(r, "doi_norm").isEmpty && s(r, "title") == title)
      hit match {
        case None => f.check(ok = false, s"missing output row for '$doi' '$title'")
        case Some(r) =>
          val (ifact, quartile) = Enrich.StubMetricsClient.fetch(journal)
          f.check(s(r, "source_type") == src, s"$doi: source ${s(r, "source_type")}, want $src")
          f.check(s(r, "title") == title, s"$doi: title differs")
          f.check(s(r, "publication_year") == year, s"$doi: year differs")
          f.check(s(r, "impact_factor").toDoubleOption.contains(ifact) &&
            s(r, "quartile") == quartile, s"$doi: enrichment differs")
          f.check(s(r, "summary") == summary && s(r, "n_words") == nWords,
            s"$doi: extracted fields differ: '${s(r, "summary")}' vs '$summary'")
      }
    }
    val journals = truth.map(_(3)).distinct
    val abstracts = truth.map(_(7)).filter(_.nonEmpty)
    val metricsRefused = journals.count(j => MockServer.faults("m:" + j, server.faultEvery)).toLong
    val expected = journals.size + abstracts.size + metricsRefused +
      abstracts.distinct.count(a => MockServer.faults("c:" + a, server.faultEvery))
    f.check(server.requests.get == expected,
      s"mock saw ${server.requests.get} requests, expected $expected")
    val defaults = rows.map(r => Fields.count(c => s(r, c).isEmpty)).sum
    Checked(defaults.toDouble / (Fields.size * rows.size).max(1), metricsRefused)
  }
}

object BibExport {
  final case class Checked(defaultRatio: Double, metricsRefused: Long)
  val Fields = Seq("summary", "n_words")
  val RetryBaseMillis = 1L
  /** Passes a run makes at least: passes keep speeding up for a while
    * after warm-up, so a fixed count keeps each run's median at the same
    * point of that curve. At least two, so a traced run has one traced
    * and one untraced pass. */
  val MinPasses = 4
  val WarmPasses = 1
}
