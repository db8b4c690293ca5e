package graft

import org.apache.spark.sql.functions._
import graft.functions.Normalize
import graft.operators.Dedup
import graft.sources.BibSources

/** Golden tests for the S1/S2/S3/S5 parsers over the FIXTURES.md §C
  * samples, plus the C4 end-to-end dedup expectation. */
class BibSourcesSpec extends SparkTestBase {
  import spark.implicits._

  private val fx = "/root/repo/fixtures"

  test("S1 pubmed: tags, continuations, multi-fields, AID routing") {
    val df = BibSources.pubmed(spark, s"$fx/pubmed_sample.txt")
    assert(df.count() === 2)
    val r = df.where(col("pmid") === "12345678").head()
    assert(r.getAs[String]("title") ===
      "A study of synthetic literature records for pipeline testing.")
    assert(r.getAs[String]("abstract").contains("multiple lines. Results"))
    assert(r.getAs[Seq[String]]("authors") === Seq("Smith, Jane", "Doe, John"))
    assert(r.getAs[Seq[String]]("issn") ===
      Seq("1234-5678 (Print)", "8765-4321 (Electronic)"))
    assert(r.getAs[Seq[String]]("keywords") === Seq("synthetic data", "testing"))
    // repeated non-multi tags accumulate (reference promotes to list);
    // the continuation line extends the LAST repeated value
    assert(r.getAs[Seq[String]]("mesh_terms") ===
      Seq("Humans", "Animals", "Mice, Inbred C57BL"))
    assert(r.getAs[String]("doi") === "10.1000/jsr.2024.001") // AID [doi]
    assert(r.getAs[String]("pii") === "S0000-0000(24)00001-X") // AID [pii]
    assert(r.getAs[String]("journal") === "J Synth Res")
    assert(r.getAs[String]("journal_full") === "Journal of Synthetic Research")
    val r2 = df.where(col("pmid") === "12345679").head()
    assert(r2.getAs[String]("title") === "Second record.")
    assert(r2.getAs[String]("doi") === null)
  }

  test("S2 wos: header skip, ER split, indent continuations kept") {
    val df = BibSources.wos(spark, s"$fx/wos_sample.txt")
    assert(df.count() === 2)
    val r = df.where(col("wos_id") === "WOS:000000000000001").head()
    // the wrapped TI line survives (the reference drops it — SURVEY §2.1 S2)
    assert(r.getAs[String]("title") ===
      "A study of synthetic literature records for pipeline testing")
    assert(r.getAs[Seq[String]]("authors") === Seq("Smith, Jane", "Doe, John"))
    assert(r.getAs[String]("doi") === "10.1000/jsr.2024.001")
    assert(r.getAs[String]("publication_year") === "2024")
    assert(r.getAs[String]("abstract").endsWith("DOI dedup."))
  }

  test("S3 wos csv: dialect options + header mapping") {
    val df = BibSources.wosCsv(spark, s"$fx/wos_sample.csv")
    assert(df.count() === 2)
    val r = df.where(col("wos_id") === "WOS:000000000000003").head()
    assert(r.getAs[String]("title") === "A CSV-exported record")
    assert(r.getAs[Seq[String]]("authors") === Seq("Smith, Jane", "Doe, John"))
    assert(r.getAs[String]("source_type") === "wos")
  }

  test("S3 sniffing: latin1 + semicolon dialect detected and decoded") {
    val df = BibSources.wosCsvSniffed(spark, s"$fx/wos_sample_latin1.csv")
    val r = df.head()
    assert(r.getAs[String]("title") === "Ein Bericht über etwas")
    assert(r.getAs[String]("journal") === "ZEITSCHRIFT FÜR TESTS")
    assert(r.getAs[Seq[String]]("authors") === Seq("Müller, Hans"))
  }

  test("S3 wos csv: RFC 4180 doubled quotes inside a quoted field") {
    val f = java.nio.file.Files.createTempFile("graft_wos_quotes", ".csv")
    java.nio.file.Files.writeString(f, "TI,AB,UT\n" +
      "\"The \"\"quoted\"\" term, revisited\",\"An abstract\",\"WOS:1\"\n")
    for (df <- Seq(BibSources.wosCsv(spark, f.toString),
                   BibSources.wosCsvSniffed(spark, f.toString))) {
      val r = df.head()
      assert(r.getAs[String]("title") === "The \"quoted\" term, revisited")
      assert(r.getAs[String]("abstract") === "An abstract")
      assert(r.getAs[String]("wos_id") === "WOS:1")
    }
  }

  test("S5 sciencedirect: validity predicate + positional/regex extraction") {
    val df = BibSources.sciencedirect(spark, s"$fx/sciencedirect_sample.txt")
    assert(df.count() === 2) // invalid middle entry rejected
    val r = df.where(col("volume") === "12").head()
    assert(r.getAs[String]("title") ===
      "A study of synthetic literature records for pipeline testing")
    assert(r.getAs[String]("journal") === "Journal of Synthetic Research")
    assert(r.getAs[String]("doi") === "10.1000/jsr.2024.001")
    assert(r.getAs[String]("issue") === "3")
    assert(r.getAs[String]("pages") === "100-110")
    assert(r.getAs[String]("publication_year") === "2024")
    assert(r.getAs[String]("abstract") ===
      "Background: this is the abstract shared across sources.")
    assert(r.getAs[Seq[String]]("keywords") ===
      Seq("synthetic data", "testing", "pipelines"))
    assert(r.getAs[String]("url").contains("sciencedirect.com"))
  }

  test("S6 dispatch: extension + source hint route to the right parser") {
    assert(BibSources.readAuto(spark, s"$fx/wos_sample.csv", "wos")
      .count() === 2) // .csv wins regardless of hint
    assert(BibSources.readAuto(spark, s"$fx/pubmed_sample.txt", "pubmed")
      .count() === 2)
    assert(BibSources.readAuto(spark, s"$fx/wos_sample.txt", "wos")
      .count() === 2)
    assert(BibSources.readAuto(spark, s"$fx/sciencedirect_sample.txt",
      "sciencedirect").count() === 2)
    intercept[IllegalArgumentException] {
      BibSources.readAuto(spark, "/tmp/whatever.txt", "unknown")
    }
  }

  test("CRLF exports parse identically to LF: the record delimiter is " +
    "sniffed from the file, residual \\r is stripped per line") {
    def crlfCopy(src: String): String = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(src)), "UTF-8")
      val out = java.nio.file.Files.createTempFile("graft_crlf", ".txt")
      java.nio.file.Files.write(out,
        text.replace("\n", "\r\n").getBytes("UTF-8"))
      out.toString
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("title").collect().map(_.toSeq).toSeq
    val pmCrlf = BibSources.pubmed(spark, crlfCopy(s"$fx/pubmed_sample.txt"))
    assert(rows(pmCrlf) === rows(BibSources.pubmed(spark,
      s"$fx/pubmed_sample.txt")))
    assert(pmCrlf.count() === 2) // NOT one collapsed record
    val wosCrlf = BibSources.wos(spark, crlfCopy(s"$fx/wos_sample.txt"))
    assert(rows(wosCrlf) === rows(BibSources.wos(spark,
      s"$fx/wos_sample.txt")))
    val sdCrlf = BibSources.sciencedirect(spark,
      crlfCopy(s"$fx/sciencedirect_sample.txt"))
    assert(rows(sdCrlf) === rows(BibSources.sciencedirect(spark,
      s"$fx/sciencedirect_sample.txt")))
    // no value carries a stray \r
    assert(!pmCrlf.collect().exists(_.toSeq.exists {
      case s: String => s.contains("\r")
      case _ => false
    }))
  }

  test("a record split across input partitions parses as in one read: " +
    "PubMed, WOS (LF and CRLF), ScienceDirect") {
    val wosCrlf = java.nio.file.Files.createTempFile("graft_wos_crlf", ".txt")
    java.nio.file.Files.writeString(wosCrlf, java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$fx/wos_sample.txt")).replace("\n", "\r\n"))
    val inputs: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      s"$fx/pubmed_sample.txt" -> (BibSources.pubmed(spark, _)),
      s"$fx/wos_sample.txt" -> (BibSources.wos(spark, _)),
      wosCrlf.toString -> (BibSources.wos(spark, _)),
      s"$fx/sciencedirect_sample.txt" -> (BibSources.sciencedirect(spark, _)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
    val whole = inputs.map { case (p, read) => rows(read(p)) }
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "200")
    try {
      inputs.zip(whole).foreach { case ((p, read), want) =>
        assert(BibSources.readRecords(spark, p, "\n").rdd.getNumPartitions > 1,
          s"$p was not split")
        assert(rows(read(p)) === want, s"$p parses differently when split")
        assert(want.nonEmpty)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S6 dispatch routes .xlsx to the Excel carrier (S4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx").toString
    graft.sources.Excel.writeXlsx(
      Seq(("T1", "Abs", "J", "10.1/x", "2024", "WOS:1", "A, B; C, D"))
        .toDF("Article Title", "Abstract", "Source Title", "DOI",
          "Publication Year", "UT (Unique WOS ID)", "Author Full Names"),
      s"$dir/export.xlsx")
    val df = BibSources.readAuto(spark, s"$dir/export.xlsx", "wos")
    val r = df.head()
    assert(r.getAs[String]("title") === "T1")
    assert(r.getAs[String]("source_type") === "wos")
    assert(r.getAs[Seq[String]]("authors") === Seq("A, B", "C, D"))
  }

  test("combine: a publication_date with no 4-digit year yields a NULL " +
    "publication_year, not the empty string") {
    val df = BibSources.pubmed(spark, s"$fx/pubmed_sample.txt")
      .withColumn("publication_year", lit(null).cast("string"))
      .withColumn("publication_date",
        when(col("pmid") === "12345678", lit("Spring"))
          .otherwise(col("publication_date")))
    val out = BibSources.combine(Seq(df))
    val bad = out.where(col("pmid") === "12345678").head()
    assert(bad.isNullAt(bad.fieldIndex("publication_year")))
  }

  test("C4 pipeline: union -> normalize -> priority dedup keeps the WOS copy") {
    val all = BibSources.combine(Seq(
      BibSources.pubmed(spark, s"$fx/pubmed_sample.txt"),
      BibSources.wos(spark, s"$fx/wos_sample.txt"),
      BibSources.sciencedirect(spark, s"$fx/sciencedirect_sample.txt")))
    val normalized = all
      .withColumn("doi_norm", Normalize.normalizeDoi(col("doi")))
      .withColumn("prio", Normalize.sourcePriority(col("source_type")))
      .withColumn("rid", xxhash64(col("source_type"), col("title"),
        col("doi_norm"), col("pmid"), col("wos_id")))
    val deduped = Dedup.priorityDedup(normalized, col("doi_norm"),
      col("prio"), col("rid"))
    // 6 records in, 3 share DOI 10.1000/jsr.2024.001 -> 4 survive
    assert(all.count() === 6)
    assert(deduped.count() === 4)
    val survivor = deduped
      .where(col("doi_norm") === "10.1000/jsr.2024.001").head()
    assert(survivor.getAs[String]("source_type") === "wos") // priority 3
    // null/empty-DOI record (pubmed 12345679) always kept
    assert(deduped.where(col("pmid") === "12345679").count() === 1)
  }
}
