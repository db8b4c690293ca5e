package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion sources for the three bibliographic export formats the
  * reference parses (SURVEY.md §2.1):
  *
  *   S1 PubMed tagged text  (`pubmed_parser.py:16-105`)
  *   S2 WOS tagged text     (`wos_parser.py:45-109`)
  *   S3 WOS CSV             (`wos_parser.py:111-139`)
  *   S5 ScienceDirect text  (`sciencedirect_parser.py:17-253`)
  *   S6 dispatch by extension (`wos_parser.py:31-43`)
  *
  * Scale design: records are segmented by the text source's `lineSep`
  * (Hadoop's `LineRecordReader` with a custom delimiter), not by
  * whole-file reads — the input stays SPLITTABLE, so a single 100 GB
  * export file still fans out across executors; per-record parsing is a
  * pure String => Row function (unit-testable without Spark), applied by
  * a typed `flatMap` in the plan, with no RDD round trip.
  *
  * Fidelity notes (SURVEY.md §7.4.3): WOS continuation lines are parsed
  * CORRECTLY here (3-space indent), unlike the reference, which strips
  * each line before testing for the indent (`wos_parser.py:55` vs `:90`)
  * and therefore silently drops wrapped values.
  */
object BibSources {

  /** Canonical raw-record schema shared by the three parsers (FIXTURES.md
    * §B; the union edge fills what a source doesn't produce). */
  val schema: StructType = StructType(Seq(
    StructField("pmid", StringType),
    StructField("title", StringType),
    StructField("abstract", StringType),
    StructField("journal", StringType),
    StructField("journal_full", StringType),
    StructField("publication_date", StringType),
    StructField("authors", ArrayType(StringType)),
    StructField("keywords", ArrayType(StringType)),
    StructField("mesh_terms", ArrayType(StringType)),
    StructField("issn", ArrayType(StringType)),
    StructField("doi", StringType),
    StructField("pii", StringType),
    StructField("wos_id", StringType),
    StructField("url", StringType),
    StructField("volume", StringType),
    StructField("issue", StringType),
    StructField("pages", StringType),
    StructField("publication_year", StringType),
    StructField("source_type", StringType)))

  private val fieldNames = schema.fieldNames

  private def rowFrom(m: Map[String, Any], sourceType: String): Row =
    Row.fromSeq(fieldNames.map {
      case "source_type" => sourceType
      case f => m.getOrElse(f, null)
    }.toIndexedSeq)

  /** Driver-side peek at the first file's first 64 KB: a Windows (CRLF)
    * export's blank-line record separator is `\r\n\r\n`, which the
    * byte-exact Hadoop record delimiter would never match as `\n\n` —
    * the whole file would collapse into ONE record. The reference's
    * Python parsers are immune because text-mode `open()` normalizes
    * newlines; this sniff (one bounded read, the same spirit as the
    * reference's CSV dialect sniffing, `wos_parser.py:111-139`) picks
    * the CRLF delimiter variant up front, and the per-record parsers
    * strip any residual `\r` per line. */
  private[graft] def usesCrlf(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).filter(_.nonEmpty)
      .getOrElse(Array(fs.getFileStatus(p)))
    val firstFile = statuses.iterator.flatMap { s =>
      if (s.isDirectory)
        fs.listStatus(s.getPath).iterator.filter(_.isFile).map(_.getPath)
      else Iterator(s.getPath)
    }.toSeq.sortBy(_.getName).headOption
    firstFile.exists { f =>
      val in = fs.open(f)
      try {
        // readFully semantics: a single read() may return far fewer bytes
        // than requested (HDFS streams legally short-read), which could
        // miss the first \r\n entirely — loop until 64 KB or EOF.
        val buf = new Array[Byte](65536)
        var n = 0
        var r = in.read(buf, n, buf.length - n)
        while (r > 0) { n += r; r = in.read(buf, n, buf.length - n) }
        n > 1 && (0 until n - 1).exists(i =>
          buf(i) == '\r'.toByte && buf(i + 1) == '\n'.toByte)
      } finally in.close()
    }
  }

  /** The blank-line record delimiter in the file's own newline
    * convention. */
  private def blankLineSep(spark: SparkSession, path: String): String =
    if (usesCrlf(spark, path)) "\r\n\r\n" else "\n\n"

  /** Splittable segmented read: one string per delimited record. */
  def readRecords(spark: SparkSession, path: String,
                  delimiter: String): DataFrame =
    spark.read.option("lineSep", delimiter).text(path).toDF("record")

  /** Parse each delimited record of `path` into the canonical schema. */
  private def parseRecords(spark: SparkSession, path: String,
                           delimiter: String)
                          (parse: String => Option[Row]): DataFrame =
    readRecords(spark, path, delimiter).as(Encoders.STRING)
      .flatMap(parse)(RowEncoder.encoderFor(schema))

  // ---- S1: PubMed tagged text ----------------------------------------------

  private val pubmedTag = "^([A-Z0-9]+)\\s*-\\s*(.*)$".r

  /** Pure per-record parse: `TAG - value` lines, untagged lines continue
    * the previous value (`pubmed_parser.py:84-91`), `AID ... [doi]/[pii]`
    * routes to doi/pii (`:56-64`). ALL tags accumulate on repeat
    * (the reference promotes a repeated scalar to a list,
    * `pubmed_parser.py:74-79`); array-schema fields expose the full list,
    * scalar fields the FIRST value (the reference's downstream flatten
    * takes element 0, `parsers_manager.py:226-230`). */
  def parsePubmedRecord(record: String): Option[Row] = {
    val lines = record.split("\n").map(_.stripSuffix("\r"))
    var last: String = null
    val vals = collection.mutable.LinkedHashMap[String, Vector[String]]()
    def append(tag: String, v: String): Unit = {
      vals(tag) = vals.getOrElse(tag, Vector()) :+ v
      last = tag
    }
    def extendLast(extra: String): Unit =
      if (last != null && vals.contains(last)) {
        val vs = vals(last)
        vals(last) = vs.init :+ (vs.last + " " + extra)
      }
    lines.foreach { line =>
      pubmedTag.findFirstMatchIn(line) match {
        case Some(m) =>
          val (tag, v) = (m.group(1), m.group(2).trim)
          if (tag == "AID") {
            if (v.endsWith("[doi]")) append("DOI", v.stripSuffix("[doi]").trim)
            else if (v.endsWith("[pii]"))
              append("PII", v.stripSuffix("[pii]").trim)
            else append(tag, v)
          } else append(tag, v)
        case None if line.trim.nonEmpty => extendLast(line.trim)
        case None => ()
      }
    }
    def first(tag: String): String = vals.get(tag).map(_.head).orNull
    def all(tag: String): Vector[String] = vals.get(tag).orNull
    if (vals.isEmpty) None
    else Some(rowFrom(Map(
      "pmid" -> first("PMID"),
      "title" -> first("TI"),
      "abstract" -> first("AB"),
      "journal" -> first("TA"),
      "journal_full" -> first("JT"),
      "publication_date" -> first("DP"),
      "authors" -> all("FAU"),
      "keywords" -> all("OT"),
      "mesh_terms" -> all("MH"),
      "issn" -> all("IS"),
      "doi" -> Option(first("DOI")).orElse(
        Option(all("LID")).flatMap(_.find(_.endsWith("[doi]"))
          .map(_.stripSuffix("[doi]").trim))).orNull,
      "pii" -> first("PII")
    ), "pubmed"))
  }

  /** S1 — records separated by blank lines; splittable via the file's
    * own blank-line convention (LF or CRLF). */
  def pubmed(spark: SparkSession, path: String): DataFrame =
    parseRecords(spark, path, blankLineSep(spark, path))(parsePubmedRecord)

  // ---- S2: WOS tagged text --------------------------------------------------

  private val wosTag = "^([A-Z][A-Z0-9]) (.*)$".r
  private val wosMulti = Set("AU", "AF", "C1", "CR")

  /** Pure per-record parse. Lines are NOT pre-stripped: the 3-space indent
    * marks continuations, which the reference makes unreachable by
    * stripping first (`wos_parser.py:55,90`).
    *
    * ALL tags accumulate into vectors (the reference promotes ANY repeated
    * tag to a list, `wos_parser.py:81-88`); scalar schema fields expose the
    * FIRST value — same policy as `parsePubmedRecord`, so a record with a
    * duplicated scalar tag (e.g. two TI lines) keeps the first rather than
    * last-wins. */
  def parseWosRecord(record: String): Option[Row] = {
    val lines = record.split("\n").map(_.stripSuffix("\r"))
      .filterNot(l => l.startsWith("FN ") || l.startsWith("VR ") ||
        l.trim == "EF" || l.trim == "ER")
    var last: String = null
    val vals = collection.mutable.LinkedHashMap[String, Vector[String]]()
    lines.foreach { line =>
      wosTag.findFirstMatchIn(line) match {
        case Some(m) =>
          val (tag, v) = (m.group(1), m.group(2))
          vals(tag) = vals.getOrElse(tag, Vector()) :+ v
          last = tag
        case None if line.startsWith("   ") && line.trim.nonEmpty &&
          last != null && vals.contains(last) =>
          if (wosMulti(last)) vals(last) = vals(last) :+ line.trim
          else {
            val vs = vals(last)
            vals(last) = vs.init :+ (vs.last + " " + line.trim)
          }
        case _ => ()
      }
    }
    def first(tag: String): String = vals.get(tag).map(_.head).orNull
    if (vals.isEmpty) None
    else Some(rowFrom(Map(
      "title" -> first("TI"),
      "abstract" -> first("AB"),
      "journal" -> first("SO"),
      "doi" -> first("DI"),
      "publication_year" -> first("PY"),
      "wos_id" -> first("UT"),
      "authors" -> vals.get("AF").orElse(vals.get("AU")).orNull
    ), "wos"))
  }

  /** S2 — records end with an `ER` line; delimiter keeps splittability
    * (CRLF exports split on `\r\nER`). */
  def wos(spark: SparkSession, path: String): DataFrame = {
    val sep = if (usesCrlf(spark, path)) "\r\nER" else "\nER"
    parseRecords(spark, path, sep)(parseWosRecord)
  }

  /** S3 — WOS CSV export: plain DataFrameReader with explicit dialect
    * options; the reference's encoding/separator sniffing loop
    * (`wos_parser.py:111-139`) is a thin driver retry around this. */
  def wosCsv(spark: SparkSession, path: String, sep: String = ",",
             encoding: String = "UTF-8"): DataFrame = {
    // RFC 4180 quoting: a quote inside a quoted field is doubled ("");
    // Spark's default escape is a backslash, which mangles those fields
    val raw = spark.read
      .option("header", "true").option("sep", sep).option("escape", "\"")
      .option("encoding", encoding).csv(path)
    wosNormalize(raw)
  }

  /** Map a raw string-typed WOS export frame (CSV or Excel, tag or
    * long-form headers) onto the unified bibliographic schema — the
    * normalization the reference's `wos_parser` applies to every WOS
    * record regardless of carrier format. Shared by `wosCsv` and
    * `Excel.wosExcel` so both carriers union into `combine`. */
  private[graft] def wosNormalize(raw: DataFrame): DataFrame = {
    val get = (names: Seq[String]) =>
      names.collectFirst {
        case n if raw.columns.contains(n) => col(n)
      }.getOrElse(lit(null).cast(StringType))
    raw.select(
      lit(null).cast(StringType).as("pmid"),
      get(Seq("TI", "Article Title")).as("title"),
      get(Seq("AB", "Abstract")).as("abstract"),
      get(Seq("SO", "Source Title")).as("journal"),
      lit(null).cast(StringType).as("journal_full"),
      lit(null).cast(StringType).as("publication_date"),
      split(get(Seq("AF", "Author Full Names")), "; ").as("authors"),
      lit(null).cast(ArrayType(StringType)).as("keywords"),
      lit(null).cast(ArrayType(StringType)).as("mesh_terms"),
      lit(null).cast(ArrayType(StringType)).as("issn"),
      get(Seq("DI", "DOI")).as("doi"),
      lit(null).cast(StringType).as("pii"),
      get(Seq("UT", "UT (Unique WOS ID)")).as("wos_id"),
      lit(null).cast(StringType).as("url"),
      lit(null).cast(StringType).as("volume"),
      lit(null).cast(StringType).as("issue"),
      lit(null).cast(StringType).as("pages"),
      get(Seq("PY", "Publication Year")).as("publication_year"),
      lit("wos").as("source_type"))
  }

  /** S3 sniffing — the reference tries encodings × separators until the
    * parse yields more than one column (`wos_parser.py:111-139`); same
    * loop here, driver-side, over cheap 1-row probes. */
  def wosCsvSniffed(spark: SparkSession, path: String): DataFrame = {
    val dialects = for {
      enc <- Seq("UTF-8", "ISO-8859-1")
      sep <- Seq(",", "\t", ";")
    } yield (enc, sep)
    dialects.view.map { case (enc, sep) =>
      val probe = spark.read.option("header", "true").option("sep", sep)
        .option("escape", "\"").option("encoding", enc).csv(path)
      // >1 column AND no U+FFFD replacement chars: Spark's csv reader
      // substitutes silently where pandas would throw a UnicodeDecodeError
      // (the failure signal the reference's sniff loop relies on)
      val ok = probe.columns.length > 1 && {
        val rows = probe.limit(5).collect()
        !rows.exists(_.toSeq.exists {
          case s: String => s.contains('�')
          case _ => false
        })
      }
      (enc, sep, ok)
    }.collectFirst { case (enc, sep, true) => wosCsv(spark, path, sep, enc) }
      .getOrElse(throw new IllegalArgumentException(
        s"no CSV dialect produced a clean >1-column parse for $path"))
  }

  // ---- S5: ScienceDirect citation text ---------------------------------------

  private val sdDoi =
    "(?:https://doi\\.org/|[Dd][Oo][Ii]:|/)(10\\.[0-9.]+/[^\\s,]+)".r
  private val sdUrl = "(https?://[^\\s)]+)".r
  private val sdVolIssue = "Volume\\s+(\\d+)(?:,\\s*Issue\\s+(\\d+))?".r
  private val sdPages = "Pages?\\s+([\\dA-Za-z-]+)".r
  private val sdYear = "^(\\d{4})\\b".r

  /** Entry validity: >=3 lines, has `Volume \d+`, "Abstract", "Keywords"
    * (`sciencedirect_parser.py:86-105`). */
  def sdEntryValid(entry: String): Boolean = {
    val lines = entry.split("\n").filter(_.trim.nonEmpty)
    lines.length >= 3 &&
      sdVolIssue.findFirstIn(entry).isDefined &&
      entry.contains("Abstract") && entry.contains("Keywords")
  }

  /** Pure per-entry parse: positional lines 0-2 = authors/title/journal,
    * regex extraction for the rest (`sciencedirect_parser.py:108-253`). */
  def parseSdEntry(entry: String): Option[Row] = {
    if (!sdEntryValid(entry)) return None
    val lines = entry.split("\n").map(_.trim).filter(_.nonEmpty)
    val authors = lines(0).replaceAll(",\\s*$", "")
      .split("\\.,\\s*").map(_.trim).filter(_.nonEmpty)
      .map(a => if (a.endsWith(".")) a else a + ".")
    val title = lines(1).replaceAll(",\\s*$", "")
    val journal = lines(2).replaceAll(",\\s*$", "")
    val doi = sdDoi.findFirstMatchIn(entry).map(_.group(1)
      .replaceAll("[,.]$", "")).orNull
    val url = sdUrl.findAllMatchIn(entry).map(_.group(1))
      .find(_.contains("sciencedirect.com")).orNull
    val (vol, issue) = sdVolIssue.findFirstMatchIn(entry)
      .map(m => (m.group(1), Option(m.group(2)).orNull))
      .getOrElse((null, null))
    val pages = sdPages.findFirstMatchIn(entry).map(_.group(1)).orNull
    val year = lines.collectFirst {
      case l if sdYear.findFirstIn(l).isDefined =>
        sdYear.findFirstMatchIn(l).get.group(1)
    }.orNull
    val abstractText = "(?s)Abstract:?\\s*(.*?)\\s*Keywords".r
      .findFirstMatchIn(entry).map(_.group(1).replaceAll("\\s+", " ").trim)
      .orNull
    val keywords = "(?s)Keywords:?\\s*(.*)$".r.findFirstMatchIn(entry)
      .map(_.group(1).split(";").map(_.trim).filter(_.nonEmpty).toVector)
      .orNull
    Some(rowFrom(Map(
      "title" -> title, "abstract" -> abstractText,
      "journal" -> journal, "doi" -> doi, "url" -> url,
      "volume" -> vol, "issue" -> issue, "pages" -> pages,
      "publication_year" -> year,
      "authors" -> (if (authors.nonEmpty) authors.toVector else null),
      "keywords" -> keywords
    ), "sciencedirect"))
  }

  /** S5 — entries separated by blank-line runs (LF or CRLF). */
  def sciencedirect(spark: SparkSession, path: String): DataFrame =
    parseRecords(spark, path, blankLineSep(spark, path))(parseSdEntry)

  // ---- S6: dispatch + U1 union ------------------------------------------------

  /** Format dispatch by extension (`wos_parser.py:31-43`). */
  def readAuto(spark: SparkSession, path: String,
               sourceHint: String): DataFrame = {
    val lower = path.toLowerCase
    (sourceHint, lower) match {
      case (_, p) if p.endsWith(".xlsx") || p.endsWith(".xls") =>
        Excel.wosExcel(spark, path)
      case (_, p) if p.endsWith(".csv") => wosCsv(spark, path)
      case ("pubmed", _) => pubmed(spark, path)
      case ("wos", _) => wos(spark, path)
      case ("sciencedirect", _) => sciencedirect(spark, path)
      case _ => throw new IllegalArgumentException(
        s"no parser for ($sourceHint, $path)")
    }
  }

  /** P2 — drop rows with a null abstract, but ONLY when at least one
    * non-null abstract exists; an all-null frame passes through unchanged
    * (reference guard, `base_parser.py:49-52`). The existence probe is a
    * cheap LIMIT-1 driver check, not a full count. */
  def filterAbstracts(df: DataFrame): DataFrame =
    if (df.where(col("abstract").isNotNull).isEmpty) df
    else df.where(col("abstract").isNotNull)

  /** U1 — combine per-source frames (all share `schema`, so this is the
    * reference's concat, `parsers_manager.py:68-69`) and derive the
    * standard columns (`parsers_manager.py:122-178`). */
  def combine(frames: Seq[DataFrame]): DataFrame = {
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    all
      .withColumn("publication_year",
        // no-match regexp_extract returns "" for non-null input; the
        // reference's str.extract gives NaN — expose NULL, not ""
        coalesce(col("publication_year"),
          when(regexp_extract(col("publication_date"), "(\\d{4})", 1)
            =!= "", regexp_extract(col("publication_date"),
              "(\\d{4})", 1))))
      .withColumn("full_authors", array_join(col("authors"), ", "))
  }
}
