package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream,
  FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Minimal dependency-free XLSX source/sink (S4 + the reference's Excel
  * OUTPUT path).
  *
  * The reference reads WOS Excel exports with `pd.read_excel`
  * (`wos_parser.py:141-148` — header row + string records) and its primary
  * sink is a multi-sheet workbook, one sheet per source
  * (`excel_formatter.py`, `output.separate_sheets` in config). No OSS
  * Spark Excel reader exists in this offline build, but XLSX is just a
  * zip of small XMLs — the JDK's zip + DOM cover the subset the reference
  * exercises: one header row, string/number cells, multiple sheets.
  *
  * Posture: Excel is a DRIVER-SIDE exchange format, not a data-plane
  * format — workbooks are capped at 1,048,576 rows by the format itself,
  * so collect-to-driver is inherent, bounded, and guarded. The data plane
  * stays parquet (S8); this sink exists for the reference's curated
  * final-output UX.
  *
  * Writer emits `inlineStr` cells (valid OOXML, no sharedStrings table);
  * reader handles both inline and shared strings so externally-produced
  * files load too. All values surface as strings — the reference is
  * string-typed at this boundary (SURVEY.md §1.2, excel_formatter
  * coerces to string/number/"").
  */
object Excel {

  private val excelMaxRows = 1048576 - 1 // minus header

  private def colRef(i: Int): String = {
    var n = i; var s = ""
    while (n >= 0) { s = ('A' + n % 26).toChar.toString + s; n = n / 26 - 1 }
    s
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }

  /** The reference's per-column-name width table, default 20
    * (`excel_formatter.py:226-260`) — widths are presentation hints, so
    * parity by value, not derivation. */
  private val columnWidths: Map[String, Int] = Map(
    "title" -> 60, "abstract" -> 60, "ai_summary" -> 60,
    "authors" -> 30, "full_authors" -> 40, "journal" -> 25,
    "publication_year" -> 20, "pmid" -> 15, "doi" -> 15,
    "wos_id" -> 15, "affiliation" -> 40, "keywords" -> 30,
    "mesh_terms" -> 30, "publication_type" -> 20, "source_type" -> 15,
    "doi_link" -> 25, "pubmed_link" -> 25, "wos_link" -> 25,
    "sciencedirect_link" -> 25, "impact_factor" -> 15,
    "中科院分区" -> 15, "sciif" -> 15, "sci" -> 15, "sciUp" -> 15)

  /** The title column's click-through priority: PubMed, then WOS, then
    * ScienceDirect, then DOI (`excel_formatter.py:324-338`). */
  private val titleLinkPriority =
    Seq("pubmed_link", "wos_link", "sciencedirect_link", "doi_link")

  // cell style ids into styles.xml's cellXfs (0 = default)
  private val headerStyle = 1 // bold white on the reference's blue fill
  private val dataStyle = 2   // top-aligned, wrapped, thin border
  private val linkStyle = 3   // data + the blue underlined link font

  private def stylesXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      // font 1 = header (bold, white), font 2 = hyperlink (blue, underline)
      """<fonts count="3"><font><sz val="11"/><name val="Calibri"/></font>""" +
      """<font><b/><sz val="11"/><color rgb="FFFFFFFF"/><name val="Calibri"/></font>""" +
      """<font><u/><sz val="11"/><color rgb="FF0563C1"/><name val="Calibri"/></font></fonts>""" +
      // fill 2 = the reference's header blue #366092 (fills 0/1 are the
      // format's mandated none/gray125 pair)
      """<fills count="3"><fill><patternFill patternType="none"/></fill>""" +
      """<fill><patternFill patternType="gray125"/></fill>""" +
      """<fill><patternFill patternType="solid"><fgColor rgb="FF366092"/><bgColor indexed="64"/></patternFill></fill></fills>""" +
      """<borders count="2"><border><left/><right/><top/><bottom/><diagonal/></border>""" +
      """<border><left style="thin"/><right style="thin"/><top style="thin"/><bottom style="thin"/><diagonal/></border></borders>""" +
      """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
      """<cellXfs count="4"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
      """<xf numFmtId="0" fontId="1" fillId="2" borderId="1" xfId="0" applyFont="1" applyFill="1" applyBorder="1" applyAlignment="1"><alignment horizontal="center" vertical="center" wrapText="1"/></xf>""" +
      """<xf numFmtId="0" fontId="0" fillId="0" borderId="1" xfId="0" applyBorder="1" applyAlignment="1"><alignment vertical="top" wrapText="1"/></xf>""" +
      """<xf numFmtId="0" fontId="2" fillId="0" borderId="1" xfId="0" applyFont="1" applyBorder="1" applyAlignment="1"><alignment vertical="top" wrapText="1"/></xf></cellXfs>""" +
      """<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles>""" +
      "</styleSheet>"

  /** Write `df` as an .xlsx workbook. With `sheetBy` set, one sheet per
    * distinct value of that column (sheet ≙ partition — the reference's
    * separate_sheets mode), sheets sorted by name; otherwise a single
    * "data" sheet.
    *
    * Always styled, like the reference's sink (`excel_formatter.py:202-345`):
    * a presentation layer on top of the data plane — bold-white-on-blue
    * centered header with a frozen first row, per-column-name widths
    * (default 20), thin borders and top-aligned wrapped data cells,
    * content-derived row heights (15 per started 100 chars above the
    * first, clamped to [20, 150]; header fixed at 25), `doi_link` cells
    * hyperlinked to their own value, and `title` cells hyperlinked by
    * the PubMed > WOS > ScienceDirect > DOI priority — all emitted as
    * plain OOXML (styles.xml + sheetViews/cols/hyperlinks + per-sheet
    * rels), no spreadsheet library.
    *
    * The rows are collected in ONE job in which each partition returns at
    * most `cap + 1` rows (the per-partition bound Spark's incremental
    * `take` applies in its later waves, without its extra waves), so the
    * driver holds at most partitions × (cap + 1) rows before the cap
    * check refuses an oversized frame. */
  def writeXlsx(df: DataFrame, path: String,
                sheetBy: Option[String] = None): Unit = {
    val cols = df.columns.filterNot(sheetBy.contains)
    val rows = df.mapPartitions(_.take(excelMaxRows + 1))(
      Encoders.row(df.schema)).collect()
    // the FORMAT's limit is per worksheet; this sink ADDITIONALLY caps
    // the total collect at the same figure as a driver-memory valve —
    // a multi-sheet workbook bigger than that belongs in parquet
    require(rows.length <= excelMaxRows,
      s"writeXlsx: more than $excelMaxRows rows — Excel is a driver-side " +
        "curated-output sink (the cap is this sink's driver-collect " +
        "valve; the xlsx format's own cap is per SHEET); use the " +
        "parquet sink for data-plane output")
    val sheetIdx = sheetBy.map { c =>
      val i = df.columns.indexOf(c)
      require(i >= 0, s"writeXlsx: sheetBy column '$c' is not a column " +
        s"of the frame (${df.columns.mkString(", ")})")
      i
    }
    val grouped: Seq[(String, Array[Row])] = sheetIdx match {
      case Some(si) if rows.nonEmpty =>
        rows.groupBy(r => if (r.isNullAt(si)) "null" else r.get(si).toString)
          .toSeq.sortBy(_._1)
      // empty frame + sheetBy: a ZERO-sheet workbook is invalid OOXML
      // (CT_Sheets requires one) — fall back to the single empty sheet
      // the ungrouped path writes
      case _ => Seq("data" -> rows)
    }
    // Excel sheet-name rules: []:*?/\ forbidden, 31 chars max, names
    // unique case-insensitively, never empty — violations make Excel
    // declare the workbook corrupt, so sanitize deterministically
    val usedNames = collection.mutable.Set[String]()
    val sheets: Seq[(String, Array[Row])] = grouped.map { case (raw, rs) =>
      val cleaned = raw.replaceAll("[\\[\\]:*?/\\\\]", "_").take(31)
      val base = if (cleaned.trim.isEmpty) "sheet" else cleaned
      var cand = base
      var k = 1
      while (usedNames.contains(cand.toLowerCase)) {
        val suffix = s"_$k"
        cand = base.take(31 - suffix.length) + suffix
        k += 1
      }
      usedNames += cand.toLowerCase
      cand -> rs
    }
    val colIdxs = cols.map(df.columns.indexOf(_))
    // hyperlink source columns, positions within the SHEET's columns
    val titlePos = cols.indexOf("title")
    val doiLinkPos = cols.indexOf("doi_link")
    val priorityPos = titleLinkPriority.map(cols.indexOf(_))

    val zip = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(path)))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    try {
      val n = sheets.size
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
            .mkString + "</Types>")
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
            .mkString +
          s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
          "</Relationships>")
      entry("xl/styles.xml", stylesXml)
      sheets.zipWithIndex.foreach { case ((_, sheetRows), si) =>
        // (cellRef, url) hyperlinks for this sheet, reference semantics:
        // doi_link → its own value; title → first non-empty of the
        // priority chain
        val links = mutable.ArrayBuffer[(String, String)]()
        def strAt(r: Row, pos: Int): Option[String] =
          if (pos < 0) None
          else {
            val src = colIdxs(pos)
            if (r.isNullAt(src)) None
            else Some(r.get(src).toString).filter(_.nonEmpty)
          }
        sheetRows.zipWithIndex.foreach { case (r, ri) =>
          strAt(r, doiLinkPos).foreach(u =>
            links += s"${colRef(doiLinkPos)}${ri + 2}" -> u)
          // reference parity (excel_formatter.py:322-343): the title
          // cell gets the priority-chain hyperlink whenever ANY chain
          // link exists — even when the title value itself is empty
          if (titlePos >= 0)
            priorityPos.iterator.flatMap(strAt(r, _)).take(1).foreach(u =>
              links += s"${colRef(titlePos)}${ri + 2}" -> u)
        }
        val linkedRefs = links.map(_._1).toSet
        val sb = new StringBuilder
        sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
        sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">"""
        // frozen header row (reference: ws.freeze_panes = "A2")
        sb ++= """<sheetViews><sheetView workbookViewId="0"><pane ySplit="1" topLeftCell="A2" activePane="bottomLeft" state="frozen"/></sheetView></sheetViews>"""
        sb ++= "<cols>"
        cols.zipWithIndex.foreach { case (c, ci) =>
          val w = columnWidths.getOrElse(c, 20)
          sb ++= s"""<col min="${ci + 1}" max="${ci + 1}" width="$w" customWidth="1"/>"""
        }
        sb ++= "</cols>"
        sb ++= "<sheetData>"
        sb ++= """<row r="1" ht="25" customHeight="1">"""
        cols.zipWithIndex.foreach { case (c, ci) =>
          sb ++= s"""<c r="${colRef(ci)}1" s="$headerStyle" t="inlineStr"><is><t>${xmlEscape(c)}</t></is></c>"""
        }
        sb ++= "</row>"
        sheetRows.zipWithIndex.foreach { case (r, ri) =>
          // reference row heights: 15 per started 100 chars beyond the
          // first, capped at +100, clamped to [20, 150]; rows with no
          // string content keep the default height
          val contentH = colIdxs.map { src =>
            if (r.isNullAt(src)) 0
            else r.get(src) match {
              case s: String =>
                15 + math.min(s.length / 100 * 15, 100)
              case _ => 0
            }
          }.max
          if (contentH > 0) {
            val h = math.min(math.max(contentH, 20), 150)
            sb ++= s"""<row r="${ri + 2}" ht="$h" customHeight="1">"""
          } else sb ++= s"""<row r="${ri + 2}">"""
          colIdxs.zipWithIndex.foreach { case (src, ci) =>
            val ref = s"${colRef(ci)}${ri + 2}"
            val st =
              if (linkedRefs(ref)) s""" s="$linkStyle""""
              else s""" s="$dataStyle""""
            if (!r.isNullAt(src)) {
              // NaN/Infinity are not valid OOXML numerics (Excel would
              // report the file corrupt) — fall through to inlineStr
              def finite(d: Double) = !d.isNaN && !d.isInfinite
              r.get(src) match {
                case num @ (_: Long | _: Int | _: Short | _: Byte |
                            _: java.math.BigDecimal) =>
                  sb ++= s"""<c r="$ref"$st t="n"><v>$num</v></c>"""
                case d: Double if finite(d) =>
                  sb ++= s"""<c r="$ref"$st t="n"><v>$d</v></c>"""
                case f: Float if finite(f.toDouble) =>
                  sb ++= s"""<c r="$ref"$st t="n"><v>$f</v></c>"""
                case other =>
                  sb ++= s"""<c r="$ref"$st t="inlineStr"><is><t>${xmlEscape(other.toString)}</t></is></c>"""
              }
            } else {
              // the reference borders every cell in the used range, so
              // empty cells carry the style too (style-only, no value)
              sb ++= s"""<c r="$ref"$st/>"""
            }
          }
          sb ++= "</row>"
        }
        sb ++= "</sheetData>"
        if (links.nonEmpty) {
          sb ++= "<hyperlinks>"
          links.zipWithIndex.foreach { case ((ref, _), li) =>
            sb ++= s"""<hyperlink ref="$ref" r:id="rhl${li + 1}"/>"""
          }
          sb ++= "</hyperlinks>"
        }
        sb ++= "</worksheet>"
        entry(s"xl/worksheets/sheet${si + 1}.xml", sb.toString)
        if (links.nonEmpty)
          entry(s"xl/worksheets/_rels/sheet${si + 1}.xml.rels",
            """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
              """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
              links.zipWithIndex.map { case ((_, url), li) =>
                s"""<Relationship Id="rhl${li + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/hyperlink" Target="${xmlEscape(url)}" TargetMode="External"/>"""
              }.mkString + "</Relationships>")
      }
    } finally zip.close()
  }

  /** Read every sheet of an .xlsx into one DataFrame with a `__sheet`
    * column (the inverse of `writeXlsx(sheetBy = ...)`). First row of
    * each sheet is the header; all cells surface as strings (the
    * reference's own typing at this boundary); missing/blank cells are
    * null. Sheets must share a header (unionByName aligns them). */
  def readXlsx(spark: SparkSession, path: String): DataFrame = {
    // OOXML only: a legacy BIFF .xls is not a zip, so ZipInputStream would
    // yield zero entries and the parts lookup below would die with an
    // opaque NoSuchElementException. Sniff the zip magic (PK\x03\x04) up
    // front and fail with an actionable message instead. (The reference's
    // pd.read_excel reads both formats, wos_parser.py:144; BIFF support is
    // out of contract here — the fix is a one-time convert.)
    {
      val magic = new Array[Byte](4)
      val fin = new FileInputStream(path)
      val read = try fin.read(magic) finally fin.close()
      require(read == 4 && magic(0) == 'P'.toByte && magic(1) == 'K'.toByte
          && magic(2) == 3.toByte && magic(3) == 4.toByte,
        s"readXlsx: '$path' is not an OOXML (.xlsx) workbook — legacy " +
          "BIFF .xls is not supported; convert it to .xlsx first")
    }
    // ---- unzip the parts we need ----
    val parts = mutable.Map[String, Array[Byte]]()
    val zin = new ZipInputStream(new BufferedInputStream(
      new FileInputStream(path)))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (e.getName.startsWith("xl/")) parts(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()

    def parse(bytes: Array[Byte]) = {
      val f = DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(false)
      f.newDocumentBuilder().parse(new ByteArrayInputStream(bytes))
    }
    def elems(parent: org.w3c.dom.Document, tag: String): Seq[Element] = {
      val nl = parent.getElementsByTagName(tag)
      (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
    }

    // shared strings (absent in our own files; present in external ones)
    val shared: IndexedSeq[String] = parts.get("xl/sharedStrings.xml")
      .map(b => elems(parse(b), "si").map(_.getTextContent).toIndexedSeq)
      .getOrElse(IndexedSeq.empty)

    // sheet name -> worksheet PART via r:id -> workbook.xml.rels Target
    // (externally-produced workbooks number parts by creation, not listing,
    // order — e.g. sheet1.xml + sheet3.xml after a deletion — so matching
    // by position would misattribute rows or miss parts entirely)
    val relTargets: Map[String, String] =
      parts.get("xl/_rels/workbook.xml.rels")
        .map(b => elems(parse(b), "Relationship")
          .map(e => e.getAttribute("Id") ->
            e.getAttribute("Target").stripPrefix("/xl/").stripPrefix("./"))
          .toMap)
        .getOrElse(Map.empty)
    val sheetParts: Seq[(String, String)] =
      elems(parse(parts("xl/workbook.xml")), "sheet").zipWithIndex.map {
        case (e, i) =>
          val rid = e.getAttribute("r:id")
          val target = relTargets.getOrElse(rid, s"worksheets/sheet${i + 1}.xml")
          e.getAttribute("name") -> s"xl/$target"
      }

    def cellCol(ref: String): Int =
      ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1

    val frames = sheetParts.map { case (sheetName, part) =>
      val doc = parse(parts(part))
      val rows: Seq[Array[(Int, String)]] = elems(doc, "row").map { r =>
        val cells = r.getElementsByTagName("c")
        var prevIdx = -1
        (0 until cells.getLength).map { ci =>
          val c = cells.item(ci).asInstanceOf[Element]
          // the r attribute is OPTIONAL per ECMA-376: absent means "next
          // column after the previous cell"
          val ref = c.getAttribute("r")
          val idx = if (ref.isEmpty) prevIdx + 1 else cellCol(ref)
          prevIdx = idx
          val t = c.getAttribute("t")
          // a FORMULA cell is <c><f>expr</f><v>cached</v></c>: the value
          // lives in the <v> child, and getTextContent on the cell would
          // concatenate the formula text in front of it — prefer <v>
          // whenever one exists
          def vChild: Option[String] = {
            val vs = c.getElementsByTagName("v")
            if (vs.getLength > 0) Some(vs.item(0).getTextContent) else None
          }
          val text = t match {
            case "inlineStr" => c.getTextContent
            case "s" => shared(vChild.getOrElse(c.getTextContent).trim.toInt)
            case _ => vChild.getOrElse(c.getTextContent)
          }
          idx -> text
        }.toArray
      }
      // an untouched blank tab (empty <sheetData/>) parses to zero rows:
      // pandas returns an empty frame — treat it like the cell-less case
      // below instead of failing the whole workbook
      val headerRow: Array[(Int, String)] =
        rows.headOption.getOrElse(Array.empty)
      // data cells are looked up through the header cells' ACTUAL column
      // indices, not by position in the compacted header array: an
      // externally-produced sheet may have a gap in the header row (blank
      // header cell over a populated column), and absolute indexing into
      // the compacted array would silently shift those values one column
      // left. Columns populated below a missing/blank header get a
      // synthesized "Unnamed: N" header — pd.read_excel's behavior in
      // the reference — so no cell is ever silently dropped. N is the
      // column's POSITION IN THE PARSED FRAME, matching pandas, which
      // numbers unnamed columns by frame position and not by raw sheet
      // column: the two diverge when the used range does not start at
      // column A. The frame spans the used range CONTIGUOUSLY
      // (min..max observed column), so an interior fully-empty column
      // survives as an all-null "Unnamed: N" — pandas keeps it as an
      // all-NaN column, and dropping it would renumber every unnamed
      // column to its right.
      val headerByCol: Map[Int, String] = headerRow.toMap
      val observed: Seq[Int] =
        headerRow.map(_._1).toSeq ++
          rows.drop(1).flatMap(_.map(_._1))
      // no rows, or rows with no cells anywhere (row elements without
      // <c>): pandas returns an empty frame for such a sheet —
      // contribute just the __sheet column rather than failing the
      // whole workbook
      val dataCols: Seq[Int] =
        if (observed.isEmpty) Seq.empty else observed.min to observed.max
      val header = dataCols.zipWithIndex.map { case (ci, pos) =>
        headerByCol.get(ci).filter(_.nonEmpty).getOrElse(s"Unnamed: $pos")
      }
      val posByCol: Map[Int, Int] = dataCols.zipWithIndex.toMap
      val schema = StructType(header.map(StructField(_, StringType)) :+
        StructField("__sheet", StringType))
      val data =
        if (dataCols.isEmpty) Seq.empty // blank/cell-less sheet: zero rows
        else rows.drop(1).map { cells =>
          val arr = Array.fill[String](header.length)(null)
          cells.foreach { case (ci, v) =>
            posByCol.get(ci).foreach { p => if (v.nonEmpty) arr(p) = v }
          }
          Row.fromSeq(arr.toSeq :+ sheetName)
        }
      spark.createDataFrame(
        spark.sparkContext.parallelize(data.toSeq, 1), schema)
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S4 — WOS Excel scan shaped like `BibSources.wosCsv`: read the
    * workbook and apply the SAME column normalization as the CSV path
    * (`BibSources.wosNormalize`), so the output unions into
    * `BibSources.combine` exactly like every other source — parity with
    * the reference's `wos_parser`, which emits normalized records for
    * Excel input too (`wos_parser.py:141-148`). */
  def wosExcel(spark: SparkSession, path: String): DataFrame =
    BibSources.wosNormalize(readXlsx(spark, path).drop("__sheet"))
}
