package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Excel

/** S4 + Excel sink: dependency-free XLSX round trip (zip-of-XML OOXML
  * subset the reference exercises: header row, string/number cells,
  * sheet-per-source workbooks). */
class ExcelSpec extends SparkTestBase {
  import spark.implicits._

  test("single-sheet round trip preserves values, nulls, and specials") {
    val path = Files.createTempDirectory("graft_xlsx").toString + "/t.xlsx"
    val df = Seq(
      ("doc & <1>", Some(42.5), "ok"),
      ("line\nbreak", None, "x\"y\""),
      ("plain", Some(-7.0), null)
    ).toDF("title", "score", "note")
    Excel.writeXlsx(df, path)
    val back = Excel.readXlsx(spark, path)
    assert(back.columns.toSeq === Seq("title", "score", "note", "__sheet"))
    val rows = back.orderBy("title").collect()
    assert(rows.length === 3)
    val byTitle = rows.map(r => r.getString(0) -> r).toMap
    assert(byTitle("doc & <1>").getString(1) === "42.5")
    assert(byTitle("doc & <1>").getString(2) === "ok")
    assert(byTitle("line\nbreak").isNullAt(1)) // null cell skipped -> null
    assert(byTitle("line\nbreak").getString(2) === "x\"y\"")
    assert(byTitle("plain").isNullAt(2))
    assert(rows.forall(_.getString(3) === "data"))
  }

  test("sheet-per-source workbook: sheetBy partitions rows, read-back " +
    "restores the partition column as __sheet") {
    val path = Files.createTempDirectory("graft_xlsx").toString + "/s.xlsx"
    val df = Seq(
      ("pubmed", "t1", 2021L), ("wos", "t2", 2022L),
      ("pubmed", "t3", 2023L), ("sciencedirect", "t4", 2024L)
    ).toDF("source_type", "title", "year")
    Excel.writeXlsx(df, path, sheetBy = Some("source_type"))
    val back = Excel.readXlsx(spark, path)
    // sheet column replaces the partition column (sheet ≙ partition)
    assert(back.columns.toSeq === Seq("title", "year", "__sheet"))
    val got = back.select(col("__sheet"), col("title"), col("year"))
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("pubmed", "t1", "2021"), ("pubmed", "t3", "2023"),
      ("wos", "t2", "2022"), ("sciencedirect", "t4", "2024")))
    // sheets sorted by name in the workbook
    assert(back.select("__sheet").distinct().as[String].collect().sorted
      === Array("pubmed", "sciencedirect", "wos"))
  }

  test("wosExcel normalizes a WOS-shaped workbook onto the unified schema " +
    "(wos_parser parity with the CSV path)") {
    val path = Files.createTempDirectory("graft_xlsx").toString + "/w.xlsx"
    val df = Seq(
      ("Article Title A", "Smith, J", "10.1000/a1", "2021", "WOS:1"),
      ("Article Title B", "Doe, A; Roe, B", "10.1000/b2", "2022", "WOS:2")
    ).toDF("Article Title", "Author Full Names", "DOI", "Publication Year",
      "UT (Unique WOS ID)")
    Excel.writeXlsx(df, path)
    val wos = Excel.wosExcel(spark, path)
    // unified schema — identical to the CSV path, unionable into combine
    assert(wos.columns.toSeq === Seq("pmid", "title", "abstract", "journal",
      "journal_full", "publication_date", "authors", "keywords",
      "mesh_terms", "issn", "doi", "pii", "wos_id", "url", "volume",
      "issue", "pages", "publication_year", "source_type"))
    val a = wos.where(col("doi") === "10.1000/a1").collect()
    assert(a.length === 1)
    assert(a(0).getAs[String]("title") === "Article Title A")
    assert(a(0).getAs[String]("wos_id") === "WOS:1")
    assert(a(0).getAs[String]("source_type") === "wos")
    val b = wos.where(col("doi") === "10.1000/b2")
      .select(col("authors")).as[Seq[String]].collect()
    assert(b(0) === Seq("Doe, A", "Roe, B"))
    // the point of normalization: wosExcel unions into combine like any
    // other source frame
    assert(graft.sources.BibSources.combine(Seq(wos)).count() === 2)
  }

  test("readXlsx maps data cells through header column INDICES: a gap in " +
    "the header row does not shift values into the wrong column") {
    // hand-build a sheet where the header row skips column B but a data
    // row populates A, B, and C — B's value must surface under a
    // synthesized "Unnamed: 1" header (pd.read_excel behavior), and C's
    // value must land under the C-column header, not shift left
    val path = handBuiltXlsx("gap",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>ha</t></is></c><c r="C1" t="inlineStr"><is><t>hc</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>va</t></is></c><c r="B2" t="inlineStr"><is><t>orphan</t></is></c><c r="C2" t="inlineStr"><is><t>vc</t></is></c></row>""")
    val back = Excel.readXlsx(spark, path)
    assert(back.columns.toSeq === Seq("ha", "Unnamed: 1", "hc", "__sheet"))
    val r = back.collect()(0)
    assert(r.getAs[String]("ha") === "va")
    assert(r.getAs[String]("Unnamed: 1") === "orphan") // kept, named like pandas
    assert(r.getAs[String]("hc") === "vc") // pre-fix: "orphan" shifted here
  }

  // a workbook from raw per-sheet sheetData rows — the shapes Excel
  // itself produces (offset used ranges, header gaps, blank tabs) that
  // our own writer, which always emits A-rooted contiguous rows, cannot
  private def handBuiltXlsx(tag: String, sheetRowsXml: String*): String = {
    val path =
      Files.createTempDirectory("graft_xlsx").toString + s"/$tag.xlsx"
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val n = sheetRowsXml.size
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        "</Types>")
    entry("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        (1 to n).map(i => s"""<sheet name="s$i" sheetId="$i" r:id="rId$i"/>""").mkString +
        "</sheets></workbook>")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
        "</Relationships>")
    sheetRowsXml.zipWithIndex.foreach { case (rowsXml, i) =>
      entry(s"xl/worksheets/sheet${i + 1}.xml",
        """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          rowsXml + """</sheetData></worksheet>""")
    }
    zip.close()
    path
  }

  test("readXlsx tolerates blank and cell-less sheets in a multi-sheet " +
    "workbook (empty frame, pandas-style) instead of failing the read") {
    val path = handBuiltXlsx("blank",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>v</t></is></c></row>""",
      "", // genuinely blank tab: empty <sheetData/>
      """<row r="1"/><row r="2"/>""") // rows present, zero cells
    val back = Excel.readXlsx(spark, path)
    assert(back.columns.toSeq === Seq("h", "__sheet"))
    assert(back.as[(String, String)].collect().toSeq === Seq(("v", "s1")))
  }

  test("readXlsx numbers unnamed columns by FRAME position when the used " +
    "range does not start at column A (pandas parity)") {
    // used range C..E; D's header is blank over populated data. pandas
    // numbers by position in the frame — "Unnamed: 1" — where numbering
    // by raw sheet column would say "Unnamed: 3" (D is the 4th column)
    val path = handBuiltXlsx("offset",
      """<row r="1"><c r="C1" t="inlineStr"><is><t>x</t></is></c><c r="E1" t="inlineStr"><is><t>y</t></is></c></row>""" +
        """<row r="2"><c r="C2" t="inlineStr"><is><t>vc</t></is></c><c r="D2" t="inlineStr"><is><t>vd</t></is></c><c r="E2" t="inlineStr"><is><t>ve</t></is></c></row>""")
    val back = Excel.readXlsx(spark, path)
    assert(back.columns.toSeq === Seq("x", "Unnamed: 1", "y", "__sheet"))
    val r = back.collect()(0)
    assert(r.getAs[String]("x") === "vc")
    assert(r.getAs[String]("Unnamed: 1") === "vd")
    assert(r.getAs[String]("y") === "ve")
  }

  test("readXlsx keeps an interior fully-empty column of the used range " +
    "as an all-null Unnamed column (pandas parity)") {
    // used range A..C; column B has NO cells anywhere. pandas keeps it
    // as an all-NaN "Unnamed: 1"; dropping it would renumber C's frame
    // position and shift any unnamed columns to its right
    val path = handBuiltXlsx("interior",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>va</t></is></c><c r="C2" t="inlineStr"><is><t>vc</t></is></c></row>""")
    val back = Excel.readXlsx(spark, path)
    assert(back.columns.toSeq === Seq("a", "Unnamed: 1", "c", "__sheet"))
    val r = back.collect()(0)
    assert(r.getAs[String]("a") === "va")
    assert(r.getAs[String]("Unnamed: 1") === null)
    assert(r.getAs[String]("c") === "vc")
  }

  test("row cap guards the driver-side collect") {
    val big = spark.range(0, 10).toDF("id") // tiny, but exercise the limit path
    val path = Files.createTempDirectory("graft_xlsx").toString + "/c.xlsx"
    Excel.writeXlsx(big, path) // well under cap: fine
    assert(Excel.readXlsx(spark, path).count() === 10)
  }

  test("writeXlsx collects a many-partition frame in one job") {
    val df = spark.range(0, 40, 1, numPartitions = 4).toDF("id")
    val path = Files.createTempDirectory("graft_xlsx").toString + "/j.xlsx"
    assert(jobsOf(Excel.writeXlsx(df, path)) === 1)
    assert(Excel.readXlsx(spark, path).count() === 40)
  }

  private def zipEntries(path: String): Map[String, String] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(path)))
    val out = scala.collection.mutable.Map[String, String]()
    try {
      var e = zin.getNextEntry
      while (e != null) {
        out(e.getName) = new String(zin.readAllBytes(), "UTF-8")
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  test("styled workbook carries the reference's presentation layer: " +
    "header style + frozen row + column widths + content row heights") {
    val path = Files.createTempDirectory("graft_xlsx").toString + "/s.xlsx"
    val df = Seq(
      ("Paper A", "x" * 250, "https://doi.org/10.1/a", "https://pubmed.gov/1"),
      ("Paper B", "short", null, null)
    ).toDF("title", "abstract", "doi_link", "pubmed_link")
    Excel.writeXlsx(df, path)
    val parts = zipEntries(path)
    // styles: the reference's blue header fill + link font colors
    val styles = parts("xl/styles.xml")
    assert(styles.contains("FF366092") && styles.contains("FF0563C1"))
    assert(parts("[Content_Types].xml").contains("styles.xml"))
    assert(parts("xl/_rels/workbook.xml.rels").contains("styles.xml"))
    val sheet = parts("xl/worksheets/sheet1.xml")
    // frozen first row
    assert(sheet.contains("""<pane ySplit="1" topLeftCell="A2""") &&
      sheet.contains("""state="frozen""""))
    // widths: title=60 (col 1), abstract=60, doi_link=25, pubmed_link=25
    assert(sheet.contains("""<col min="1" max="1" width="60""""))
    assert(sheet.contains("""<col min="3" max="3" width="25""""))
    // header row fixed height, styled header cells
    assert(sheet.contains("""<row r="1" ht="25""""))
    assert(sheet.contains("""s="1" t="inlineStr"><is><t>title</t>"""))
    // 250-char abstract: 15 + (250/100)*15 = 45
    assert(sheet.contains("""<row r="2" ht="45""""))
    // short strings floor to the minimum height 20
    assert(sheet.contains("""<row r="3" ht="20""""))
  }

  test("styled workbook hyperlinks: doi_link cells link their own value, " +
    "title follows the pubmed > wos > sciencedirect > doi priority; " +
    "round trip is unchanged and unstyled output has no style parts") {
    val dir = Files.createTempDirectory("graft_xlsx").toString
    val df = Seq(
      // pubmed present → title links pubmed, doi_link links itself
      ("A", "https://doi.org/10.1/a", "https://pubmed.gov/1"),
      // only doi → title falls through the priority chain to doi
      ("B", "https://doi.org/10.1/b", null),
      // no links at all → no hyperlink rows for this record
      ("C", null, null),
      // NULL title but a link exists → the title CELL still gets the
      // hyperlink (reference excel_formatter.py:322-343 keys on the
      // link's presence, never on the title value)
      (null, null, "https://pubmed.gov/4")
    ).toDF("title", "doi_link", "pubmed_link")
    Excel.writeXlsx(df, s"$dir/h.xlsx")
    val parts = zipEntries(s"$dir/h.xlsx")
    val sheet = parts("xl/worksheets/sheet1.xml")
    val rels = parts("xl/worksheets/_rels/sheet1.xml.rels")
    // A2 = title row 2 (pubmed target), B2 = doi_link row 2 (own value)
    assert(sheet.contains("""<hyperlink ref="B2"""") &&
      sheet.contains("""<hyperlink ref="A2""""))
    assert(rels.contains("""Target="https://pubmed.gov/1" TargetMode="External""""))
    assert(rels.contains("""Target="https://doi.org/10.1/a""""))
    // B3: title B links doi (fallback); C row: no refs at all
    assert(sheet.contains("""<hyperlink ref="A3""""))
    assert(rels.contains("""Target="https://doi.org/10.1/b""""))
    assert(!sheet.contains("""ref="A4""""))
    // row 5: null title, pubmed present → title cell still linked
    assert(sheet.contains("""<hyperlink ref="A5""""))
    assert(rels.contains("""Target="https://pubmed.gov/4""""))
    // linked cells carry the link style, other data cells the data style
    assert(sheet.contains("""<c r="A2" s="3""""))
    assert(sheet.contains("""<c r="C3" s="2""""))
    // the presentation layer never changes the data plane
    val back = Excel.readXlsx(spark, s"$dir/h.xlsx")
      .orderBy("title").collect() // nulls first
    assert(back.map(_.getString(0)).toSeq === Seq(null, "A", "B", "C"))
    assert(back(3).isNullAt(1) && back(3).isNullAt(2))
  }

  test("readXlsx: a formula cell surfaces its CACHED <v> value, never " +
    "the formula text concatenated in front of it") {
    // hand-build a minimal external workbook with formula cells
    val dir = Files.createTempDirectory("graft_xlsx_f").toString
    val path = s"$dir/formulas.xlsx"
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
    entry("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>total</t></is></c><c r="B1" t="inlineStr"><is><t>label</t></is></c></row>""" +
        """<row r="2"><c r="A2"><f>A1+B1</f><v>42</v></c><c r="B2" t="str"><f>CONCAT("a","b")</f><v>ab</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val back = Excel.readXlsx(spark, path).collect()
    assert(back.length === 1)
    assert(back(0).getAs[String]("total") === "42")  // not "A1+B142"
    assert(back(0).getAs[String]("label") === "ab")  // not formula text
  }

  test("writeXlsx: unknown sheetBy column fails with a clear message; " +
    "an empty frame with sheetBy still writes a valid one-sheet " +
    "workbook; sheet names are sanitized and deduped") {
    val dir = Files.createTempDirectory("graft_xlsx_s").toString
    val df = Seq(("a", 1)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Excel.writeXlsx(df, s"$dir/bad.xlsx", sheetBy = Some("typo_col"))
    }
    assert(e.getMessage.contains("sheetBy column 'typo_col'"))
    // empty + sheetBy: must not emit a zero-sheet (invalid) workbook
    Excel.writeXlsx(df.where(lit(false)), s"$dir/empty.xlsx",
      sheetBy = Some("k"))
    val eparts = zipEntries(s"$dir/empty.xlsx")
    assert(eparts.contains("xl/worksheets/sheet1.xml"))
    assert(eparts("xl/workbook.xml").contains("""name="data""""))
    assert(Excel.readXlsx(spark, s"$dir/empty.xlsx")
      .where(col("__sheet").isNotNull).count() === 0)
    // forbidden chars replaced, 31-char cap, case-insensitive dedupe
    val grouped = Seq(
      ("results/2024", 1), ("WOS", 2), ("wos", 3),
      ("x" * 40, 4)).toDF("g", "v")
    Excel.writeXlsx(grouped, s"$dir/grouped.xlsx", sheetBy = Some("g"))
    val wb = zipEntries(s"$dir/grouped.xlsx")("xl/workbook.xml")
    val names = "name=\"([^\"]+)\"".r.findAllMatchIn(wb)
      .map(_.group(1)).toSeq
    assert(names.contains("results_2024"), names.toString)
    assert(names.count(_.toLowerCase == "wos") === 1)
    assert(names.exists(n => n.toLowerCase.startsWith("wos") &&
      n.endsWith("_1")), names.toString)
    assert(names.forall(_.length <= 31), names.toString)
    // the data plane still round-trips: 4 rows across 4 sheets
    assert(Excel.readXlsx(spark, s"$dir/grouped.xlsx").count() === 4)
  }

  test("styled workbook golden: every OOXML part is byte-identical to " +
    "the committed fixture — presentation parity is pinned the way the " +
    "data plane already is") {
    val df = Seq(
      ("Alpha study", "https://doi.org/10.1/a", "https://pubmed.gov/1",
        null.asInstanceOf[String], "a " * 150, 2021),
      ("Beta survey", "https://doi.org/10.1/b", null.asInstanceOf[String],
        "https://wos.example/2", "short", 2022),
      (null.asInstanceOf[String], null.asInstanceOf[String],
        "https://pubmed.gov/3", null.asInstanceOf[String],
        "mid length abstract text", 2023)
    ).toDF("title", "doi_link", "pubmed_link", "wos_link", "abstract",
      "year")
    val dir = Files.createTempDirectory("graft_xlsx_golden").toString
    Excel.writeXlsx(df, s"$dir/g.xlsx")
    val parts = zipEntries(s"$dir/g.xlsx")
    // fixture part files are named with '/' → '_' (flat directory)
    val goldenDir = java.nio.file.Paths.get("fixtures/xlsx_golden")
    val stream = java.nio.file.Files.list(goldenDir)
    var checked = 0
    try stream.iterator().forEachRemaining { p =>
      val partName = parts.keys.find(_.replace('/', '_') ==
        p.getFileName.toString)
      assert(partName.isDefined, s"fixture ${p.getFileName} has no " +
        s"matching part in ${parts.keys}")
      val want = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(parts(partName.get) === want, s"part ${partName.get} " +
        "drifted from the committed golden fixture")
      checked += 1
    } finally stream.close()
    assert(checked === 7, s"expected 7 golden parts, checked $checked")
    assert(parts.size === checked,
      s"workbook grew parts not covered by the fixture: ${parts.keys}")
  }

  test("readXlsx refuses a non-OOXML payload (legacy BIFF .xls) with an " +
    "actionable message instead of an opaque zip-parts failure") {
    val path = Files.createTempDirectory("graft_xlsx").toString + "/legacy.xls"
    // BIFF8 compound-file magic (D0 CF 11 E0 ...) — what a real .xls starts
    // with; any non-PK payload must hit the same guard
    val out = new java.io.FileOutputStream(path)
    out.write(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte))
    out.write(new Array[Byte](512))
    out.close()
    val ex = intercept[IllegalArgumentException] {
      Excel.readXlsx(spark, path)
    }
    assert(ex.getMessage.contains("convert it to .xlsx"))
    // the dispatch route (.xls -> wosExcel) surfaces the same guard
    val ex2 = intercept[IllegalArgumentException] {
      graft.sources.BibSources.readAuto(spark, path, "wos")
    }
    assert(ex2.getMessage.contains(".xlsx"))
  }
}
