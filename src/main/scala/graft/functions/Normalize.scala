package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level normalization functions re-expressing the reference's
  * row-wise Python lambdas (SURVEY.md §2.8, F1–F15) as codegen'd Catalyst
  * expressions — zero UDFs and no higher-order functions (those are
  * `CodegenFallback`), so every one stays inside whole-stage codegen
  * and scales to 100 TB without serialization overhead.
  *
  * Reference behavior (cited in Scaladoc per function) is from
  * yudaleng/ScholarMind; the implementation is Spark-built-ins only.
  */
object Normalize {

  /** F2 — strip " [doi]" / " [pii]" markers EVERYWHERE, not just at the
    * end: the reference's `clean_doi` (`main.py:74-75`) is a replace-all,
    * and PubMed LID values like "S123 [pii], 10.1016/x [doi]" carry an
    * embedded marker that must be gone before comma disambiguation (F3).
    * The DuckDB oracle mirrors with regexp_replace(..., 'g'). */
  def stripDoiMarkers(c: Column): Column =
    regexp_replace(c, "\\s*\\[(doi|pii)\\]", "")

  /** F3 — comma-disambiguation: if the value contains a comma, keep the
    * first component that starts with "10." once trimmed
    * (`main.py:87-95,127-137`). The regex skips spaces only, like Spark's
    * `trim` (a tab-led component never counts). */
  def doiFromCommaList(c: Column): Column = {
    val tens = regexp_extract(c, "(?:^|,) *(10\\.[^,]*)", 1)
    when(c.contains(",") && tens =!= "", trim(tens)).otherwise(c)
  }

  /** F4 — strip the `https://doi.org/` or `doi:` prefix
    * (`main.py:139-144,230-235`). */
  def stripDoiPrefix(c: Column): Column =
    regexp_replace(c, "^(https://doi\\.org/|doi:)", "")

  /** F5 — canonical key normalization `strip().lower()`
    * (`main.py:75,97,144,374-376`). */
  def normKey(c: Column): Column = lower(trim(c))

  /** F13 — trailing punctuation cleanup
    * (`sciencedirect_parser.py:112,141,295-299`). */
  def stripTrailingPunct(c: Column): Column =
    regexp_replace(c, "[,.\\s]+$", "")

  /** F2+F3+F4+F5+F13 composed — the reference's full DOI normalization
    * pipeline (`main.py:68-99`), applied once (the reference re-normalizes
    * redundantly inside its dedup loop, `main.py:123-144`; we do not). */
  def normalizeDoi(c: Column): Column =
    normKey(stripTrailingPunct(stripDoiPrefix(doiFromCommaList(stripDoiMarkers(c)))))

  /** F8 — 4-digit year extraction from free text
    * (`parsers_manager.py:140-161`). Returns IntegerType; null if absent. */
  def extractYear(c: Column): Column =
    nullif(regexp_extract(c, "(\\d{4})", 1), lit("")).cast("int")

  /** F6 — source-gated link formatting (`main.py:176-277`). */
  def pubmedLink(sourceType: Column, pmid: Column): Column =
    when(sourceType === "pubmed" && pmid.isNotNull && pmid =!= "",
      concat(lit("https://pubmed.ncbi.nlm.nih.gov/"), pmid, lit("/")))

  def doiLink(doi: Column): Column =
    when(doi.isNotNull && doi =!= "", concat(lit("https://doi.org/"), doi))

  def wosLink(sourceType: Column, wosId: Column): Column =
    when(sourceType === "wos" && wosId.isNotNull && wosId =!= "",
      concat(lit("https://www.webofscience.com/wos/woscc/full-record/"), wosId))

  /** F7 — title-link priority coalesce, main.py order (wos → pubmed → sd →
    * doi, `main.py:280-306`; the Excel layer disagrees — SURVEY.md §7.4.3 —
    * we standardize on main.py). Empty strings are not links. */
  def titleLink(wos: Column, pubmed: Column, sd: Column, doi: Column): Column =
    coalesce(nullif(wos, lit("")), nullif(pubmed, lit("")),
             nullif(sd, lit("")), nullif(doi, lit("")))

  /** F14 — null → "" coercion at the sink edge
    * (`excel_formatter.py:347-438`). */
  def nullToEmpty(c: Column): Column = coalesce(c, lit(""))

  /** F15 — source-priority map literal {'wos':3,'pubmed':2,'sciencedirect':1}
    * (`main.py:113-114`); unknown sources get 0 (reference `.get(s, 0)`). */
  def sourcePriority(sourceType: Column): Column =
    when(sourceType === "wos", 3)
      .when(sourceType === "pubmed", 2)
      .when(sourceType === "sciencedirect", 1)
      .otherwise(0)
}
