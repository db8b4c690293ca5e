package graft

import org.apache.spark.sql.functions._
import graft.functions.Normalize

/** F2-F15 normalization semantics (reference behavior cited in Normalize
  * scaladoc), incl. the reference's edge cases: embedded [pii]/[doi]
  * markers, comma-disambiguation, prefix stripping, null/empty handling. */
class NormalizeSpec extends SparkTestBase {
  import spark.implicits._

  private def doi1(raw: String): String =
    Seq(raw).toDF("doi")
      .select(Normalize.normalizeDoi(col("doi"))).as[String].head()

  test("normalizeDoi strips markers everywhere, not just trailing") {
    assert(doi1("S123 [pii], 10.1016/x.2020 [doi]") === "10.1016/x.2020")
    assert(doi1("10.1/abc [doi]") === "10.1/abc")
    assert(doi1("10.1/abc [pii]") === "10.1/abc")
  }

  test("normalizeDoi comma disambiguation keeps the 10.* component") {
    assert(doi1("junk, 10.5555/j.123") === "10.5555/j.123")
    // no 10.* component -> value unchanged (reference keeps original)
    assert(doi1("a, b") === "a, b")
    // no comma -> untouched by F3
    assert(doi1("10.1/simple") === "10.1/simple")
    // the first component that starts with 10. once space-trimmed; these
    // expected values were taken from the former split + filter form
    assert(doi1("a, b, 10.5/x") === "10.5/x")
    assert(doi1("junk, 10.1/a, 10.2/b") === "10.1/a")
    assert(doi1("junk,   10.5/y") === "10.5/y")
    assert(doi1(" 10.3/lead, junk") === "10.3/lead")
    assert(doi1("junk , 10.4/t ") === "10.4/t")
    assert(doi1("junk,\t10.5/z") === "junk,\t10.5/z") // a tab is not trimmed
    assert(doi1("junk, 210.5/x") === "junk, 210.5/x")
    assert(doi1(null) === null)
  }

  test("normalizeDoi has no CodegenFallback node (stays in whole-stage " +
    "codegen)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val plan = Seq("x").toDF("x")
      .select(Normalize.normalizeDoi(col("x"))).queryExecution.analyzed
    val fallbacks = plan.expressions.flatMap(_.collect {
      case e: CodegenFallback => e.prettyName })
    assert(fallbacks.isEmpty, s"fallback nodes: $fallbacks")
  }

  test("normalizeDoi strips prefixes and trailing punctuation, lowercases") {
    assert(doi1("https://doi.org/10.1/AB.") === "10.1/ab")
    assert(doi1("doi:10.2/XY,") === "10.2/xy")
    assert(doi1("  10.3/Zz  ") === "10.3/zz")
  }

  test("normalizeDoi is idempotent (SURVEY §5.2.3 property)") {
    val inputs = Seq("S1 [pii], 10.1/x [doi]", "https://doi.org/10.9/Q.",
      "doi:10.5/m", "plain", "")
    val once = inputs.map(doi1)
    assert(once.map(doi1) === once)
  }

  test("extractYear pulls the first 4-digit run, null when absent") {
    val r = Seq("published in 2021 (reprint 1999)", "no year here", "")
      .toDF("s").select(Normalize.extractYear(col("s")))
      .as[Option[Int]].collect()
    assert(r === Seq(Some(2021), None, None))
  }

  test("link builders gate on source_type and non-empty key (F6)") {
    val df = Seq(
      ("pubmed", "123", "W1", "10.1/a"),
      ("wos", "123", "W1", "10.1/a"),
      ("pubmed", "", "W1", ""),
      ("sciencedirect", "9", "W9", "10.2/b")
    ).toDF("st", "pmid", "wos_id", "doi")
    val r = df.select(
      Normalize.pubmedLink(col("st"), col("pmid")).as("p"),
      Normalize.wosLink(col("st"), col("wos_id")).as("w"),
      Normalize.doiLink(col("doi")).as("d"))
      .collect()
    assert(r(0).getString(0) === "https://pubmed.ncbi.nlm.nih.gov/123/")
    assert(r(1).isNullAt(0)) // wrong source -> null
    assert(r(1).getString(1) ===
      "https://www.webofscience.com/wos/woscc/full-record/W1")
    assert(r(2).isNullAt(0)) // empty pmid -> null
    assert(r(2).isNullAt(2)) // empty doi -> null
    assert(r(3).getString(2) === "https://doi.org/10.2/b")
  }

  test("titleLink uses main.py priority: wos > pubmed > sd > doi (F7)") {
    val df = Seq(
      ("w", "p", "s", "d"),
      ("", "p", "s", "d"),
      ("", "", "", "d"),
      ("", "", "", "")
    ).toDF("w", "p", "s", "d")
    val r = df.select(Normalize.titleLink(col("w"), col("p"), col("s"),
      col("d"))).as[Option[String]].collect()
    assert(r === Seq(Some("w"), Some("p"), Some("d"), None))
  }

  test("sourcePriority matches the reference map with 0 default (F15)") {
    val r = Seq("wos", "pubmed", "sciencedirect", "other")
      .toDF("s").select(Normalize.sourcePriority(col("s")))
      .as[Int].collect()
    assert(r === Seq(3, 2, 1, 0))
  }
}
