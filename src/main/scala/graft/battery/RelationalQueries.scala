package graft
package battery

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Normalize, Urls}
import graft.operators.{AsOfJoin, Curation, IntervalJoin, Layout, Skew}
import graft.sources.BibSources
import graft.SparkEntry.{Query, dec2, dec6, bibRecordsSql, fixturesDir, flagship}

/** Relational one-offs: scans, projections, filters, scalar pipelines,
  * joins, aggregates, windows, sinks, layouts, JSON and the fixture-file
  * source parsers. */
private[graft] object RelationalQueries {

  private def sumd2(c: Column): Column = sum(dec2(c)).cast("double")

  private def sumd6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Deterministic messy-URL column for the curation tier: every
    * canonicalization rule is exercised (scheme/host case, default and
    * explicit ports, root/trailing-slash paths, query, fragment) and the
    * domain mix includes a multi-part suffix, an IPv4 literal, and a
    * single-label host. Mirrored textually by [[syntheticUrlSql]]. */
  private def syntheticUrl(id: Column): Column = concat(
    when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
    when(id % 7 === 0, lit("Example.COM"))
      .when(id % 7 === 1, lit("news.Example.com"))
      .when(id % 7 === 2, lit("blog.Example.co.uk"))
      .when(id % 7 === 3, lit("cdn.a.example.com.au"))
      .when(id % 7 === 4, lit("EXAMPLE.org"))
      .when(id % 7 === 5, lit("192.168.0.1"))
      .otherwise(lit("localhost")),
    when(id % 5 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
      .when(id % 5 === 1, lit(":8080")).otherwise(lit("")),
    when(id % 4 === 0, lit("")).when(id % 4 === 1, lit("/"))
      .when(id % 4 === 2, lit("/A/b/")).otherwise(lit("/a")),
    when(id % 3 === 0, lit("?q=Mixed&x=1")).otherwise(lit("")),
    when(id % 6 === 0, lit("#SEC")).otherwise(lit("")))

  private val syntheticUrlSql =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
      | || (CASE doc_id % 7 WHEN 0 THEN 'Example.COM'
      |      WHEN 1 THEN 'news.Example.com' WHEN 2 THEN 'blog.Example.co.uk'
      |      WHEN 3 THEN 'cdn.a.example.com.au' WHEN 4 THEN 'EXAMPLE.org'
      |      WHEN 5 THEN '192.168.0.1' ELSE 'localhost' END)
      | || (CASE WHEN doc_id % 5 = 0 THEN
      |        (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      |      WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
      | || (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/'
      |      WHEN 2 THEN '/A/b/' ELSE '/a' END)
      | || (CASE WHEN doc_id % 3 = 0 THEN '?q=Mixed&x=1' ELSE '' END)
      | || (CASE WHEN doc_id % 6 = 0 THEN '#SEC' ELSE '' END)""".stripMargin

  /** CTE chain url → canonical_url/host/domain replaying
    * `Urls.canonicalizeUrl`/`urlHost`/`registeredDomain` regexp-for-regexp
    * (the suffix IN-list is generated from the SAME Seq the engine
    * uses, so the two can never drift). Expects a CTE named `u`
    * providing (doc_id, url). */
  private val urlCanonCtes: String = {
    val suffixes =
      Urls.multiPartSuffixes.map(s => s"'$s'").mkString(", ")
    s"""cn AS (SELECT doc_id, url,
       |         regexp_replace(trim(url), '#.*$$', '') AS nofrag FROM u),
       |ca AS (SELECT doc_id, url,
       |         lower(regexp_extract(nofrag,
       |           '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS auth,
       |         regexp_replace(nofrag,
       |           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
       |       FROM cn),
       |cc AS (SELECT doc_id, url,
       |         CASE WHEN auth = '' THEN NULL ELSE
       |           (CASE WHEN auth LIKE 'http://%'
       |                   THEN regexp_replace(auth, ':80$$', '')
       |                 WHEN auth LIKE 'https://%'
       |                   THEN regexp_replace(auth, ':443$$', '')
       |                 ELSE auth END)
       |           || regexp_replace(regexp_replace(rest, '\\?.*$$', ''),
       |                '/+$$', '')
       |           || regexp_extract(rest, '(\\?.*)$$', 1)
       |         END AS canonical_url
       |       FROM ca),
       |ch AS (SELECT doc_id, url, canonical_url,
       |         nullif(regexp_replace(regexp_replace(
       |           regexp_extract(canonical_url,
       |             '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
       |           '^.*@', ''), ':[0-9]+$$', ''), '') AS host
       |       FROM cc),
       |cd AS (SELECT doc_id, url, canonical_url, host,
       |         CASE WHEN host IS NULL THEN NULL
       |           WHEN regexp_matches(host,
       |             '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') THEN host
       |           WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = ''
       |             THEN host
       |           WHEN regexp_extract(host,
       |                  '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
       |             AND regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |                 IN ($suffixes)
       |             THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
       |           ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |         END AS domain
       |       FROM ch)""".stripMargin
  }

  def entries: Seq[Query] = Seq(
    // -- M0 flagship ---------------------------------------------------------
    Query("q_flagship", (s, dir) => flagship(s, dir),
      s"""WITH recs AS ($bibRecordsSql),
         |ddp AS (SELECT * FROM (SELECT *, row_number() OVER
         |          (PARTITION BY key ORDER BY priority DESC, doc_id ASC) AS rn
         |        FROM recs) WHERE rn = 1),
         |enr AS (SELECT d.*, (length(lang) % 90) / 10.0 + 1.0 AS impact_factor,
         |               'Q' || CAST(1 + length(lang) % 4 AS VARCHAR) AS quartile
         |        FROM ddp d)
         |SELECT source_type, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(CAST(impact_factor AS DECIMAL(28,6))) AS DOUBLE)
         |         / count(*) AS avg_if,
         |       min(quartile) AS min_quartile
         |FROM enr GROUP BY source_type ORDER BY source_type""".stripMargin),

    // -- scans / projections / filters (S1, P1-P8) ---------------------------
    // literals cast to timestamp_ntz to MATCH the parquet column type —
    // a with-TZ literal forces a cast onto the column and kills parquet
    // predicate pushdown (verified via PushedFilters in the plan)
    Query("q_scan_parquet", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate").between(
          lit("1995-01-01").cast("timestamp_ntz"),
          lit("1995-03-31").cast("timestamp_ntz")) && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-03-31'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q_project_rename", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_no"),
          col("l_quantity").as("qty"),
          (dec2(col("l_extendedprice")) * dec2(col("l_quantity")))
            .cast("double").as("gross"))
        .orderBy("order_id", "line_no"),
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |       l_quantity AS qty,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS gross
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin),

    Query("q_filter_notnull", (s, dir) =>
      Tables.documents(s, dir)
        .where(col("text").isNotNull && col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE text IS NOT NULL AND lang = 'en' ORDER BY doc_id""".stripMargin),

    Query("q_filter_conjunctive", (s, dir) =>
      Tables.documents(s, dir)
        .where(col("n_chars") >= 200 &&
          col("text").rlike("join (fast|slow)") &&
          col("text").contains("spark"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id"),
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= 200 AND regexp_matches(text, 'join (fast|slow)')
        |  AND contains(text, 'spark')
        |ORDER BY doc_id""".stripMargin),

    // -- scalar pipelines (F2-F5, F6/F7, F8, F13) -----------------------------
    Query("q_scalar_normalize", (s, dir) => {
      val raw = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0, lit("https://doi.org/"))
            .when(col("doc_id") % 4 === 1, lit("doi:")).otherwise(lit("")),
          lit("10."), (col("doc_id") % 1000).cast("string"), lit("/"),
          col("lang"),
          when(col("doc_id") % 3 === 0, lit(" [doi]")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(", 10.9999/extra"))
            .otherwise(lit(""))).as("raw_doi"))
      raw.select(col("doc_id"), col("raw_doi"),
          Normalize.normalizeDoi(col("raw_doi")).as("doi"),
          Normalize.extractYear(concat(lit("published in "),
            (lit(1990) + col("doc_id") % 30).cast("string"))).as("pub_year"))
        .orderBy("doc_id")
    },
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'https://doi.org/'
        |          WHEN doc_id % 4 = 1 THEN 'doi:' ELSE '' END)
        |    || '10.' || CAST(doc_id % 1000 AS VARCHAR) || '/' || lang
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' [doi]' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ', 10.9999/extra' ELSE '' END)
        |      AS raw_doi
        |  FROM documents),
        |s1 AS (SELECT doc_id, raw_doi,
        |         regexp_replace(raw_doi, '\s*\[(doi|pii)\]', '', 'g') AS a
        |       FROM raw),
        |s2 AS (SELECT doc_id, raw_doi,
        |         CASE WHEN contains(a, ',') AND len(list_filter(
        |                string_split(a, ','), x -> starts_with(trim(x), '10.'))) > 0
        |              THEN trim(list_filter(string_split(a, ','),
        |                     x -> starts_with(trim(x), '10.'))[1])
        |              ELSE a END AS b
        |       FROM s1),
        |s3 AS (SELECT doc_id, raw_doi,
        |         regexp_replace(b, '^(https://doi\.org/|doi:)', '') AS c
        |       FROM s2)
        |SELECT doc_id, raw_doi,
        |       lower(trim(regexp_replace(c, '[,.\s]+$', ''))) AS doi,
        |       CAST(regexp_extract('published in '
        |         || CAST(1990 + doc_id % 30 AS VARCHAR), '(\d{4})', 1) AS INT)
        |         AS pub_year
        |FROM s3 ORDER BY doc_id""".stripMargin),

    Query("q_scalar_links", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("pubmed"))
          .when(col("doc_id") % 3 === 1, lit("wos"))
          .otherwise(lit("sciencedirect")).as("source_type"),
        col("doc_id").cast("string").as("pmid"),
        concat(lit("WOS:"), col("doc_id")).as("wos_id"),
        when(col("doc_id") % 7 =!= 0,
          concat(lit("10.1/d"), col("doc_id"))).otherwise(lit("")).as("doi"))
      d.select(col("doc_id"),
          Normalize.nullToEmpty(Normalize.pubmedLink(col("source_type"),
            col("pmid"))).as("pubmed_link"),
          Normalize.nullToEmpty(Normalize.wosLink(col("source_type"),
            col("wos_id"))).as("wos_link"),
          Normalize.nullToEmpty(Normalize.doiLink(col("doi"))).as("doi_link"))
        .withColumn("title_link", Normalize.nullToEmpty(Normalize.titleLink(
          col("wos_link"), col("pubmed_link"), lit(""), col("doi_link"))))
        .orderBy("doc_id")
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'pubmed'
        |         WHEN doc_id % 3 = 1 THEN 'wos' ELSE 'sciencedirect' END AS st,
        |    CAST(doc_id AS VARCHAR) AS pmid,
        |    'WOS:' || CAST(doc_id AS VARCHAR) AS wos_id,
        |    CASE WHEN doc_id % 7 <> 0 THEN '10.1/d' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END AS doi
        |  FROM documents),
        |links AS (
        |  SELECT doc_id,
        |    coalesce(CASE WHEN st = 'pubmed' AND pmid IS NOT NULL AND pmid <> ''
        |      THEN 'https://pubmed.ncbi.nlm.nih.gov/' || pmid || '/' END, '')
        |      AS pubmed_link,
        |    coalesce(CASE WHEN st = 'wos' AND wos_id IS NOT NULL AND wos_id <> ''
        |      THEN 'https://www.webofscience.com/wos/woscc/full-record/' || wos_id
        |      END, '') AS wos_link,
        |    coalesce(CASE WHEN doi IS NOT NULL AND doi <> ''
        |      THEN 'https://doi.org/' || doi END, '') AS doi_link
        |  FROM d)
        |SELECT doc_id, pubmed_link, wos_link, doi_link,
        |       coalesce(nullif(wos_link, ''), nullif(pubmed_link, ''),
        |                nullif('', ''), nullif(doi_link, ''), '') AS title_link
        |FROM links ORDER BY doc_id""".stripMargin),

    // -- URL/domain curation tier (canonicalize -> eTLD+1 -> gate) ----------
    Query("q_url_normalize", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        .withColumn("canonical_url", Urls.canonicalizeUrl(col("url")))
        .withColumn("host", Urls.urlHost(col("canonical_url")))
        .withColumn("domain", Urls.registeredDomain(col("host")))
        .orderBy("doc_id"),
      // NOTE: concatenation, not an outer stripMargin — the interpolated
      // fragments contain SQL `||` operators at line starts, which an outer
      // stripMargin would truncate to `|`.
      ("WITH u AS (SELECT doc_id, " + syntheticUrlSql +
        " AS url FROM documents),\n" + urlCanonCtes + "\n" +
        "SELECT doc_id, url, canonical_url, host, domain\n" +
        "FROM cd ORDER BY doc_id")),

    Query("q_domain_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
      Curation.domainGate(docs, col("url"), col("doc_id"),
          maxPerDomain = 40, blocklist = Seq("example.org", "localhost"))
        .select("doc_id", "domain")
        .orderBy("domain", "doc_id")
    },
      ("WITH u AS (SELECT doc_id, " + syntheticUrlSql +
        " AS url FROM documents),\n" + urlCanonCtes + ",\n" +
        """g AS (SELECT doc_id, domain,
          |        row_number() OVER (PARTITION BY domain
          |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |      FROM cd
          |      WHERE domain IS NOT NULL
          |        AND domain NOT IN ('example.org', 'localhost'))
          |SELECT doc_id, domain FROM g WHERE rk <= 40
          |ORDER BY domain, doc_id""".stripMargin)),

    Query("q_coalesce_fallback", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 7 =!= 0,
            concat(lit("J"), col("doc_id") % 10)).as("journal"),
          concat(lit("Full"), col("doc_id") % 10).as("journal_full"))
        .withColumn("journal_resolved",
          coalesce(col("journal"), col("journal_full")))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 <> 0
        |       THEN 'J' || CAST(doc_id % 10 AS VARCHAR) END AS journal,
        |  'Full' || CAST(doc_id % 10 AS VARCHAR) AS journal_full,
        |  coalesce(CASE WHEN doc_id % 7 <> 0
        |    THEN 'J' || CAST(doc_id % 10 AS VARCHAR) END,
        |    'Full' || CAST(doc_id % 10 AS VARCHAR)) AS journal_resolved
        |FROM documents ORDER BY doc_id""".stripMargin),

    // -- set ops (U1, U2) ----------------------------------------------------
    Query("q_union_by_name", (s, dir) => {
      val a = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        lit("c").as("src"))
      val b = Tables.supplier(s, dir).select(col("s_suppkey").as("id"),
        col("s_name").as("name"), lit("s").as("src"))
      a.unionByName(b, allowMissingColumns = true).orderBy("src", "id")
    },
      """SELECT * FROM (
        |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |         'c' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey, s_name, NULL, 's' FROM supplier)
        |ORDER BY src, id""".stripMargin),

    Query("q_intersect_except", (s, dir) => {
      val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      cn.intersect(sn).withColumn("op", lit("intersect"))
        .unionByName(cn.except(sn).withColumn("op", lit("except")))
        .orderBy("op", "nationkey")
    },
      """SELECT * FROM (
        |  SELECT nationkey, 'intersect' AS op FROM
        |    (SELECT c_nationkey AS nationkey FROM customer
        |     INTERSECT SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT nationkey, 'except' AS op FROM
        |    (SELECT c_nationkey AS nationkey FROM customer
        |     EXCEPT SELECT s_nationkey FROM supplier))
        |ORDER BY op, nationkey""".stripMargin),

    // -- joins (J1, J3, J4) ---------------------------------------------------
    Query("q_join_broadcast_enrich", (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sumd2(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("r_name", "n_name"),
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    Query("q_join_smj_multiway", (s, dir) =>
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sumd6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10),
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
        |    AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    Query("q_join_semi", (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).where(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN
        |  (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin),

    // customers with no RECENT order — the date filter makes the
    // difference non-empty at sf0.01 (every customer has SOME order in
    // this synthetic, so the unfiltered anti-join was vacuous: a 0-row
    // expected result can't distinguish a correct anti-join from one
    // that empties everything)
    Query("q_join_left_anti", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin),

    // interval overlap join via the grid-bucket equi-join: order
    // "fulfillment windows" (7 days from order date) against shipment
    // intervals (0-4 days from ship date, length keyed off the line
    // number so it is deterministic and varied). A raw overlap predicate
    // plans as BroadcastNestedLoopJoin — O(|L|·|R|) with a broadcast
    // ceiling; the grid cell turns it into a shuffled equi-join, and the
    // canonical-cell predicate makes pairs exactly-once with NO
    // distinct pass. Aggregated per order so the output stays readable.
    Query("q_join_interval", (s, dir) => {
      val epoch = to_date(lit("1970-01-01"))
      val a = Tables.orders(s, dir)
        .where(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), epoch).cast("long")
            .as("a_start"))
        .withColumn("a_end", col("a_start") + 6)
      val b = Tables.lineitem(s, dir)
        .where(col("l_orderkey") % 17 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), epoch).cast("long")
            .as("b_start"))
        .withColumn("b_end", col("b_start") + pmod(col("l_linenumber"), lit(5)))
      IntervalJoin.overlapJoin(a, b, "a_start", "a_end",
          "b_start", "b_end", bucketWidth = 7L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_overlaps"),
          min(col("b_start")).as("first_ship"),
          max(col("b_end")).as("last_ship"))
        .orderBy("o_orderkey")
    },
      // interval overlap: the oracle states the raw overlap predicate —
      // the engine's grid-bucket + canonical-cell plan must agree exactly
      """WITH a AS (SELECT o_orderkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS a_start
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |a2 AS (SELECT o_orderkey, a_start, a_start + 6 AS a_end FROM a),
        |b AS (SELECT l_orderkey, l_linenumber,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      AS b_start
        |  FROM lineitem WHERE l_orderkey % 17 = 0),
        |b2 AS (SELECT l_orderkey, l_linenumber, b_start,
        |    b_start + (l_linenumber % 5) AS b_end FROM b)
        |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  min(b_start) AS first_ship, max(b_end) AS last_ship
        |FROM a2 JOIN b2 ON a_start <= b_end AND b_start <= a_end
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),

    Query("q_join_range", (s, dir) => {
      import s.implicits._
      val tiers = Seq((0, 900.0, 925.0), (1, 925.0, 950.0),
        (2, 950.0, 975.0), (3, 975.0, 1000.0)).toDF("tier", "lo", "hi")
      Tables.part(s, dir)
        .join(broadcast(tiers),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_parts"),
          sumd2(col("p_retailprice")).as("sum_price"))
        .orderBy("tier")
    },
      """WITH tiers(tier, lo, hi) AS (VALUES
        |  (0, 900.0, 925.0), (1, 925.0, 950.0),
        |  (2, 950.0, 975.0), (3, 975.0, 1000.0))
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN tiers ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY tier ORDER BY tier""".stripMargin),

    // as-of join: for each click, the same user's most recent purchase at
    // or before the click (composed union+window; DuckDB ASOF JOIN oracle)
    Query("q_join_asof", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value").as("pvalue"))
      AsOfJoin.asOf(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "pvalue"))
        .select(col("event_id"), col("user_id"), col("asof_pts"),
          col("asof_pvalue"))
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, p.ts AS asof_pts,
        |       p.value AS asof_pvalue
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN
        |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin),

    // salted skew JOIN (SURVEY §4.2): every 3rd order rerouted to a
    // deliberately hot customer 1, joined to the customer dim through
    // Skew.saltedJoin — the hot key spreads over 32 salt buckets instead
    // of swamping one reducer. The oracle pins exactness vs the plain
    // join; the spec pins that the salt spreads the hot key's partitions
    Query("q_join_skew", (s, dir) => {
      val fact = Tables.orders(s, dir)
        .withColumn("cust",
          when(col("o_orderkey") % 3 === 0, lit(1L))
            .otherwise(col("o_custkey")))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("cust"), col("c_mktsegment"))
      Skew.saltedJoin(fact, dim, Seq("cust"), col("o_orderkey"))
        .groupBy("cust", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sumd2(col("o_totalprice")).as("sum_price"))
        .orderBy("cust")
    },
      // the salted join must be value-identical to the plain join+agg
      """SELECT cust, c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM (SELECT CASE WHEN o_orderkey % 3 = 0 THEN CAST(1 AS BIGINT)
        |             ELSE o_custkey END AS cust, o_totalprice
        |      FROM orders) o
        |JOIN customer c ON c.c_custkey = o.cust
        |GROUP BY cust, c_mktsegment ORDER BY cust""".stripMargin),

    // -- aggregations (A1-A6) --------------------------------------------------
    // salted two-phase aggregation over a deliberately hot 3-value key
    // (skew-mitigation pattern; result identical to the plain groupBy)
    Query("q_agg_salted", (s, dir) =>
      Skew.saltedSumCount(Tables.lineitem(s, dir), col("l_returnflag"),
          dec2(col("l_quantity")), col("l_orderkey"))
        .select(col("key").as("l_returnflag"), col("n"),
          col("sum").cast("double").as("sum_qty"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin),

    // deterministic hash sampling — the reproducible-sampling pattern for
    // training pipelines (identical sample on any engine, no RNG state)
    Query("q_sample_hash", (s, dir) =>
      Tables.documents(s, dir)
        .where(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |ORDER BY doc_id""".stripMargin),

    Query("q_agg_tpch_q1", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd2(col("l_quantity")).as("sum_qty"),
          sumd2(col("l_extendedprice")).as("sum_base_price"),
          sumd6(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          sumd6(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1)))
            .as("avg_price"),
          (sum(dec2(col("l_discount"))).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q_count_by_group", (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy("o_orderpriority", "o_orderstatus"),
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin),

    Query("q_distinct", (s, dir) =>
      Tables.documents(s, dir).select("lang", "source").distinct()
        .orderBy("lang", "source"),
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source"),

    // ROLLUP goes through the SQL surface: the Dataset rollup() API trips
    // Spark's ambiguous-self-join detector when grouping columns flow out
    // of a multiway join (false positive — the SQL path plans the identical
    // Expand + partial/final HashAggregate).
    Query("q_agg_rollup", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
      Tables.region(s, dir).createOrReplaceTempView("graft_region")
      s.sql("""SELECT r_name, n_name, count(*) AS n_cust,
              |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
              |    AS sum_acctbal
              |FROM graft_customer
              |JOIN graft_nation ON c_nationkey = n_nationkey
              |JOIN graft_region ON n_regionkey = r_regionkey
              |GROUP BY ROLLUP(r_name, n_name)
              |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""
        .stripMargin)
    },
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    Query("q_agg_cube", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  count(*) AS n_orders,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS sum_price
              |FROM graft_orders
              |GROUP BY CUBE(o_orderstatus, o_orderpriority)
              |ORDER BY o_orderstatus ASC NULLS FIRST,
              |         o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin),

    Query("q_agg_grouping_sets", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  count(*) AS n_orders
              |FROM graft_orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus ASC NULLS FIRST,
              |         o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin),

    // relational pivot (long→wide conditional aggregation) with an
    // EXPLICIT value list — the two-arg pivot form skips the implicit
    // values-discovery job (a full extra scan + driver collect at
    // 100 TB); a (flag,status) cell with no rows surfaces as NULL in
    // every pivoted column (PivotFirst's fill), mirrored by the
    // oracle's filtered-CASE aggregates (sum over an empty CASE set is
    // NULL — which is why the count cell is a CASE-sum, not count(*))
    Query("q_pivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumd2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_sum_qty").as("f_sum_qty"), col("F_n").as("f_n"),
          col("O_sum_qty").as("o_sum_qty"), col("O_n").as("o_n"))
        .orderBy("l_returnflag"),
      // pivot ≙ filtered-CASE aggregation; the count cell is a CASE-sum
      // so an absent (flag,status) cell is NULL exactly like PivotFirst's
      // fill (count(*) would say 0 and hash-mismatch)
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS f_sum_qty,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
        |    AS f_n,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS o_sum_qty,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
        |    AS o_n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin),

    // unpivot (wide→long melt) — the exact inverse: the pivoted frame
    // melts back through ONE generator (each input row expands in
    // place; no per-column self-union re-reading the aggregate), NULL
    // cells dropped so the round trip lands exactly on the plain
    // GROUP BY the oracle states
    Query("q_unpivot", (s, dir) => {
      val wide = Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumd2(col("l_quantity")))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("F"), col("O")), "l_linestatus", "sum_qty")
        .where(col("sum_qty").isNotNull)
        .orderBy("l_returnflag", "l_linestatus")
    },
      // pivot-then-unpivot round-trips to the plain long-format GROUP BY
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_linestatus IN ('F', 'O')
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q_agg_distinct_exact", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // A6 proper — approx_count_distinct (HyperLogLog++). Rows-only check:
    // HLL sketch values are engine-specific so there is no DuckDB hash
    // oracle; the ≤2% relative-error contract vs the exact counts above is
    // pinned by ScaleTechniquesSpec. At 100 TB this is THE distinct-count
    // shape: one pass, fixed-size sketch per group, no count-distinct
    // expand (the exact variant shuffles each distinct value once; the
    // sketch shuffles 2^p registers per group regardless of cardinality).
    Query.rowsOnly("q_agg_approx_distinct", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01)
            .as("apx_parts"),
          approx_count_distinct(col("l_suppkey"), rsd = 0.01).as("apx_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // -- sorts / top-k (O1, O3) -------------------------------------------------
    Query("q_orderby", (s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("n_nationkey"))
        .orderBy(col("r_name").desc, col("n_name").asc),
      """SELECT r_name, n_name, n_nationkey FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name DESC, n_name ASC""".stripMargin),

    Query("q_topk", (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // -- windows (W1, W2) ---------------------------------------------------------
    Query("q_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .where(col("rn") <= 3)
        .select(col("c_nationkey"), col("rn"), col("rk"), col("c_custkey"),
          col("c_acctbal"))
        .orderBy("c_nationkey", "rn")
    },
      """SELECT c_nationkey, CAST(rn AS INTEGER) AS rn,
        |  CAST(rk AS INTEGER) AS rk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
        |    rank() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin),

    Query("q_window_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double")
            .as("running_total"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),

    Query("q_window_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // RANGE frame keyed on epoch seconds: per event, total value of the
    // same user's events in the preceding 10 minutes (event-time analytic)
    Query("q_window_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"))
        .rangeBetween(-600L, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"), col("sec"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
            .as("sum_10m"),
          count(lit(1)).over(w).as("n_10m"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_10m,
        |  CAST(count(*) OVER w AS BIGINT) AS n_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // -- partitioned sink round-trip (S8: sheet-per-source ≙ partition-per-key) ------
    Query("q_sink_partitioned", (s, dir) => {
      val out = s"/tmp/graft_sink/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.documents(s, dir).write.mode("overwrite")
        .partitionBy("lang").parquet(out)
      // read back through the partitioned layout; the lang filter is a
      // partition-pruning predicate (only matching directories scanned)
      s.read.parquet(out)
        .where(col("lang").isin("en", "fr"))
        .groupBy("lang").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // range-sorted physical layout: write documents range-partitioned +
    // sorted by (n_chars, doc_id) so parquet footer min-max stats prune
    // files/row groups for range predicates, then read back through a
    // selective filter. Semantically a no-op vs filtering the source —
    // which is exactly what the oracle pins; the pruning payoff is
    // pinned by LayoutSpec footer-stat assertions and the layout probe.
    Query("q_layout_sorted", (s, dir) => {
      val out = System.getProperty("java.io.tmpdir") +
        s"/graft_layout_sorted_${math.floorMod(dir.hashCode, 1 << 30)}"
      Layout.sortedLayout(
        Tables.documents(s, dir).select("doc_id", "n_chars", "lang"),
        out, Seq(col("n_chars"), col("doc_id")), numFiles = 8)
      s.read.parquet(out)
        .where(col("n_chars") >= 200 && col("n_chars") < 400)
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")
    },
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE n_chars >= 200 AND n_chars < 400
        |ORDER BY doc_id""".stripMargin),

    // Z-ordered layout: sort by the bit-interleaved key so BOTH columns'
    // per-file ranges stay tight — a conjunctive two-column predicate
    // prunes files a lexicographic sort can only prune on its leading
    // column (probe-quantified in BASELINE). Oracle pins read-back
    // semantics = plain two-column filter on the source.
    Query("q_layout_zorder", (s, dir) => {
      val out = System.getProperty("java.io.tmpdir") +
        s"/graft_layout_z_${math.floorMod(dir.hashCode, 1 << 30)}"
      Layout.sortedLayout(
        Tables.documents(s, dir).select("doc_id", "n_chars", "lang")
          .withColumn("__z", Layout.zValue(col("n_chars"), col("doc_id"))),
        out, Seq(col("__z")), numFiles = 8)
      s.read.parquet(out)
        .where(col("n_chars") >= 200 && col("n_chars") < 400 &&
          col("doc_id") >= 100 && col("doc_id") < 300)
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")
    },
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE n_chars >= 200 AND n_chars < 400
        |  AND doc_id >= 100 AND doc_id < 300
        |ORDER BY doc_id""".stripMargin),

    // hash-bucketed co-located join: both sides bucketed on the join key
    // at write time, so the daily fact-fact join plans with ZERO
    // shuffles (spec-pinned) — the oracle pins that the bucketed layout
    // returns exactly the plain join's answer.
    Query("q_layout_bucketed", (s, dir) => {
      val tag = math.floorMod(dir.hashCode, 1 << 30)
      val tmpdir = System.getProperty("java.io.tmpdir")
      Layout.bucketedTable(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        s"graft_bkt_orders_$tag", s"$tmpdir/graft_bkt_orders_$tag",
        "o_custkey", nBuckets = 8)
      Layout.bucketedTable(
        Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        s"graft_bkt_customer_$tag", s"$tmpdir/graft_bkt_customer_$tag",
        "c_custkey", nBuckets = 8)
      s.table(s"graft_bkt_orders_$tag")
        .join(s.table(s"graft_bkt_customer_$tag"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sumd2(col("o_totalprice")).as("sum_price"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // -- semi-structured (F16/F17 shape on events.props) -----------------------------
    Query("q_json_nested", (s, dir) => {
      import org.apache.spark.sql.types._
      // F17 — the metrics API's nested-JSON navigation shape
      // (journal_metrics.py:127-134): prefer officialRank.select over .all.
      // Payload synthesized deterministically from events.props; 1 in 3
      // rows lacks the `select` branch to exercise the coalesce fallback.
      val k = get_json_object(col("props"), "$.k")
      val payload = when(col("event_id") % 3 =!= 0,
        concat(lit("{\"officialRank\": {\"select\": {\"sciif\": \"S"), k,
          lit("\"}, \"all\": {\"sciif\": \"fallback\"}}}")))
        .otherwise(lit("{\"officialRank\": {\"all\": {\"sciif\": \"fallback\"}}}"))
      val schema = StructType(Seq(StructField("officialRank", StructType(Seq(
        StructField("select", StructType(Seq(StructField("sciif", StringType)))),
        StructField("all", StructType(Seq(StructField("sciif", StringType)))))))))
      Tables.events(s, dir).select(col("event_id"), payload.as("payload"))
        .withColumn("parsed", from_json(col("payload"), schema))
        .select(col("event_id"),
          coalesce(col("parsed.officialRank.select.sciif"),
            col("parsed.officialRank.all.sciif")).as("sciif"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 3 <> 0
        |       THEN 'S' || json_extract_string(props, '$.k')
        |       ELSE 'fallback' END AS sciif
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // -- ingestion parsers S1/S2/S3/S5 + the reference's full pipeline ----------------
    // Raw text-format inputs live in fixtures/ (static, 2-3 records each),
    // so the oracles are hand-audited VALUES literals — full hash checks,
    // not rows-only. Array fields are flattened with array_join(", ") (the
    // reference's own downstream flatten, `parsers_manager.py:198-230`):
    // the driver's pandas row-sort cannot hash ndarray cells.
    Query("q_scan_pubmed", (s, _) =>
      BibSources.pubmed(s, s"$fixturesDir/pubmed_sample.txt")
        .select(col("pmid"), col("title"), col("abstract"), col("journal"),
          col("journal_full"), col("publication_date"),
          array_join(col("authors"), ", ").as("authors"),
          array_join(col("keywords"), ", ").as("keywords"),
          array_join(col("mesh_terms"), ", ").as("mesh_terms"),
          array_join(col("issn"), ", ").as("issn"),
          col("doi"), col("pii"), col("source_type"))
        .orderBy("pmid"),
      // -- parser / pipeline golden oracles --------------------------------------
      // fixtures/ inputs are static 2-3 record files, so the expected outputs
      // are hand-audited VALUES literals (checked against the fixture text and
      // the reference's parse semantics) — upgrading these from rows-only
      // checks to full hash checks.
      """SELECT * FROM (VALUES
        |  ('12345678', 'A study of synthetic literature records for pipeline testing.',
        |   'Background: this is the abstract. It spans multiple lines. Results: fine.',
        |   'J Synth Res', 'Journal of Synthetic Research', '2024 Mar 15',
        |   'Smith, Jane, Doe, John', 'synthetic data, testing',
        |   'Humans, Animals, Mice, Inbred C57BL',
        |   '1234-5678 (Print), 8765-4321 (Electronic)',
        |   '10.1000/jsr.2024.001', 'S0000-0000(24)00001-X', 'pubmed'),
        |  ('12345679', 'Second record.', 'Another abstract.', 'J Synth Res',
        |   NULL, '2023 Dec', NULL, NULL, NULL, NULL, NULL, NULL, 'pubmed')
        |) AS t(pmid, title, abstract, journal, journal_full, publication_date,
        |       authors, keywords, mesh_terms, issn, doi, pii, source_type)
        |ORDER BY pmid""".stripMargin),

    Query("q_scan_wos", (s, _) =>
      BibSources.wos(s, s"$fixturesDir/wos_sample.txt")
        .select(col("wos_id"), col("title"), col("abstract"), col("journal"),
          col("doi"), col("publication_year"),
          array_join(col("authors"), ", ").as("authors"),
          col("source_type"))
        .orderBy("wos_id"),
      """SELECT * FROM (VALUES
        |  ('WOS:000000000000001',
        |   'A study of synthetic literature records for pipeline testing',
        |   'Background: this is the abstract shared with the PubMed record, to exercise DOI dedup.',
        |   'JOURNAL OF SYNTHETIC RESEARCH', '10.1000/jsr.2024.001', '2024',
        |   'Smith, Jane, Doe, John', 'wos'),
        |  ('WOS:000000000000002', 'A WOS-only record', 'Distinct abstract.',
        |   'OTHER JOURNAL', '10.1000/oj.2023.042', '2023', 'Roe, R', 'wos')
        |) AS t(wos_id, title, abstract, journal, doi, publication_year,
        |       authors, source_type)
        |ORDER BY wos_id""".stripMargin),

    Query("q_scan_csv", (s, _) =>
      BibSources.wosCsv(s, s"$fixturesDir/wos_sample.csv")
        .select(col("wos_id"), col("title"), col("abstract"), col("journal"),
          col("doi"), col("publication_year"),
          array_join(col("authors"), ", ").as("authors"),
          col("source_type"))
        .orderBy("wos_id"),
      """SELECT * FROM (VALUES
        |  ('WOS:000000000000003', 'A CSV-exported record', 'Some abstract',
        |   'CSV JOURNAL', '10.3000/csv.1', '2021', 'Smith, Jane, Doe, John', 'wos'),
        |  ('WOS:000000000000004', 'Another CSV record', 'More abstract',
        |   'CSV JOURNAL', '10.3000/csv.2', '2020', 'Roe, Richard', 'wos')
        |) AS t(wos_id, title, abstract, journal, doi, publication_year,
        |       authors, source_type)
        |ORDER BY wos_id""".stripMargin),

    Query("q_scan_sciencedirect", (s, _) =>
      BibSources.sciencedirect(s,
        s"$fixturesDir/sciencedirect_sample.txt")
        .select(col("doi"), col("title"), col("abstract"), col("journal"),
          col("url"), col("volume"), col("issue"), col("pages"),
          col("publication_year"),
          array_join(col("authors"), ", ").as("authors"),
          array_join(col("keywords"), ", ").as("keywords"),
          col("source_type"))
        .orderBy("doi"),
      """SELECT * FROM (VALUES
        |  ('10.1000/jsr.2024.001',
        |   'A study of synthetic literature records for pipeline testing',
        |   'Background: this is the abstract shared across sources.',
        |   'Journal of Synthetic Research',
        |   'https://www.sciencedirect.com/science/article/pii/S000000002400001X',
        |   '12', '3', '100-110', '2024', 'Smith, J., Doe, J.',
        |   'synthetic data, testing, pipelines', 'sciencedirect'),
        |  ('10.2000/jot.2022.007',
        |   'An SD-only record about something else entirely',
        |   'Fully distinct abstract text here.', 'Journal of Other Things',
        |   NULL, '7', '1', '1-9', '2022', 'Roe, R., Poe, E.',
        |   'other, things', 'sciencedirect')
        |) AS t(doi, title, abstract, journal, url, volume, issue, pages,
        |       publication_year, authors, keywords, source_type)
        |ORDER BY doi""".stripMargin),

    // -- multimodal column plumbing (binary + typed metadata) -------------------------
    Query("q_multimodal_meta", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("blob", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("blob")).as("n_bytes"),
          ascii(substring(col("text"), 1, 1)).as("first_code"),
          md5(col("blob")).as("content_md5"))
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  ascii(substr(text, 1, 1)) AS first_code,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
