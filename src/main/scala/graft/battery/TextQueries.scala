package graft
package battery

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Similarity
import graft.SparkEntry.{Query, cosSql, normTextSql, cooccurPairCtes}

/** Text analysis: normalization, statistics, language id, PII, chunking,
  * the gopher gate and curation pipeline, BPE, tf-idf/BM25 retrieval. */
private[graft] object TextQueries {

  // unicode payload pieces for q_text_nfc, pinned as single-quoted
  // literals (the lexer always processes \u there; triple-quoted
  // strings stopped doing so in 2.13.2) and shared between the Spark
  // query and the generated oracle so the bytes cannot drift
  private val nfdEAcute = "e\u0301"   // NFD: e + combining acute
  private val nfcEAcute = "\u00e9"    // NFC precomposed
  private val nfdOUmlaut = "o\u0308"  // NFD: o + combining diaeresis

  /** The BM25 ranking chain (nrm → dd → st → tok → tf → wdf → sc → agg
    * → rk) without the WITH keyword or a final SELECT, shared by
    * q_text_bm25 (cut at rank 20) and q_retrieval_rrf (cut at rank 50
    * before fusion). `rk` ranks EVERY matching document; consumers cut.
    * k1 = 1.2 must be CAST to DOUBLE: DuckDB's bare 1.2 is DECIMAL,
    * and (tf * (1.2 + 1.0)) in exact decimal rounds to double ONCE
    * where the engine's double ops round per-step — a 1-ulp score
    * split (0.5/0.75/0.25 are binary-exact either way). */
  private def bm25RankCtes: String =
    s"""nrm AS (SELECT doc_id, $normTextSql AS t FROM documents),
       |dd AS (SELECT doc_id, string_split(t, ' ') AS ws,
       |         CASE WHEN t = '' THEN 0
       |              ELSE len(string_split(t, ' ')) END AS dl FROM nrm),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
       |tok AS (SELECT doc_id, dl, unnest(ws) AS tok FROM dd),
       |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM tok
       |       WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
       |wdf AS (SELECT doc_id, dl, tok, tf,
       |          count(*) OVER (PARTITION BY tok) AS df FROM tf),
       |sc AS (SELECT doc_id, dl, tok,
       |         (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)
       |           * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
       |           / (tf + CAST(1.2 AS DOUBLE) * ((1.0 - 0.75)
       |               + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
       |           AS s
       |       FROM wdf, st),
       |agg AS (SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_terms,
       |          list_sum(list(s ORDER BY tok)) AS score
       |        FROM sc GROUP BY 1, 2),
       |rk AS (SELECT doc_id, dl, n_terms, score, row_number() OVER (
       |         ORDER BY score DESC, doc_id ASC) AS rank FROM agg)""".stripMargin

  /** Deterministic ~80/10/10 split: md5 two-hex-char bucket of the id
    * (256 buckets; < 'cc' ≈ 80% train, < 'e6' ≈ 90% val boundary).
    * ONE definition each for the Column and SQL forms so the
    * q_split_assign / q_pipeline_curation use sites cannot drift. */
  private def splitAssignExpr(id: Column): Column = {
    val b = substring(md5(id.cast("string")), 1, 2)
    when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
  }

  private val splitAssignSql: String =
    """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |         THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
      |         THEN 'val'
      |       ELSE 'test' END""".stripMargin

  /** DuckDB mirror of `TextAnalysis.gopherFlags`'s per-row metrics:
    * emits CTEs `g_s`/`g_m` over input CTE `in`, which must expose the
    * text under column `t` (all other columns ride along, list
    * intermediates are EXCLUDEd). Expression-for-expression with the
    * Spark side; callers assemble rule booleans from g_m's metric
    * columns via `gopherRuleSqls`. */
  private def gopherMetricCtes(in: String): String =
    s"""g_s0 AS (
       |  SELECT *,
       |    regexp_split_to_array(trim(t), '\\s+') AS ws,
       |    string_split(t, chr(10)) AS ls
       |  FROM $in),
       |g_s AS (
       |  SELECT *,
       |    CASE WHEN length(trim(t)) = 0 THEN 0 ELSE len(ws) END
       |      AS n_words
       |  FROM g_s0),
       |g_m AS (
       |  SELECT * EXCLUDE (ws, ls),
       |    list_sum(list_transform(ws, w -> length(w) * 1.0))
       |      / nullif(n_words, 0) AS awl,
       |    length(t) - length(regexp_replace(t, '[#…]', '', 'g')) AS n_sym,
       |    len(list_filter(ls, l -> starts_with(l, '-')
       |      OR starts_with(l, chr(8226)))) AS n_bullet,
       |    len(ls) AS n_lines,
       |    len(list_filter(ls, l -> ends_with(l, '...'))) AS n_ell,
       |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
       |      AS n_alpha,
       |    len(list_intersect(
       |      list_distinct(regexp_split_to_array(lower(trim(t)), '\\s+')),
       |      ['the','a','an','and','or','of','to','in','is','it','on',
       |       'for','with','as','at','by','this','that'])) AS n_stop
       |  FROM g_s)""".stripMargin

  /** The seven rule booleans over `g_m`'s metric columns, name → SQL,
    * mirroring `gopherFlags(minAvgWordLen = 4.0)`, the bound of every
    * battery gopher query. */
  private val gopherRuleSqls: Seq[(String, String)] = Seq(
    "r_word_count" -> "(n_words >= 20 AND n_words <= 90)",
    "r_avg_word_len" -> "(awl >= 4.0 AND awl <= 10.0)",
    "r_symbol_ratio" ->
      "(CAST(n_sym AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0) < 0.1)",
    "r_bullet_lines" ->
      "(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) < 0.9)",
    "r_ellipsis_lines" ->
      "(CAST(n_ell AS DOUBLE) / CAST(n_lines AS DOUBLE) < 0.3)",
    "r_alpha_words" ->
      ("(CAST(n_alpha AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0)" +
        " >= 0.8)"),
    "r_stopwords" -> "(n_stop >= 2)")

  /** The conjunctive gopher gate as one SQL boolean. */
  private val gopherOkSql: String =
    gopherRuleSqls.map(_._2).mkString("(", " AND ", ")")

  def entries: Seq[Query] = Seq(
    // -- text analysis (BASELINE.json extensions) -----------------------------------
    // unicode NFC normalization (the CCNet/C4 cleaning step; custom
    // codegen'd NfcNormalize expression -- Spark has no built-in): the
    // payload deterministically mixes NFD and NFC spellings of the same
    // words, so pre/post character lengths differ and the hash check is
    // non-vacuous. Oracle via DuckDB's nfc_normalize.
    Query("q_text_nfc", (s, dir) => {
      import graft.functions.UnicodeExpressions.nfc
      val payload = concat(
        substring(col("text"), 1, 16), lit(" caf"),
        when(col("doc_id") % 3 === 0, lit(nfdEAcute))
          .when(col("doc_id") % 3 === 1, lit(nfcEAcute))
          .otherwise(lit("e")),
        lit(" n"),
        when(col("doc_id") % 3 === 2, lit(nfdOUmlaut + "el"))
          .otherwise(lit("oel")))
      Tables.documents(s, dir)
        .select(col("doc_id"), payload.as("raw"))
        .select(col("doc_id"), length(col("raw")).as("raw_len"),
          nfc(col("raw")).as("nfc_text"))
        .select(col("doc_id"), col("raw_len"),
          length(col("nfc_text")).as("nfc_len"), col("nfc_text"))
        .orderBy("doc_id")
    },
      s"""WITH raw AS (SELECT doc_id,
         |  substr(text, 1, 16) || ' caf' ||
         |  (CASE WHEN doc_id % 3 = 0 THEN '$nfdEAcute'
         |        WHEN doc_id % 3 = 1 THEN '$nfcEAcute' ELSE 'e' END) ||
         |  ' n' ||
         |  (CASE WHEN doc_id % 3 = 2 THEN '${nfdOUmlaut}el' ELSE 'oel' END)
         |    AS raw
         |  FROM documents)
         |SELECT doc_id, length(raw) AS raw_len,
         |  length(nfc_normalize(raw)) AS nfc_len,
         |  nfc_normalize(raw) AS nfc_text
         |FROM raw ORDER BY doc_id""".stripMargin),

    Query("q_text_stats", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
          TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      s"""WITH base AS (
         |  SELECT doc_id, text, $normTextSql AS nt,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
         |      AS n_ws,
         |    length(text) - length(regexp_replace(text,
         |      '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct
         |  FROM documents),
         |derived AS (
         |  SELECT doc_id, CAST(n_ws AS INTEGER) AS n_ws_tokens,
         |    CAST(len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
         |      AS DOUBLE) / nullif(n_ws, 0) AS avg_word_len,
         |    CAST(n_punct AS DOUBLE) / nullif(length(text), 0) AS punct_ratio,
         |    CAST(len(list_filter(string_split(nt, ' '), t -> t IN
         |      ('the','a','an','and','or','of','to','in','is','it','on','for',
         |       'with','as','at','by','this','that'))) AS DOUBLE)
         |      / nullif(len(string_split(nt, ' ')), 0) AS stopword_ratio,
         |    length(text) AS n_chars2
         |  FROM base)
         |SELECT doc_id, n_ws_tokens, n_bpe_tokens, avg_word_len, punct_ratio,
         |  stopword_ratio,
         |  (CASE WHEN n_chars2 >= 100 AND n_chars2 <= 20000 THEN 0.25 ELSE 0.0 END)
         |  + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
         |  + (CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END)
         |  + (CASE WHEN avg_word_len >= 2.0 AND avg_word_len <= 12.0
         |     THEN 0.25 ELSE 0.0 END) AS quality
         |FROM derived ORDER BY doc_id""".stripMargin),

    Query("q_lang_id", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.langIdFrame(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
      s"""WITH scored AS (
         |  SELECT lang, string_split($normTextSql, ' ') AS toks FROM documents),
         |s2 AS (
         |  SELECT lang,
         |    coalesce(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','mit','ein'))), 0) AS s_de,
         |    coalesce(len(list_filter(toks, t -> t IN ('the','and','of','to','is','with','that'))), 0) AS s_en,
         |    coalesce(len(list_filter(toks, t -> t IN ('el','la','de','que','los','una','por'))), 0) AS s_es,
         |    coalesce(len(list_filter(toks, t -> t IN ('le','la','les','des','une','est','dans'))), 0) AS s_fr,
         |    coalesce(len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我'))), 0) AS s_zh
         |  FROM scored),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |         ELSE 'zh' END AS pred
         |  FROM s2)
         |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM p
         |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin),

    // within-doc repetition: fraction of trigram OCCURRENCES that are
    // repeats of an earlier trigram in the same doc (Gopher-style
    // repetition quality rule) — relational: total minus distinct
    Query("q_text_repetition", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        posexplode(split(TextAnalysis.normText(col("text")), " "))
          .as(Seq("pos", "w")))
      val ordered = Window.partitionBy("doc_id").orderBy("pos")
      val grams = toks
        .withColumn("g", concat_ws(" ", col("w"),
          lead(col("w"), 1).over(ordered), lead(col("w"), 2).over(ordered)))
        .withColumn("n_words", count(lit(1)).over(
          Window.partitionBy("doc_id")))
        .where(col("n_words") >= 3 && col("pos") <= col("n_words") - 3)
      grams.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct"))
        .withColumn("repetition_ratio",
          (col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams"))
        .orderBy("doc_id")
    },
      s"""WITH nrm AS (SELECT doc_id, $normTextSql AS t FROM documents),
         |wrd AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nrm),
         |grams AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
         |  FROM wrd WHERE len(ws) >= 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
         |  CAST(count(*) - count(DISTINCT g) AS DOUBLE) / count(*)
         |    AS repetition_ratio
         |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // PII-shaped pattern counts; the corpus has none, so deterministic
    // synthetic contacts are appended to 1-in-3 docs to make the
    // detector's output non-vacuous
    Query("q_text_pii", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("t",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.org or +1 555-000-"), col("doc_id") % 10000,
              lit(" host 10.0.0."), col("doc_id") % 256))
            .otherwise(lit(""))))
      val (em, ph, ip) = TextAnalysis.piiCounts(col("t"))
      docs.select(col("doc_id"), em.as("n_emails"), ph.as("n_phones"),
          ip.as("n_ips"))
        .orderBy("doc_id")
    },
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@example.org or +1 555-000-'
        |        || CAST(doc_id % 10000 AS VARCHAR)
        |        || ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+?\d[\d -]{7,}\d')) AS INTEGER)
        |    AS n_phones,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips
        |FROM aug ORDER BY doc_id""".stripMargin),

    // detection's completion: typed-tag redaction of the same planted PII
    Query("q_text_redact", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("t",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.org or +1 555-000-"), col("doc_id") % 10000,
              lit(" host 10.0.0."), col("doc_id") % 256))
            .otherwise(lit(""))))
      docs.select(col("doc_id"),
          TextAnalysis.redactPii(col("t")).as("redacted"))
        .orderBy("doc_id")
    },
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@example.org or +1 555-000-'
        |        || CAST(doc_id % 10000 AS VARCHAR)
        |        || ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin),

    // overlapping character chunking (RAG / context-window shard prep):
    // 200-char chunks every 150 chars; (doc_id, chunk_idx) is the stable
    // downstream key. Pure generator projection — zero shuffles.
    Query("q_text_chunk", (s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
          chunkChars = 200, strideChars = 150)
        .orderBy("doc_id", "chunk_idx"),
      // coalesce mirrors chunkDocs' NULL-text pin: one NULL chunk per
      // NULL doc on both engines (DuckDB's greatest propagates NULL,
      // Spark's skips it — without the coalesce the row counts diverge)
      """WITH starts AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(coalesce(length(text), 0), 1), 150))
        |      AS cs
        |  FROM documents)
        |SELECT doc_id, CAST(cs // 150 AS INTEGER) AS chunk_idx,
        |  CAST(cs AS INTEGER) AS chunk_start,
        |  substr(text, CAST(cs AS INTEGER) + 1, 200) AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin),

    // Gopher-style rule-pack quality gate: per-rule boolean flags + the
    // conjunctive pass bit. The corpus is single-line word-bags, so the
    // line-shape rules (bullets / ellipses / symbol-soup) are exercised
    // through the same deterministic augmentation pattern q_text_pii
    // uses — structure planted by doc_id modulus, identically in the
    // oracle.
    Query("q_text_gopher", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("t",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            repeat(lit("\n- bullet item"), 12)).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            repeat(lit("\ntrailing line..."), 4)).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" "), repeat(lit("### "), 10))).otherwise(lit(""))))
      // minAvgWordLen raised from Gopher's 3.0: the synthetic word-bag
      // corpus sits at awl 3.7-5.3, so 4.0 keeps the rule non-vacuous
      val flags = TextAnalysis.gopherFlags(col("t"), minAvgWordLen = 4.0)
      docs.select(col("doc_id") +:
          flags.map { case (n, c) => c.as(n) } :+
          flags.map(_._2).reduce(_ && _).as("pass"): _*)
        .orderBy("doc_id")
    },
      // mirrors TextAnalysis.gopherFlags expression-for-expression: same
      // augmentation moduli, same regex splits, same double ratios — the
      // boolean flags are exact because every comparison happens on
      // identical rational values
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 7 = 0
         |      THEN repeat(chr(10) || '- bullet item', 12) ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0
         |      THEN repeat(chr(10) || 'trailing line...', 4) ELSE '' END) ||
         |    (CASE WHEN doc_id % 13 = 0
         |      THEN ' ' || repeat('### ', 10) ELSE '' END) AS t
         |  FROM documents),
         |${gopherMetricCtes("aug")}
         |SELECT doc_id,
         |  ${gopherRuleSqls.map { case (n, e) => s"$e AS $n" }
            .mkString(",\n  ")},
         |  $gopherOkSql AS pass
         |FROM g_m ORDER BY doc_id""".stripMargin),

    // corpus data card (Datasheets-for-Datasets artifact): per-source and
    // overall (rollup) doc/token/char totals, exact-dedup uniqueness, and
    // the Gopher-rule pass count — ONE pass over the corpus: per-doc
    // derived columns feed a single partial+final rollup aggregate, so at
    // 100 TB this costs one scan + one skinny shuffle of per-source
    // partials.
    Query("q_corpus_datacard", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ok = TextAnalysis.gopherFlags(col("text"), minAvgWordLen = 4.0)
        .map(_._2).reduce(_ && _)
      docs.select(col("source"),
          TextAnalysis.wsTokenCount(col("text")).as("toks"),
          length(col("text")).as("chars"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          ok.cast("int").as("ok"))
        .rollup("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("long").as("n_tokens"),
          sum(col("chars")).cast("long").as("n_chars"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("ok")).cast("long").as("n_quality_pass"))
        .orderBy(col("source").asc_nulls_first)
    },
      // per-doc gopher conjunction (raw text, awl bound 4.0 as the Spark
      // side) folded into one rollup aggregate; all-integer outputs
      s"""WITH base AS (
         |  SELECT source, text AS t, $normTextSql AS nt FROM documents),
         |${gopherMetricCtes("base")},
         |f AS (
         |  SELECT source, n_words, length(t) AS chars, md5(nt) AS fp,
         |    CASE WHEN $gopherOkSql THEN 1 ELSE 0 END AS ok
         |  FROM g_m)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |  CAST(sum(ok) AS BIGINT) AS n_quality_pass
         |FROM f GROUP BY ROLLUP(source)
         |ORDER BY source NULLS FIRST""".stripMargin),

    // deterministic 3-way train/val/test split: md5 2-hex-char bucket of
    // the doc id (256 buckets; < 'cc' ≈ 80% train, < 'e6' ≈ 90% val
    // boundary) — pure projection, reproducible across runs/engines, no
    // RNG state. The q_sample_hash idiom extended to partition the WHOLE
    // corpus rather than select a slice.
    Query("q_split_assign", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          splitAssignExpr(col("doc_id")).as("split"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, source,
         |  $splitAssignSql AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    // end-to-end CURATION pipeline: gopher rule gate → exact dedup
    // (first-id survivor per fingerprint) → deterministic hash split →
    // per-(split, source) doc/token stats. One scan; the only wide ops
    // are the dedup window (keyed on the high-cardinality fingerprint)
    // and the final small aggregate — the corpus-curation counterpart of
    // q_pipeline_pretrain's mixing-side composition.
    Query("q_pipeline_curation", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ok = TextAnalysis.gopherFlags(col("text"), minAvgWordLen = 4.0)
        .map(_._2).reduce(_ && _)
      val uniq = docs.where(ok)
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .where(col("rn") === 1)
      uniq
        .withColumn("split", splitAssignExpr(col("doc_id")))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).cast("long")
            .as("n_tokens"))
        .orderBy("split", "source")
    },
      // gate → first-id-per-fingerprint dedup → hash split → stats, each
      // stage the same SQL the standalone oracles pin
      s"""WITH base AS (
         |  SELECT doc_id, source, text AS t, $normTextSql AS nt
         |  FROM documents),
         |${gopherMetricCtes("base")},
         |u AS (
         |  SELECT doc_id, source, n_words, md5(nt) AS fp FROM g_m
         |  WHERE $gopherOkSql),
         |d AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |    AS rn FROM u),
         |a AS (
         |  SELECT doc_id, source, n_words, $splitAssignSql AS split
         |  FROM d WHERE rn = 1)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens
         |FROM a GROUP BY split, source
         |ORDER BY split, source""".stripMargin),

    // corpus vocabulary: top-50 tokens by total occurrences (doc-frequency
    // alongside) — the vocabulary-building pass of a training pipeline
    Query("q_vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(TextAnalysis.normText(col("text")), " ")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normTextSql, ' ')) AS tok
         |  FROM documents)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM toks GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 50"""
        .stripMargin),

    // BPE training's per-round counting step at round 1 (symbols =
    // single characters): the full frequency-weighted adjacent-pair
    // distribution over the corpus vocabulary — the argmax of this
    // table IS the first learned merge, so hashing the whole table
    // pins the trainer's counting arithmetic and its corpus→vocab
    // reduction. Multi-round training is oracle-pinned by
    // q_text_bpe_train; encode is differential-spec'd (BpeSpec)
    // against a driver-side reference.
    Query("q_text_bpe_pairs", (s, dir) =>
      graft.operators.Bpe
        .initialPairCounts(Tables.documents(s, dir), col("text"))
        .orderBy("left", "right"),
      """WITH w AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY word)
        |SELECT substr(word, i, 1) AS "left",
        |  substr(word, i + 1, 1) AS "right",
        |  CAST(sum(freq) AS BIGINT) AS cnt
        |FROM w, unnest(range(1, length(word))) AS t(i)
        |WHERE length(word) >= 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the FULL merge-training loop, hash-pinned: 8 rounds of
    // count→argmax→rewrite over the word-freq vocab. The oracle unrolls
    // the identical rounds in DuckDB (marker-delimited symbol strings;
    // `replace` is leftmost non-overlapping ≡ the engine's sequential
    // fold because a within-round product l+r can never re-trigger as
    // either partner). Integer counts + lexicographic tie-break → the
    // merge table is a pure function of the corpus.
    Query("q_text_bpe_train", (s, dir) =>
      graft.operators.Bpe
        .trainTable(Tables.documents(s, dir), col("text"), 8)
        .orderBy("rank"),
      // the full 8-round trainer: symbols ride a chr(1)s…chr(2)-delimited
      // string (the corpus is whitespace-split so words carry neither
      // marker; the engine side never needs markers — it folds real
      // arrays). A product l+r can never re-trigger as left partner
      // (l+r == l impossible) nor as right (l+r == r impossible), so no
      // within-round cascade exists in either form. MATERIALIZED pins
      // each round to run once — the inlined form is exponential in
      // rounds over a parquet view.
      {
        val base =
          raw"""wf AS MATERIALIZED (
               |  SELECT word, CAST(count(*) AS BIGINT) AS freq
               |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
               |        FROM documents)
               |  WHERE length(word) > 0 GROUP BY word),
               |v0 AS MATERIALIZED (
               |  SELECT regexp_replace(word, '(.)', chr(1) || '\1' || chr(2),
               |    'g') AS s, freq FROM wf)""".stripMargin
        val rounds = (1 to 8).map { k =>
          s"""p$k AS MATERIALIZED (
             |  SELECT y[i] AS l, y[i + 1] AS r,
             |    CAST(sum(freq) AS BIGINT) AS cnt
             |  FROM (SELECT string_split(trim(s, chr(1) || chr(2)),
             |          chr(2) || chr(1)) AS y, freq FROM v${k - 1}),
             |    unnest(range(1, len(y))) AS t(i)
             |  GROUP BY 1, 2),
             |w$k AS MATERIALIZED (
             |  SELECT l, r FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |v$k AS MATERIALIZED (
             |  SELECT replace(s,
             |    chr(1) || (SELECT l FROM w$k) || chr(2) ||
             |      chr(1) || (SELECT r FROM w$k) || chr(2),
             |    chr(1) || (SELECT l FROM w$k) ||
             |      (SELECT r FROM w$k) || chr(2)) AS s, freq
             |  FROM v${k - 1})""".stripMargin
        }
        val sel = (1 to 8).map { k =>
          s"""SELECT CAST(${k - 1} AS INTEGER) AS rank,
             |  (SELECT l FROM w$k) AS "left",
             |  (SELECT r FROM w$k) AS "right"""".stripMargin
        }.mkString("\nUNION ALL\n")
        "WITH " + (base +: rounds).mkString(",\n") + "\n" + sel +
          "\nORDER BY rank"
      }),

    // exact per-language length percentiles (Spark percentile() and DuckDB
    // quantile_cont share R-7 linear interpolation — verified bit-equal).
    // Emitted as FOUR SCALAR columns, not one array: the driver's compare
    // sorts rows with pandas, which cannot hash ndarray cells.
    Query("q_text_percentiles", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(expr("percentile(n_chars, array(0.25, 0.5, 0.75, 0.99))")
          .as("pct"), count(lit(1)).as("n"))
        .select(col("lang"),
          element_at(col("pct"), 1).as("p25"),
          element_at(col("pct"), 2).as("p50"),
          element_at(col("pct"), 3).as("p75"),
          element_at(col("pct"), 4).as("p99"),
          col("n"))
        .orderBy("lang"),
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.50) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.99) AS p99,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // cross-source score normalization: quality metrics from different
    // sources are not comparable raw — robust-scale per source
    // (x - median) / IQR plus p5/p95 winsorization before any global
    // mixing cut. Per-source stats are one tiny aggregate broadcast
    // back; percentile ≙ quantile_cont parity carries the doubles
    Query("q_quality_normalize", (s, dir) => {
      val stats = Tables.documents(s, dir).groupBy("source")
        .agg(expr(
          "percentile(n_chars, array(0.05, 0.25, 0.5, 0.75, 0.95))")
          .as("q"))
        .select(col("source"), element_at(col("q"), 3).as("med"),
          (element_at(col("q"), 4) - element_at(col("q"), 2)).as("iqr"),
          element_at(col("q"), 1).as("p5"),
          element_at(col("q"), 5).as("p95"))
      Tables.documents(s, dir)
        .join(broadcast(stats), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          ((col("n_chars").cast("double") - col("med")) /
            nullif(col("iqr"), lit(0.0))).as("robust_z"),
          least(greatest(col("n_chars").cast("double"), col("p5")),
            col("p95")).as("winsorized"))
        .orderBy("doc_id")
    },
      // robust scaling: identical quantiles, identical expression shapes
      """WITH st AS (SELECT source,
        |              quantile_cont(n_chars, 0.5) AS med,
        |              quantile_cont(n_chars, 0.75) -
        |                quantile_cont(n_chars, 0.25) AS iqr,
        |              quantile_cont(n_chars, 0.05) AS p5,
        |              quantile_cont(n_chars, 0.95) AS p95
        |            FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  (CAST(d.n_chars AS DOUBLE) - st.med) / nullif(st.iqr, 0.0)
        |    AS robust_z,
        |  least(greatest(CAST(d.n_chars AS DOUBLE), st.p5), st.p95)
        |    AS winsorized
        |FROM documents d JOIN st USING (source)
        |ORDER BY d.doc_id""".stripMargin),

    Query("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, md5($normTextSql) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // sliding-window co-occurrence (window=2) + exact PMI ratio, the
    // counting pass of association mining / co-word analysis. The hashed
    // association column is the PMI ARGUMENT (n_pair·n_slots)/(n_w1·n_w2):
    // products and one division of exact counts are IEEE-exactly-rounded
    // and engine-bit-identical, while ln's last ULP is libm-dependent —
    // and ln is monotone, so every ranking over the ratio equals the
    // ranking over true PMI. Top-100 under a TOTAL order (count desc,
    // then both words) keeps the cut deterministic.
    Query("q_text_cooccur", (s, dir) =>
      graft.operators.Cooccur.windowCooccur(Tables.documents(s, dir),
          col("doc_id"), col("text"), window = 2, minCount = 2L)
        .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
        .limit(100),
      // window-2 co-occurrence: positions from range() + list indexing (the
      // BPE-oracle trick), pairs via the position-band self-join (the oracle
      // may be quadratic-ish; the ENGINE side is the lead()-window linear
      // form), marginals from both endpoint slots, ratio with the exact
      // double tree mirrored term-for-term (pair CTEs shared with
      // q_graph_triangles via cooccurPairCtes)
      s"""WITH $cooccurPairCtes,
         |mg AS (SELECT w, sum(n_pair) AS n_w FROM (
         |         SELECT w1 AS w, n_pair FROM pr
         |         UNION ALL SELECT w2 AS w, n_pair FROM pr)
         |       GROUP BY w),
         |tt AS (SELECT sum(n_pair) * 2 AS n_slots FROM pr)
         |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
         |  CAST(m1.n_w AS BIGINT) AS n_w1, CAST(m2.n_w AS BIGINT) AS n_w2,
         |  CAST(n_slots AS BIGINT) AS n_slots,
         |  (CAST(n_pair AS DOUBLE) * CAST(n_slots AS DOUBLE)) /
         |    (CAST(m1.n_w AS DOUBLE) * CAST(m2.n_w AS DOUBLE)) AS pmi_ratio
         |FROM pr JOIN mg m1 ON pr.w1 = m1.w JOIN mg m2 ON pr.w2 = m2.w
         |CROSS JOIN tt
         |WHERE n_pair >= 2
         |ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 100""".stripMargin),

    // TF-IDF characteristic terms (linear idf: score = tf/df, one IEEE
    // division — rank-equivalent to tf·N/df and bit-reproducible across
    // engines, so the oracle hashes the score itself)
    Query("q_text_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), col("doc_id"),
          col("text"), k = 5)
        .orderBy("doc_id", "rank"),
      // linear-idf tf-idf: score = tf/df is ONE ieee754 division — the
      // only tf-idf scoring a cross-engine hash oracle can pin
      s"""WITH nrm AS (SELECT doc_id, $normTextSql AS t FROM documents),
         |tok AS (SELECT doc_id, tok FROM (
         |          SELECT doc_id, unnest(string_split(t, ' ')) AS tok
         |          FROM nrm) WHERE tok <> ''),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, tok, tf, df,
         |         CAST(tf AS DOUBLE) / df AS score,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY CAST(tf AS DOUBLE) / df DESC, tok ASC) AS rank
         |       FROM tf JOIN idf USING (tok))
         |SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok,
         |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
         |FROM sc WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    // sparse TF-IDF cosine neighbors: the lexical similarity tier
    // between set-overlap (jaccard) and dense embeddings — shared rare
    // terms dominate; term-ordered folds + correctly-rounded sqrt keep
    // the raw cosine doubles hash-exact; bounded doc slice keeps the
    // all-shared-vocab synthetic's pair count sane at bench sf
    Query("q_text_simdocs", (s, dir) =>
      TextAnalysis.tfidfCosineTopK(
          Tables.documents(s, dir).where(col("doc_id") < 300),
          col("doc_id"), col("text"), k = 5, maxDf = 100000L)
        .orderBy("doc_a", "rank"),
      // tf-idf cosine neighbors: identical weight (tf/df), term-ordered
      // list_sum folds for norms and dots, the same division association
      // dot / (na * nb) — raw doubles hash-match
      s"""WITH tt AS (SELECT doc_id,
         |              unnest(string_split($normTextSql, ' ')) AS tok
         |            FROM documents WHERE doc_id < 300),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tt WHERE length(tok) > 0 GROUP BY 1, 2),
         |w AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / df AS w
         |      FROM (SELECT *, count(*) OVER (PARTITION BY tok) AS df
         |            FROM tf)
         |      WHERE df <= 100000),
         |nr AS (SELECT doc_id,
         |         sqrt(list_sum(list(w * w ORDER BY tok))) AS nrm
         |       FROM w GROUP BY doc_id),
         |dt AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |         list_sum(list(x.w * y.w ORDER BY x.tok)) AS dot
         |       FROM w x JOIN w y
         |         ON x.tok = y.tok AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2),
         |cs AS (SELECT a, b, dot / (na.nrm * nb.nrm) AS cos
         |       FROM dt JOIN nr na ON dt.a = na.doc_id
         |       JOIN nr nb ON dt.b = nb.doc_id),
         |sym AS (SELECT a AS doc_a, b AS doc_b, cos FROM cs
         |        UNION ALL SELECT b, a, cos FROM cs)
         |SELECT doc_a, doc_b, cos, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_a
         |    ORDER BY cos DESC, doc_b ASC) AS INTEGER) AS rank
         |  FROM sym)
         |WHERE rank <= 5 ORDER BY doc_a, rank""".stripMargin),

    // BM25 retrieval top-k (rational idf — the inside of Robertson's
    // ln, chosen like tfidf's linear idf so the oracle hashes the
    // score itself); the per-doc sum is a term-ordered sequential fold
    Query("q_text_bm25", (s, dir) =>
      graft.functions.Retrieval.bm25TopK(Tables.documents(s, dir),
        col("doc_id"), col("text"), Seq("spark", "join", "window"),
        k = 20),
      // BM25 with the rational idf (N−df+0.5)/(df+0.5): every double op
      // mirrors Retrieval.bm25TopK's expression order exactly, the
      // per-doc sum is list_sum(list(s ORDER BY tok)) = the engine's
      // term-ordered fold, so the score itself hash-matches (chain shared
      // with q_retrieval_rrf via bm25RankCtes)
      s"""WITH $bm25RankCtes
         |SELECT doc_id, CAST(dl AS INTEGER) AS dl, n_terms, score,
         |  CAST(rank AS INTEGER) AS rank
         |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // hybrid retrieval: the lexical BM25 list and the semantic cosine
    // list (probe = embedding 0; vec_id ≡ doc_id in this corpus) fused
    // by reciprocal rank — rank positions, not raw scores, are what is
    // comparable across retrievers. Both lists cut at 50, fusion cut
    // at 20; the tag-ordered fold makes the fused score hash-exact.
    Query("q_retrieval_rrf", (s, dir) => {
      val lex = graft.functions.Retrieval.bm25TopK(Tables.documents(s, dir),
          col("doc_id"), col("text"), Seq("spark", "join", "window"),
          k = 50)
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") === 0), k = 50)
        .select(col("nbr_id").as("doc_id"), col("rank"))
      graft.functions.Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
          k = 20)
        .orderBy("rank")
    },
      // RRF hybrid retrieval: the BM25 chain (top-50) and the brute-force
      // cosine chain for probe 0 (top-50) each contribute
      // 1.0/(60 + rank); the per-doc sum is a tag-ordered fold
      // (list_sum(list(x ORDER BY src)) ≡ the engine's array_sort fold),
      // so the fused score hash-matches bit-for-bit
      s"""WITH $bm25RankCtes,
         |lex AS (SELECT doc_id, rank FROM rk WHERE rank <= 50),
         |p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |      WHERE vec_id = 0),
         |cc AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
         |sv AS (SELECT pid, nid, ${cosSql("ce", "pe")} AS cos
         |      FROM cc, p WHERE nid <> pid),
         |semr AS (SELECT nid AS doc_id, row_number() OVER (
         |           ORDER BY cos DESC, nid ASC) AS rank FROM sv),
         |sem AS (SELECT doc_id, rank FROM semr WHERE rank <= 50),
         |u AS (SELECT doc_id, 'lex' AS src,
         |        CAST(1.0 AS DOUBLE) / (60 + rank) AS x FROM lex
         |      UNION ALL
         |      SELECT doc_id, 'sem' AS src,
         |        CAST(1.0 AS DOUBLE) / (60 + rank) AS x FROM sem),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |         list_sum(list(x ORDER BY src)) AS score
         |       FROM u GROUP BY 1),
         |fr AS (SELECT doc_id, n_lists, score, row_number() OVER (
         |         ORDER BY score DESC, doc_id ASC) AS rank FROM ag)
         |SELECT doc_id, n_lists, score, CAST(rank AS INTEGER) AS rank
         |FROM fr WHERE rank <= 20 ORDER BY rank""".stripMargin)
  )
}
