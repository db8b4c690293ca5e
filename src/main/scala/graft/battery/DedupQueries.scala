package graft
package battery

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, Snapshot}
import graft.SparkEntry.{Query, bibRecords, bibRecordsSql, cosSql, normTextSql, wellFormedSql}

/** Deduplication and decontamination: priority/exact/span/passage
  * dedup, the near-duplicate detectors and their closure, snapshot diff. */
private[graft] object DedupQueries {

  private val spansChunkWords = 3
  private val boilerplateMinDocs = 3
  private val decontamSpanWords = 6
  private val passageWindowWords = 6
  private val passageStrideWords = 1

  /** DuckDB mirror of Dedup.shingles (w=3, distinct) over `from`'s
    * (doc_id, text), as `sh` (doc_id, s). */
  private def shinglesCtes(from: String): String =
    s"""nrm AS (SELECT doc_id, $normTextSql AS t FROM $from),
       |wrd AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM nrm),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(ws) >= 3
       |              THEN list_distinct(list_transform(range(1, len(ws) - 1),
       |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |              ELSE [t] END AS s
       |       FROM wrd)""".stripMargin

  private val shinglesSql = s"WITH ${shinglesCtes("documents")}"

  /** Jaccard of the shingle sets of `sh` aliases a and b. */
  private val jaccardSql =
    """CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))""".stripMargin

  /** Every shingle-set pair of `sh` with its jaccard. */
  private val jaccardPairsSql =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id""".stripMargin

  /** DuckDB brute-force jaccard pairs at 0.6 — the oracle for all three
    * near-dup detectors (jaccard / minhash-LSH / simhash all return
    * exactly the true pair set on this corpus; see Dedup scaladoc). */
  private val jaccardOracleSql =
    s"""$shinglesSql
       |SELECT id_a, id_b, jaccard FROM (
       |  $jaccardPairsSql)
       |WHERE jaccard >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared closure CTE stack (one definition — the cluster and pretrain
    * oracles must never diverge): `base` (parameterized population) →
    * shingles → brute-force pairs at 0.6 → symmetric edges →
    * recursive-CTE transitive closure → `comp` (min reachable id per
    * doc). Final SELECTs compose on top of `base`/`comp`. */
  private def closureCtesSql(baseSql: String): String =
    s"""WITH RECURSIVE base AS ($baseSql),
       |${shinglesCtes("base")},
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    $jaccardPairsSql)
       |  WHERE jaccard >= 0.6),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, min(dst) AS reach_min
       |         FROM reach GROUP BY src)""".stripMargin

  /** Survivor expression shared by the closure-based oracles. */
  private val survivorSql =
    "least(coalesce(c.reach_min, d.doc_id), d.doc_id)"

  /** DuckDB oracle for the end-to-end near-dup dedup: docs in no pair
    * survive as themselves. */
  private val clusterOracleSql =
    s"""${closureCtesSql("SELECT * FROM documents")}
       |SELECT d.doc_id, CAST($survivorSql AS BIGINT) AS survivor_id
       |FROM base d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Non-benchmark (doc_id % 20 <> 0) shingle overlap with the benchmark
    * slice, plus the column `last`. */
  private def contaminationSql(last: String): String =
    s"""$shinglesSql,
       |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
       |          WHERE doc_id % 20 = 0),
       |post AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle
       |         FROM sh WHERE doc_id % 20 <> 0),
       |m AS (SELECT doc_id, count(*) AS n_matched
       |      FROM post JOIN bench USING (shingle) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.n_sh AS BIGINT) AS n_sh,
       |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       |  $last
       |FROM (SELECT DISTINCT doc_id, n_sh FROM post) d
       |LEFT JOIN m USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The disjoint `n`-word span grid `sp` over `d`'s word lists. */
  private def spanGridSql(n: Int): String =
    s"""sp AS (SELECT doc_id, u.i AS span_idx,
       |         array_to_string(w[(u.i*$n+1):((u.i+1)*$n)], ' ') AS span
       |       FROM d, unnest(range(0, greatest(
       |         CAST(ceil(len(w) / $n.0) AS BIGINT), 1))) AS u(i))""".stripMargin

  /** Drops every grid span in the `set` CTE and reassembles the rest
    * into column `out`, with per-doc span totals; the final SELECT's
    * FROM follows. */
  private def removeSpansSql(set: String, out: String): String =
    s"""mk AS (SELECT sp.doc_id, sp.span_idx, sp.span,
       |         sp.span IN (SELECT span FROM $set) AS rm
       |       FROM sp),
       |rb AS (SELECT doc_id,
       |         coalesce(string_agg(CASE WHEN NOT rm THEN span END, ' '
       |           ORDER BY span_idx), '') AS $out,
       |         CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_removed
       |       FROM mk GROUP BY doc_id)
       |SELECT doc.doc_id,
       |  coalesce(rb.$out, '') AS $out,
       |  coalesce(rb.n_spans, 0) AS n_spans,
       |  coalesce(rb.n_removed, 0) AS n_removed""".stripMargin

  /** q_dedup_boilerplate oracle, generated from the same chunk width /
    * document-frequency gate as the Spark query (mirrors
    * `Dedup.boilerplateDedup`): spans in >= minDocs distinct documents
    * are removed everywhere; per-doc totals ride along. */
  private def boilerplateOracleSql(docWhereSql: String = "TRUE"): String =
    s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS w
       |           FROM documents
       |           WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |${spanGridSql(spansChunkWords)},
       |hot AS (SELECT span FROM sp GROUP BY span
       |        HAVING count(DISTINCT doc_id) >= $boilerplateMinDocs),
       |${removeSpansSql("hot", "text_deduped")}
       |FROM documents doc LEFT JOIN rb USING (doc_id)
       |WHERE $docWhereSql
       |ORDER BY doc.doc_id""".stripMargin

  /** Shared CTE fragments of the two passage oracles — the SQL mirror
    * of the Spark-side `passagePostings`/`passageReassemble` split, so
    * the one-shot and probe oracles cannot drift apart. */
  private def passageWordsCte(name: String, extraWhere: String): String =
    s"""$name AS (SELECT doc_id, string_split($normTextSql, ' ') AS w
       |      FROM documents
       |      WHERE text IS NOT NULL AND doc_id IS NOT NULL$extraWhere),
       |${name}n AS (SELECT doc_id, w, len(w) AS nw FROM $name)""".stripMargin

  private def passageWindowsCte(name: String, srcN: String,
                                proj: String): String = {
    val (w, s) = (passageWindowWords, passageStrideWords)
    s"""$name AS ($proj
       |          md5(array_to_string(w[(u.st+1):(u.st+$w)], ' ')) AS h
       |        FROM $srcN, unnest(range(0, nw - $w + 1, $s)) AS u(st)
       |        WHERE nw >= $w)""".stripMargin
  }

  private def passageTailSql(winsN: String, wordsN: String,
                             covWhere: String, finalWhere: String): String =
    s"""rk AS (SELECT doc_id, st, h, row_number() OVER (
       |         PARTITION BY h ORDER BY doc_id, st) AS rn
       |       FROM $winsN),
       |cov AS (SELECT DISTINCT doc_id, u.pos AS pos
       |        FROM rk, unnest(range(st, st + $passageWindowWords)) AS u(pos)
       |        WHERE $covWhere),
       |wd AS (SELECT doc_id, w[u.pos + 1] AS word, u.pos AS pos
       |       FROM $wordsN, unnest(range(0, nw)) AS u(pos)),
       |rb AS (SELECT wd.doc_id,
       |         string_agg(wd.word, ' ' ORDER BY wd.pos) AS text_deduped
       |       FROM wd LEFT JOIN cov
       |         ON wd.doc_id = cov.doc_id AND wd.pos = cov.pos
       |       WHERE cov.pos IS NULL GROUP BY wd.doc_id)
       |SELECT doc.doc_id,
       |  coalesce(rb.text_deduped, '') AS text_deduped
       |FROM documents doc LEFT JOIN rb USING (doc_id)
       |${finalWhere}ORDER BY doc.doc_id""".stripMargin

  def entries: Seq[Query] = Seq(
    // -- dedup family (A3 + BASELINE.json extensions) ------------------------------
    Query("q_dedup_priority", (s, dir) =>
      Dedup.priorityDedup(bibRecords(s, dir), col("key"), col("priority"),
          col("doc_id"))
        .select(col("doc_id"), col("key"), col("source_type"), col("priority"))
        .orderBy("doc_id"),
      s"""WITH recs AS ($bibRecordsSql)
         |SELECT doc_id, key, source_type, priority FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY key ORDER BY priority DESC, doc_id ASC) AS rn
         |  FROM recs) WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // THE reference dedup edge case (main.py:121): rows with null/empty
    // keys are ALWAYS kept — exercised with synthesized null/empty keys
    // (the documents corpus has none), which is also the 100 TB skew
    // story: the hot null key is spread over the window by the tiebreak
    Query("q_dedup_priority_nullkeys", (s, dir) => {
      val recs = bibRecords(s, dir)
        .withColumn("key",
          when(col("doc_id") % 17 === 0, lit(null).cast("string"))
            .when(col("doc_id") % 13 === 0, lit(""))
            .otherwise(col("key")))
      Dedup.priorityDedup(recs, col("key"), col("priority"), col("doc_id"))
        .select(col("doc_id"), col("key"), col("priority"))
        .orderBy("doc_id")
    },
      s"""WITH recs AS ($bibRecordsSql),
         |keyed AS (
         |  SELECT doc_id, priority,
         |    CASE WHEN doc_id % 17 = 0 THEN NULL
         |         WHEN doc_id % 13 = 0 THEN ''
         |         ELSE key END AS key
         |  FROM recs)
         |SELECT doc_id, key, priority FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY key ORDER BY priority DESC, doc_id ASC) AS rn
         |  FROM keyed WHERE key IS NOT NULL AND key <> '') WHERE rn = 1
         |UNION ALL
         |SELECT doc_id, key, priority FROM keyed
         |WHERE key IS NULL OR key = ''
         |ORDER BY doc_id""".stripMargin),

    Query("q_dedup_exact", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      Dedup.exactDedup(docs.unionByName(dups), col("text"), col("doc_id"))
        .orderBy("fingerprint")
    },
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
         |SELECT md5($normTextSql) AS fingerprint,
         |  CAST(min(doc_id) AS BIGINT) AS survivor_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM all_docs GROUP BY fingerprint ORDER BY fingerprint""".stripMargin),

    // snapshot diff (build-over-build corpus delta): the "new" build is
    // derived deterministically from documents — every doc_id % 7 == 0
    // removed, % 5 == 0 edited, 50 fresh ids appended — so both engines
    // reconstruct the same two snapshots and the same delta
    Query("q_snapshot_diff", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val rebuilt = docs.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string"))
              .as("text")))
      Snapshot.diff(docs, rebuilt, "doc_id", Seq("text"))
        .where(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },
      // the Spark side compares md5 fingerprints (so only 32 hex chars
      // shuffle per row); the oracle compares raw text with IS DISTINCT
      // FROM — equivalent because the fingerprint is null-safe-injective
      // on the compared payload
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM docs WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR)
        |  FROM docs WHERE doc_id < 50),
        |d AS (
        |  SELECT coalesce(docs.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN docs.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN docs.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM docs FULL OUTER JOIN n ON docs.doc_id = n.doc_id)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin),

    // span-level exact dedup (RefinedWeb-style duplicated-span removal):
    // 3-word spans, first occurrence corpus-wide survives, documents
    // reassembled from their kept spans. chunkWords=3 over the 31-word
    // synthetic vocabulary makes cross-doc span collisions real.
    Query("q_dedup_spans", (s, dir) =>
      Dedup.spanDedup(Tables.documents(s, dir), col("doc_id"), col("text"),
          chunkWords = spansChunkWords)
        .orderBy("doc_id"),
      // first occurrence by (doc_id, span_idx), reassembly by span index;
      // empty results come back as '' (docs never vanish)
      s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS w
         |           FROM documents WHERE text IS NOT NULL),
         |${spanGridSql(spansChunkWords)},
         |ke AS (SELECT doc_id, span_idx, span, row_number() OVER (
         |         PARTITION BY span ORDER BY doc_id, span_idx) AS rn
         |       FROM sp),
         |rb AS (SELECT doc_id,
         |         string_agg(span, ' ' ORDER BY span_idx) AS text_deduped
         |       FROM ke WHERE rn = 1 GROUP BY doc_id)
         |SELECT doc.doc_id,
         |  coalesce(rb.text_deduped, '') AS text_deduped
         |FROM documents doc LEFT JOIN rb USING (doc_id)
         |ORDER BY doc.doc_id""".stripMargin),

    // boilerplate removal (Gopher/RefinedWeb cross-document rule): spans
    // present in >= 3 DISTINCT documents are template chrome and every
    // occurrence is dropped — the complement of q_dedup_spans, where the
    // first occurrence survives. At sf0.01 the 31-word vocabulary makes
    // ~9% of 3-word spans hot, so the gate removes real content without
    // emptying documents.
    Query("q_dedup_boilerplate", (s, dir) =>
      Dedup.boilerplateDedup(Tables.documents(s, dir), col("doc_id"),
          col("text"), chunkWords = spansChunkWords,
          minDocs = boilerplateMinDocs)
        .orderBy("doc_id"),
      boilerplateOracleSql()),

    // the incremental form: corpus span-counts persisted once, the
    // batch probed against summed corpus+batch document frequencies —
    // EXACT equivalence to the full recompute restricted to batch docs
    // (hotness is a symmetric count), which is what the oracle runs
    Query("q_dedup_boilerplate_probe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_boiler_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      Dedup.persistBoilerplateIndex(docs.where(col("doc_id") % 10 =!= 0),
        col("doc_id"), col("text"), idx, chunkWords = spansChunkWords,
        minDocs = boilerplateMinDocs)
      Dedup.probeBoilerplateIndex(docs.where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), idx, chunkWords = spansChunkWords,
          minDocs = boilerplateMinDocs)
        .orderBy("doc_id")
    },
      // full recompute over corpus ∪ batch, restricted to the batch docs —
      // the probe's exact-equivalence contract
      boilerplateOracleSql(docWhereSql = "doc.doc_id % 10 = 0")),

    // passage-level exact dedup (ExactSubstr-style): OVERLAPPING 6-word
    // windows at stride 1, so repeated runs are excised at arbitrary
    // word offsets — not just on the disjoint chunk grid q_dedup_spans
    // uses. First occurrence corpus-wide keeps its words.
    Query("q_dedup_passages", (s, dir) =>
      Dedup.passageDedup(Tables.documents(s, dir), col("doc_id"),
          col("text"), windowWords = passageWindowWords,
          strideWords = passageStrideWords)
        .orderBy("doc_id"),
      // overlapping-window first-occurrence ranking on the md5 of the
      // window text, duplicate windows expand to covered word positions,
      // covered positions are removed, documents reassembled from the
      // surviving positions
      s"""WITH ${passageWordsCte("d", "")},
         |${passageWindowsCte("wi", "dn", "SELECT doc_id, u.st AS st,")},
         |${passageTailSql("wi", "dn", "rn > 1", "")}""".stripMargin),

    // the INCREMENTAL passage shape: persist the corpus slice's window
    // hashes once, probe the batch slice against the artifact — batch
    // passages already in the corpus are excised without re-windowing
    // the corpus (oracle replays index build + probe in SQL)
    Query("q_dedup_passages_probe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_passage_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      Dedup.persistPassageIndex(docs.where(col("doc_id") % 10 =!= 0),
        col("doc_id"), col("text"), idx,
        passageWindowWords, passageStrideWords)
      Dedup.probePassageIndex(docs.where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), idx,
          passageWindowWords, passageStrideWords)
        .orderBy("doc_id")
    },
      // corpus windows (the persisted index) as a distinct-h set, batch
      // windows ranked within the batch, covered = corpus hit OR
      // within-batch re-quote (mirrors `Dedup.probePassageIndex`)
      s"""WITH ${passageWordsCte("b", "\n        AND doc_id % 10 = 0")},
         |${passageWindowsCte("bwi", "bn", "SELECT doc_id, u.st AS st,")},
         |${passageWordsCte("c", "\n        AND doc_id % 10 <> 0")},
         |${passageWindowsCte("cw", "cn", "SELECT DISTINCT")},
         |${passageTailSql("bwi", "bn", "rn > 1 OR h IN (SELECT h FROM cw)",
              "WHERE doc.doc_id % 10 = 0\n")}""".stripMargin),

    Query("q_dedup_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"),
          threshold = 0.6)
        .orderBy("id_a", "id_b"),
      jaccardOracleSql),

    // containment (|A∩B|/min) — the subset-duplication detector; same
    // inverted-index plan, different score
    Query("q_dedup_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), threshold = 0.6)
        .orderBy("id_a", "id_b"),
      s"""$shinglesSql
         |SELECT id_a, id_b, containment FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |           least(len(a.s), len(b.s)) AS containment
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE containment >= 0.6
         |ORDER BY id_a, id_b""".stripMargin),

    // benchmark decontamination: overlap of every non-benchmark doc's
    // shingles against the (deterministic doc_id % 20 == 0) benchmark
    // slice — the pre-training contamination check
    Query("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
      val corpus = docs.where(col("doc_id") % 20 =!= 0)
      Dedup.contaminationScores(corpus, col("doc_id"), col("text"),
          bench, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_sh"), col("n_matched"),
          col("contamination"))
        .orderBy("doc_id")
    },
      contaminationSql(
        "CAST(coalesce(m.n_matched, 0) AS DOUBLE) / d.n_sh AS contamination")),

    // the Bloom-filter scale path for the same contamination check,
    // gated through the hash oracle via its CONTRACT: a Bloom filter
    // cannot false-negative, so per document bloom n_matched >= exact
    // n_matched must hold ALWAYS — the query runs both paths and emits
    // the exact counts plus the superset boolean; any false negative
    // (or a doc the bloom path drops) hash-mismatches the all-true
    // oracle column. FP behavior is engine-specific by nature and
    // deliberately not hashed (the spec bounds it instead).
    Query("q_decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
      val corpus = docs.where(col("doc_id") % 20 =!= 0)
      val exact = Dedup.contaminationScores(corpus, col("doc_id"),
        col("text"), bench, col("doc_id"), col("text"))
      val bloom = Dedup.contaminationScoresBloom(corpus, col("doc_id"),
        col("text"), bench, col("doc_id"), col("text"))
      exact.select(col("id"), col("n_sh"), col("n_matched"))
        .join(bloom.select(col("id"), col("n_matched").as("nm_bloom")),
          Seq("id"))
        .select(col("id").as("doc_id"), col("n_sh"), col("n_matched"),
          (col("nm_bloom") >= col("n_matched")).as("bloom_superset"))
        .orderBy("doc_id")
    },
      // the exact chain again + TRUE for the contract column: the engine
      // side computes bloom_superset from the real Bloom probe, and a
      // false negative anywhere breaks the hash
      contaminationSql("true AS bloom_superset")),

    // SPAN-LEVEL decontamination: remove exactly the grid spans that
    // equal ANY stride-1 benchmark window (leaks caught at arbitrary
    // word offsets), keep the rest of the document — at sf0.01 /
    // chunkWords=6 the gate removes 69 of 4,484 corpus spans, so the
    // hash pins surgical removal + reassembly, not a no-op
    Query("q_decontaminate_spans", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateSpans(docs.where(col("doc_id") % 20 =!= 0),
          col("doc_id"), col("text"),
          docs.where(col("doc_id") % 20 === 0), col("text"),
          chunkWords = decontamSpanWords)
        .orderBy("doc_id")
    },
      // the boilerplate grid/reassembly SQL with the hot-span set replaced
      // by the benchmark's stride-1 window set (truncated tails included
      // via DuckDB's clamped list slice)
      s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS w
         |           FROM documents
         |           WHERE text IS NOT NULL AND doc_id IS NOT NULL
         |             AND doc_id % 20 <> 0),
         |${spanGridSql(decontamSpanWords)},
         |b AS (SELECT string_split($normTextSql, ' ') AS w
         |      FROM documents
         |      WHERE text IS NOT NULL AND doc_id % 20 = 0),
         |bw AS (SELECT DISTINCT
         |         array_to_string(w[(u.i+1):(u.i+$decontamSpanWords)], ' ') AS span
         |       FROM b, unnest(range(0, len(w))) AS u(i)),
         |${removeSpansSql("bw", "text_decontaminated")}
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) doc
         |LEFT JOIN rb USING (doc_id)
         |ORDER BY doc.doc_id""".stripMargin),

    // SEMANTIC decontamination: the embedding-side mirror of
    // q_decontaminate — catches paraphrased leakage sharing no n-grams
    // with the benchmark. Benchmark = vec_id % 20 == 0 (broadcast build
    // side), corpus streams; every corpus row is emitted so clean rows
    // (n_matched = 0) stay observable.
    Query("q_decontaminate_semantic", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticContaminationScores(
          emb.where(col("vec_id") % 20 =!= 0),
          emb.where(col("vec_id") % 20 === 0), threshold = 0.30)
        .orderBy("vec_id")
    },
      // semantic decontamination: cross cosine of every well-formed
      // corpus embedding against the benchmark slice, count + max over
      // matches, every corpus row kept via the left join (max is
      // order-independent over bit-identical cos values, so max_cos
      // itself hash-matches)
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE vec_id % 20 <> 0),
        |b AS (SELECT embedding FROM embeddings
        |      WHERE vec_id % 20 = 0 AND $wellFormedSql),
        |cw AS (SELECT vec_id, embedding FROM c WHERE $wellFormedSql),
        |s AS (SELECT cw.vec_id, ${cosSql("cw.embedding", "b.embedding")} AS cos
        |      FROM cw, b),
        |m AS (SELECT vec_id, count(*) AS n_matched, max(cos) AS max_cos
        |      FROM s WHERE cos >= 0.3 GROUP BY 1)
        |SELECT c.vec_id, CAST(coalesce(m.n_matched, 0) AS BIGINT)
        |    AS n_matched, m.max_cos
        |FROM c LEFT JOIN m USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin),

    Query("q_dedup_minhash", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), threshold = 0.6, k = 128, bands = 32)
        .orderBy("id_a", "id_b"),
      jaccardOracleSql),

    // incremental ingestion dedup: the (deterministic doc_id % 10 == 0)
    // "new batch" probes the existing corpus through broadcast band/
    // shingle joins — the corpus never self-joins, so the cost scales
    // with the batch, not |corpus|². Runs the PRODUCTION two-phase shape:
    // persistIndex writes the corpus band/shingle artifacts (the
    // ingest-time cost, idempotent overwrite), probePersistedIndex reads
    // them back — the probe plan scans index parquet, not corpus text
    Query("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_corpus_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      Dedup.persistIndex(docs.where(col("doc_id") % 10 =!= 0),
        col("doc_id"), col("text"), idx, k = 128, bands = 32)
      Dedup.probePersistedIndex(docs.where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), idx, threshold = 0.6,
          k = 128, bands = 32)
        .orderBy("batch_id", "corpus_id")
    },
      s"""$shinglesSql
         |SELECT batch_id, corpus_id, jaccard FROM (
         |  SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
         |         $jaccardSql AS jaccard
         |  FROM sh a JOIN sh b
         |    ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |WHERE jaccard >= 0.6
         |ORDER BY batch_id, corpus_id""".stripMargin),

    Query("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), col("doc_id"), col("text"),
          threshold = 0.6)
        .orderBy("id_a", "id_b"),
      jaccardOracleSql),

    // pairs -> DECISIONS: the end-to-end near-dup dedup (detect with the
    // 100 TB default detector, cluster the pair graph, keep min-id
    // survivor per component). Oracle = DuckDB recursive-CTE transitive
    // closure over the brute-force pair set.
    Query("q_dedup_cluster", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        threshold = 0.6, k = 128, bands = 32)
      Dedup.nearDupSurvivors(docs, col("doc_id"), pairs)
        .orderBy("doc_id")
    },
      clusterOracleSql),

    // same decisions through the O(log²)-round large-star/small-star
    // clustering (the high-diameter 100 TB path) — identical oracle. The
    // detector here is exact inverted-index jaccard (vs q_dedup_cluster's
    // minhash), so the two cluster queries also cross-cover both
    // detector→cluster compositions
    Query("q_dedup_cluster_star", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        threshold = 0.6)
      Dedup.nearDupSurvivors(docs, col("doc_id"), pairs,
          cc = Dedup.connectedComponentsStar(_))
        .orderBy("doc_id")
    },
      clusterOracleSql),

    // the training-data flagship: quality/lang gate -> near-dup SURVIVOR
    // selection (minhash detect -> components -> keep min id) -> PII
    // redaction -> deterministic md5-prefix sampling. Every stage is the
    // oracle-checked operator from its own query; this pins that they
    // COMPOSE (the population each stage sees is defined by the previous
    // one).
    Query("q_pipeline_pretrain", (s, dir) => {
      val gated = Tables.documents(s, dir)
        .where(col("lang").isin("en", "fr", "de") && col("n_chars") >= 50)
      val pairs = Dedup.minhashLshPairs(gated, col("doc_id"), col("text"),
        threshold = 0.6, k = 128, bands = 32)
      val survivors = Dedup.nearDupSurvivors(gated, col("doc_id"), pairs)
        .where(col("survivor_id") === col("doc_id"))
      gated.join(survivors.select("doc_id"), Seq("doc_id"))
        .where(instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) <= 8)
        .select(col("doc_id"), col("lang"),
          md5(graft.functions.TextAnalysis.redactPii(col("text")))
            .as("content_hash"))
        .orderBy("doc_id")
    },
      s"""${closureCtesSql(
             """SELECT * FROM documents
               |  WHERE lang IN ('en', 'fr', 'de') AND n_chars >= 50""".stripMargin)}
        |SELECT d.doc_id, d.lang,
        |  md5(regexp_replace(regexp_replace(regexp_replace(d.text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        |      '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g')) AS content_hash
        |FROM base d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |WHERE $survivorSql = d.doc_id
        |  AND instr('0123456789abcdef',
        |        substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) <= 8
        |ORDER BY d.doc_id""".stripMargin)
  )
}
