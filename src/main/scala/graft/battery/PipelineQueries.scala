package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec.materialize
import graft.functions.Normalize
import graft.operators.{Dedup, Enrich, Importance, Mixture, Pack, Perplexity, PromptTemplates, Shard}
import graft.sources.BibSources
import graft.SparkEntry.{Query, fixturesDir, normTextSql, hexPrefixSql}

/** Training-data pipeline: mixtures, shuffles, weighted sampling,
  * perplexity and importance selection, packing, enrichment and LLM
  * extraction. */
private[graft] object PipelineQueries {

  /** The UniMax quota fold as a recursive CTE, shared by the quota and
    * sample oracles: `o` numbers domains ascending by (n_docs, domain)
    * — the operator's exact processing order — and `r` threads the
    * remaining budget through `quota_i = least(maxEpochs·c_i,
    * rem // n_remaining)`. Budget 400, maxEpochs 1, domain = lang. */
  private def uniMaxCtes: String =
    """WITH RECURSIVE c AS (SELECT lang AS domain, count(*) AS n_docs
      |           FROM documents GROUP BY 1),
      |o AS (SELECT domain, n_docs,
      |        row_number() OVER (ORDER BY n_docs, domain) AS i,
      |        count(*) OVER () AS nd
      |      FROM c),
      |r AS (
      |  SELECT CAST(0 AS BIGINT) AS i, CAST(400 AS BIGINT) AS rem,
      |         CAST(NULL AS VARCHAR) AS domain,
      |         CAST(NULL AS BIGINT) AS n_docs,
      |         CAST(NULL AS BIGINT) AS quota
      |  UNION ALL
      |  SELECT o.i, r.rem - least(o.n_docs, r.rem // (o.nd - o.i + 1)),
      |         o.domain, o.n_docs,
      |         least(o.n_docs, r.rem // (o.nd - o.i + 1))
      |  FROM r JOIN o ON o.i = r.i + 1)""".stripMargin

  /** The add-one bigram scoring under the src0 model (the oracle
    * mirror of `Perplexity.perplexityScores`): every document's bigram
    * stream `d`, the model, and per doc `n_bigrams` and `logprob` in the
    * CTE named `lw` (its per-bigram terms in `x`). */
  private def perplexityScoreCtes(x: String, lw: String): String =
    s"""nrm AS (SELECT doc_id, source, $normTextSql AS t
       |             FROM documents),
       |w AS (SELECT doc_id, source, string_split(t, ' ') AS ws FROM nrm),
       |d AS (SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2 FROM (
       |        SELECT doc_id, source,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
       |        FROM w WHERE len(ws) >= 2)),
       |rc AS (SELECT w1, w2, count(*) AS c_big FROM d
       |       WHERE source = 'src0' GROUP BY 1, 2),
       |m AS (SELECT w1, w2, c_big,
       |        sum(c_big) OVER (PARTITION BY w1) AS c_ctx FROM rc),
       |v AS (SELECT count(DISTINCT w2) + 1 AS v FROM rc),
       |cc AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM d
       |       GROUP BY 1, 2, 3),
       |mc AS (SELECT w1, sum(c_big) AS c_ctx FROM rc GROUP BY w1),
       |$x AS (SELECT cc.doc_id, cc.w1, cc.w2, cc.cnt,
       |        cc.cnt * ln(CAST(coalesce(m.c_big, 0) + 1 AS DOUBLE)
       |          / CAST(coalesce(mc.c_ctx, 0) + v.v AS DOUBLE)) AS x
       |      FROM cc LEFT JOIN m USING (w1, w2)
       |        LEFT JOIN mc USING (w1), v),
       |$lw AS (SELECT doc_id, sum(cnt) AS n_bigrams,
       |         list_sum(list(x ORDER BY w1, w2)) AS logprob
       |       FROM $x GROUP BY 1)""".stripMargin

  /** DSIR over the (doc_id, source, h = md5(gram)) CTE `hb$sfx`: per-bucket
    * smoothed LLR weights via sum windows (the engine's single-pass
    * shape), Gumbel keys from the md5 draw, the top `quota` kept in
    * `sel$sfx` (doc_id, n_grams). */
  private def dsirCtes(sfx: String, quota: Int): String =
    s"""c$sfx AS (SELECT doc_id, source,
       |        CAST((${hexPrefixSql("h", 4)}) % 4096 AS INTEGER) AS bucket,
       |        count(*) AS cnt
       |      FROM hb$sfx GROUP BY 1, 2, 3),
       |m$sfx AS (SELECT doc_id, bucket, cnt,
       |        sum(cnt) OVER (PARTITION BY bucket) AS raw_n,
       |        sum(CASE WHEN source = 'src0' THEN cnt ELSE 0 END)
       |          OVER (PARTITION BY bucket) AS tgt_n,
       |        sum(cnt) OVER () AS raw_t,
       |        sum(CASE WHEN source = 'src0' THEN cnt ELSE 0 END)
       |          OVER () AS tgt_t
       |      FROM c$sfx),
       |x$sfx AS (SELECT doc_id, bucket, cnt,
       |        cnt * (ln(CAST(tgt_n + 1 AS DOUBLE)
       |                  / CAST(tgt_t + 4096 AS DOUBLE))
       |             - ln(CAST(raw_n + 1 AS DOUBLE)
       |                  / CAST(raw_t + 4096 AS DOUBLE))) AS x
       |      FROM m$sfx),
       |lw$sfx AS (SELECT doc_id, sum(cnt) AS n_grams,
       |         list_sum(list(x ORDER BY bucket)) AS logw
       |       FROM x$sfx GROUP BY 1),
       |sk$sfx AS (SELECT doc_id, n_grams, logw,
       |         md5('dsir:' || CAST(doc_id AS VARCHAR)) AS h FROM lw$sfx),
       |sel$sfx AS (SELECT doc_id, n_grams,
       |          logw / 1.0 - ln(-ln(((${hexPrefixSql("h", 8)}) + 1)
       |            / 4294967297.0)) AS skey
       |        FROM sk$sfx ORDER BY skey DESC, doc_id LIMIT $quota)""".stripMargin

  /** The DuckDB CTE chain ending in `pb` (doc_id, lang, bucket) — the
    * oracle mirror of `perplexityBucketsFrame`, shared by the buckets
    * and curriculum oracles. */
  private val perplexityBucketsCtes =
    s"""${perplexityScoreCtes("x", "lw")},
       |bkt AS (SELECT lw.doc_id, doc.lang,
       |        ntile(3) OVER (PARTITION BY doc.lang
       |          ORDER BY exp(-lw.logprob / lw.n_bigrams) ASC,
       |            lw.doc_id ASC) AS nt
       |      FROM lw JOIN documents doc USING (doc_id)),
       |pb AS (SELECT doc_id, lang,
       |        CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |          ELSE 'tail' END AS bucket
       |      FROM bkt)""".stripMargin

  /** The CCNet head/middle/tail frame shared by q_perplexity_buckets
    * and q_train_curriculum: per-language perplexity terciles under the
    * src0 reference model, (doc_id, lang, bucket). The tercile cut is
    * `Shard.scalableNtileByGroup` — a real pretraining corpus is
    * majority ONE language, so the window form
    * `ntile(3).over(partitionBy(lang).orderBy(ppl))` funnels a
    * corpus-scale frame through a single task; the grouped two-phase
    * cut spreads the hot language over `buckets` tasks with
    * bit-identical tile numbers. The scored frame is materialized
    * first so the cut's three passes hit a doc-dimension checkpoint,
    * not three re-runs of the bigram scoring. */
  private def perplexityBucketsFrame(s: SparkSession,
                                     dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val scored = materialize(
      Perplexity.perplexityScores(d, col("doc_id"), col("text"),
          col("source") === "src0")
        .join(d.select("doc_id", "lang"), Seq("doc_id")))
    Shard.scalableNtileByGroup(scored, 3, col("lang"), col("ppl"),
        col("doc_id"), "nt")
      .select(col("doc_id"), col("lang"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  def entries: Seq[Query] = Seq(
    // training-data mixture: per-source deterministic sampling rates via
    // md5-prefix ranges (1/16, 2/16, 4/16, 8/16 by source class) — the
    // reproducible "data mixture" op, no RNG state, engine-portable
    Query("q_train_mixture", (s, dir) => {
      val cls = regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 4
      val threshold = element_at(array(lit(1), lit(2), lit(4), lit(8)), cls + 1)
      Tables.documents(s, dir)
        .where(instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) <= threshold)
        .select(col("doc_id"), col("source"), (cls).as("mix_class"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, source,
        |  CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4 AS mix_class
        |FROM documents
        |WHERE instr('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |      <= [1, 2, 4, 8][(CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4) + 1]
        |ORDER BY doc_id""".stripMargin),

    // deterministic corpus shuffle + shard: the "shuffle then cut into
    // training files" stage — seed-keyed md5 permutation, shard = 4-hex-
    // digit draw mod nShards (ONE hash exchange), pos = per-shard window
    // sort; never a global orderBy. Epoch reshuffle = new seed string.
    Query("q_train_shuffle", (s, dir) =>
      Shard.trainingOrder(Tables.documents(s, dir), seed = "epoch0",
          nShards = 8)
        .orderBy("shard", "pos"),
      // hex prefix expanded base-16 per char with instr (the engine's
      // conv(substr(h,1,4),16,10)); shard mod + per-shard rank mirror
      // Shard.trainingOrder
      """WITH k AS (SELECT doc_id,
        |    md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, h,
        |    CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |        + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |        + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |        + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 8
        |      AS INTEGER) AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS INTEGER) AS pos
        |FROM sh ORDER BY shard, pos""".stripMargin),

    // stratified QUOTA sampling: at most 50 docs per lang stratum, chosen
    // by deterministic md5 order (content-derived, partition-layout-free).
    // Complements q_train_mixture's RATE sampling: quotas cap dominant
    // strata instead of scaling them. Scale: rn <= k over a window gets
    // WindowGroupLimit partial top-k per partition BEFORE the stratum
    // shuffle, so a dominant stratum ships k rows per input partition,
    // not its whole population
    Query("q_sample_stratified", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 50)
        .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY doc_id""".stripMargin),

    // systematic PPS weighted sampling: exactly 200 draws (with
    // multiplicity), expected draws per doc exactly 200·w/W — the
    // quality-weighted selection cut. ALL-INTEGER grid arithmetic
    // (no pow/exp keys), so the draw is engine-bit-identical by
    // construction; weight = n_chars as the stand-in quality score
    Query("q_sample_weighted", (s, dir) =>
      Shard.systematicPps(Tables.documents(s, dir), n = 200,
          weight = greatest(col("n_chars"), lit(1L)), seed = "pps0")
        .orderBy("doc_id"),
      // same seeded-hash line layout, same integer grid INCLUDING the
      // seed-derived Madow random start (md5(seed) mod W + 1); the
      // global window here is the oracle's shortcut — the engine runs
      // the bucketed two-phase prefix sum, and equal cum values make the
      // draws identical
      """WITH src AS (SELECT doc_id,
        |               CAST(greatest(n_chars, 1) AS BIGINT) AS w,
        |               md5('pps0:' || CAST(doc_id AS VARCHAR)) AS k
        |             FROM documents),
        |c AS (SELECT doc_id, w,
        |        sum(w) OVER (ORDER BY k, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        sum(w) OVER () AS wtot
        |      FROM src),
        |s AS (SELECT doc_id, w, cum, wtot,
        |        CAST(('0x' || substr(md5('pps0'), 1, 15))::UBIGINT
        |          AS HUGEINT) % wtot + 1 AS strt
        |      FROM c)
        |SELECT doc_id, w,
        |  CAST((cum * 200 - strt + wtot) // wtot
        |    - ((cum - w) * 200 - strt + wtot) // wtot AS BIGINT) AS mult
        |FROM s
        |WHERE (cum * 200 - strt + wtot) // wtot
        |  - ((cum - w) * 200 - strt + wtot) // wtot >= 1
        |ORDER BY doc_id""".stripMargin),

    // per-source weighted quotas — "n_g docs from each source, weighted
    // by quality": the Madow grid instantiated group-locally (quota,
    // total weight, and random start all columns), one group-keyed
    // window exchange, zero driver state
    Query("q_sample_weighted_grouped", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.select(col("source")).distinct()
        .select(col("source"), (lit(5) + length(col("source")) % 6)
          .as("n"))
      Shard.systematicPpsByGroup(docs, quotas,
          greatest(col("n_chars"), lit(1L)), seed = "pps0")
        .orderBy("doc_id")
    },
      // group-local grids: same construction with per-source quota,
      // total, and start columns
      """WITH src AS (SELECT doc_id, source,
        |               CAST(greatest(n_chars, 1) AS BIGINT) AS w,
        |               md5('pps0:' || CAST(doc_id AS VARCHAR)) AS k
        |             FROM documents),
        |q AS (SELECT source, CAST(5 + length(source) % 6 AS BIGINT) AS n
        |      FROM (SELECT DISTINCT source FROM documents)),
        |c AS (SELECT s.doc_id, s.source, s.w, q.n,
        |        sum(s.w) OVER (PARTITION BY s.source
        |          ORDER BY s.k, s.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        sum(s.w) OVER (PARTITION BY s.source) AS wt
        |      FROM src s JOIN q USING (source)),
        |g AS (SELECT doc_id, source, w, n, cum, wt,
        |        CAST(('0x' || substr(md5('pps0:' || source), 1, 15))
        |          ::UBIGINT AS HUGEINT) % wt + 1 AS strt
        |      FROM c)
        |SELECT doc_id, source, w,
        |  CAST((cum * n - strt + wt) // wt
        |    - ((cum - w) * n - strt + wt) // wt AS BIGINT) AS mult
        |FROM g
        |WHERE (cum * n - strt + wt) // wt
        |  - ((cum - w) * n - strt + wt) // wt >= 1
        |ORDER BY doc_id""".stripMargin),

    // DSIR hashed-bigram feature frame (integer-exact: pins the md5
    // bucket draw and the gram multiset on a bounded doc slice)
    Query("q_importance_features", (s, dir) =>
      Importance.hashedNgramCounts(
          Tables.documents(s, dir).where(col("doc_id") < 200),
          col("doc_id"), col("text"))
        .orderBy("doc_id", "bucket"),
      // DSIR hashed-bigram features: md5-hex-prefix bucket draw, integer
      // counts — exact on any engine
      s"""WITH nrm AS (SELECT doc_id, $normTextSql AS t FROM documents
         |             WHERE doc_id < 200),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nrm),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |        i -> ws[i] || ' ' || ws[i+1])) AS gram
         |      FROM w WHERE len(ws) >= 2),
         |hb AS (SELECT doc_id, md5(gram) AS h FROM g)
         |SELECT doc_id,
         |  CAST((${hexPrefixSql("h", 4)}) % 4096 AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM hb GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),

    // temperature mixture (p_d ∝ c_d^0.5): quotas DERIVED from domain
    // counts — sqrt is IEEE-correctly-rounded on every engine, so the
    // weight and quota columns hash-match exactly
    Query("q_mixture_quotas", (s, dir) =>
      Mixture.temperatureQuotas(Tables.documents(s, dir), col("source"),
          budget = 3000)
        .orderBy("domain"),
      // temperature-mixture quotas: sqrt weights (correctly rounded per
      // IEEE on both engines), domain-ordered fold for the total, floor
      // to integer quotas — every column hash-exact
      """WITH c AS (SELECT source AS domain, count(*) AS n_docs
        |           FROM documents GROUP BY 1),
        |w AS (SELECT domain, n_docs,
        |        sqrt(CAST(n_docs AS DOUBLE)) AS w FROM c),
        |t AS (SELECT list_sum(list(w ORDER BY domain)) AS tw FROM w)
        |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, w,
        |  CAST(floor(3000 * w / tw) AS BIGINT) AS quota
        |FROM w, t ORDER BY domain""".stripMargin),

    Query("q_mixture_sample", (s, dir) =>
      Mixture.temperatureSample(Tables.documents(s, dir), col("doc_id"),
          col("source"), budget = 300)
        .orderBy("doc_id"),
      """WITH c AS (SELECT source AS domain, count(*) AS n_docs
        |           FROM documents GROUP BY 1),
        |w AS (SELECT domain, n_docs,
        |        sqrt(CAST(n_docs AS DOUBLE)) AS w FROM c),
        |t AS (SELECT list_sum(list(w ORDER BY domain)) AS tw FROM w),
        |q AS (SELECT domain,
        |        CAST(floor(300 * w / tw) AS BIGINT) AS quota FROM w, t),
        |r AS (SELECT doc_id, source AS domain, row_number() OVER (
        |        PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.domain, CAST(r.rk AS INTEGER) AS rk
        |FROM r JOIN q USING (domain) WHERE r.rk <= q.quota
        |ORDER BY doc_id""".stripMargin),

    // UniMax (budget-capped) mixture over the SKEWED lang column:
    // ascending-size processing, min(c_d, rem/n_rem) integer fold —
    // at budget 400 the four tail languages keep all their data (cap
    // binds) and en absorbs the reclaimed budget (fair-share binds),
    // so both branches are under the hash. Oracle replays the fold as
    // a recursive CTE.
    Query("q_mixture_unimax", (s, dir) =>
      Mixture.uniMaxQuotas(Tables.documents(s, dir), col("lang"),
          budget = 400)
        .orderBy("domain"),
      // UniMax: the ascending-size sequential fold replayed as a
      // recursive CTE — rem carries across domains, quota = least(cap,
      // floor-division fair share), all integer arithmetic
      s"""$uniMaxCtes
         |SELECT domain, n_docs, quota FROM r WHERE i > 0
         |ORDER BY domain""".stripMargin),

    Query("q_mixture_unimax_sample", (s, dir) =>
      Mixture.uniMaxSample(Tables.documents(s, dir), col("doc_id"),
          col("lang"), budget = 400)
        .orderBy("doc_id"),
      s"""$uniMaxCtes,
         |rk AS (SELECT doc_id, lang AS domain, row_number() OVER (
         |         PARTITION BY lang
         |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |       FROM documents)
         |SELECT rk.doc_id, rk.domain, CAST(rk.rk AS INTEGER) AS rk
         |FROM rk JOIN (SELECT domain, quota FROM r WHERE i > 0) q
         |  USING (domain)
         |WHERE rk.rk <= q.quota
         |ORDER BY doc_id""".stripMargin),

    // CCNet-style bigram LM: the reference-slice model counts are
    // integer-exact — the oracle pins them directly
    Query("q_perplexity_model", (s, dir) =>
      Perplexity.bigramModel(Tables.documents(s, dir), col("doc_id"),
          col("text"), col("source") === "src0")
        .orderBy(col("c_big").desc, col("w1"), col("w2"))
        .limit(100),
      // bigram LM model table: raw strings + integer counts, context
      // totals as a sum window over the bigram counts — exact on any
      // engine
      s"""WITH nrm AS (SELECT doc_id, $normTextSql AS t FROM documents
         |             WHERE source = 'src0'),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nrm),
         |d AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
         |        SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |          i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
         |        FROM w WHERE len(ws) >= 2)),
         |c AS (SELECT w1, w2, count(*) AS c_big FROM d GROUP BY 1, 2),
         |m AS (SELECT w1, w2, c_big,
         |        sum(c_big) OVER (PARTITION BY w1) AS c_ctx FROM c)
         |SELECT w1, w2, CAST(c_big AS BIGINT) AS c_big,
         |  CAST(c_ctx AS BIGINT) AS c_ctx
         |FROM m ORDER BY c_big DESC, w1, w2 LIMIT 100""".stripMargin),

    // CCNet-style perplexity gate: keep the 250 most reference-like
    // docs; membership + integer features hashed (ln/exp ride libm —
    // see Perplexity scaladoc)
    Query("q_perplexity_gate", (s, dir) => {
      val d = Tables.documents(s, dir)
      Perplexity.perplexityGate(d, col("doc_id"), col("text"),
          col("source") === "src0", quota = 250)
        .join(d.select("doc_id", "lang", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_bigrams"))
        .orderBy("doc_id")
    },
      // perplexity gate: add-one bigram scores under the src0 model,
      // lowest-ppl quota; membership + integer counts hashed only
      s"""WITH ${perplexityScoreCtes("x", "lw")},
         |sel AS (SELECT doc_id, n_bigrams,
         |          exp(-logprob / n_bigrams) AS ppl
         |        FROM lw ORDER BY ppl ASC, doc_id ASC LIMIT 250)
         |SELECT doc.doc_id, doc.lang, doc.source,
         |  CAST(sel.n_bigrams AS BIGINT) AS n_bigrams
         |FROM sel JOIN documents doc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // CCNet head/middle/tail: per-language perplexity terciles under
    // the src0 reference model — the bucket a production pipeline
    // mixes by (head = most reference-like). ntile over the ppl
    // ordering (doc_id tiebreak), membership-only output like the gate.
    Query("q_perplexity_buckets", (s, dir) =>
      perplexityBucketsFrame(s, dir).orderBy("doc_id"),
      // the gate's scoring chain with an ntile tercile instead of the
      // quota cut; both engines use standard SQL ntile (first count%3
      // groups take the extra row)
      s"""WITH $perplexityBucketsCtes
         |SELECT doc_id, lang, bucket
         |FROM pb ORDER BY doc_id""".stripMargin),

    // curriculum-ordered training shards: the CCNet buckets become the
    // within-shard PHASE (every shard streams head, then middle, then
    // tail, shuffled inside each phase by the seeded hash) — curriculum
    // consumption with NO global sort, composed from two oracle-checked
    // stages
    Query("q_train_curriculum", (s, dir) => {
      val b = perplexityBucketsFrame(s, dir)
        .withColumn("phase",
          when(col("bucket") === "head", 1)
            .when(col("bucket") === "middle", 2).otherwise(3))
      Shard.curriculumOrder(b, col("phase"), seed = "epoch0", nShards = 8)
        .orderBy("shard", "pos")
    },
      // buckets become the within-shard phase: shard = the epoch0 hash
      // draw of q_train_shuffle, pos = row_number over (phase, h, id)
      s"""WITH $perplexityBucketsCtes,
         |k AS (SELECT doc_id,
         |    md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |sh AS (SELECT doc_id, h,
         |    CAST((${hexPrefixSql("h", 4)}) % 8 AS INTEGER) AS shard
         |  FROM k),
         |cu AS (SELECT sh.doc_id, sh.h, sh.shard,
         |    CASE pb.bucket WHEN 'head' THEN 1 WHEN 'middle' THEN 2
         |      ELSE 3 END AS phase
         |  FROM sh JOIN pb USING (doc_id))
         |SELECT doc_id, shard, CAST(phase AS INTEGER) AS phase,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY phase, h, doc_id) AS INTEGER) AS pos
         |FROM cu ORDER BY shard, pos""".stripMargin),

    // DSIR importance resampling toward the src0 slice: the oracle
    // hashes selected MEMBERSHIP + integer features only (the
    // log-weights ride libm ln — see Importance scaladoc)
    Query("q_importance_resample", (s, dir) => {
      val d = Tables.documents(s, dir)
      Importance.importanceResample(d, col("doc_id"), col("text"),
          col("source") === "src0", quota = 300)
        .join(d.select("doc_id", "lang", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_grams"))
        .orderBy("doc_id")
    },
      // DSIR importance resample: per-bucket smoothed LLR model via sum
      // windows (mirroring the engine's single-pass shape), Gumbel keys
      // from the md5 draw; output is selected membership + integer
      // features only — ln() is libm, not bit-portable, so the DOUBLE
      // scores stay out of the hashed columns
      s"""WITH nrm AS (SELECT doc_id, source, $normTextSql AS t
         |             FROM documents),
         |w AS (SELECT doc_id, source, string_split(t, ' ') AS ws FROM nrm),
         |g AS (SELECT doc_id, source,
         |        unnest(list_transform(range(1, len(ws)),
         |          i -> ws[i] || ' ' || ws[i+1])) AS gram
         |      FROM w WHERE len(ws) >= 2),
         |hb AS (SELECT doc_id, source, md5(gram) AS h FROM g),
         |${dsirCtes("", 300)}
         |SELECT d.doc_id, d.lang, d.source,
         |  CAST(sel.n_grams AS BIGINT) AS n_grams
         |FROM sel JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin),

    // the round-9 selection stages COMPOSED: CCNet gate first (the 400
    // most reference-like docs), then DSIR resampling whose RAW
    // distribution is fit to the GATED population (the target stays the
    // src0 slice of it) — pinning that each stage defines the
    // population the next one models, exactly like q_pipeline_pretrain
    // does for the dedup family
    Query("q_pipeline_selection", (s, dir) => {
      val d = Tables.documents(s, dir)
      val gated = Perplexity.perplexityGate(d, col("doc_id"),
          col("text"), col("source") === "src0", quota = 400)
        .select("doc_id")
      val pop = d.join(gated, Seq("doc_id"))
      Importance.importanceResample(pop, col("doc_id"), col("text"),
          col("source") === "src0", quota = 150)
        .join(d.select("doc_id", "lang", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_grams"))
        .orderBy("doc_id")
    },
      // the composed selection pipeline: the perplexity chain selects the
      // gated 400, then the WHOLE importance chain re-runs with its
      // distributions fit to that population (bigram stream d reused —
      // the DSIR gram "w1 w2" IS the bigram pair joined on a space)
      s"""WITH ${perplexityScoreCtes("px", "plw")},
         |gsel AS (SELECT doc_id FROM (
         |           SELECT doc_id, exp(-logprob / n_bigrams) AS ppl
         |           FROM plw ORDER BY ppl ASC, doc_id ASC LIMIT 400)
         |         AS tsub),
         |g2 AS (SELECT d.doc_id, d.source, d.w1 || ' ' || d.w2 AS gram
         |       FROM d JOIN gsel USING (doc_id)),
         |hb2 AS (SELECT doc_id, source, md5(gram) AS h FROM g2),
         |${dsirCtes("2", 150)}
         |SELECT doc.doc_id, doc.lang, doc.source,
         |  CAST(sel2.n_grams AS BIGINT) AS n_grams
         |FROM sel2 JOIN documents doc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // sequence packing (concat-and-chunk): deterministic md5 order and
    // doc_id-mod bucketing so DuckDB replays the exact layout; the
    // production default is xxhash64 on both (operator parameters)
    Query("q_pack_sequences", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ntok = when(col("text").isNull || trim(col("text")) === "",
        lit(0L)).otherwise(
        size(filter(split(trim(col("text")), "\\s+"),
          t => t =!= "")).cast("long"))
      Pack.concatChunk(docs, col("doc_id"), ntok, budget = 512L,
          buckets = 8,
          bucketExpr = Some(col("doc_id") % 8),
          orderExpr = Some(md5(col("doc_id").cast("string"))))
        .orderBy("doc_id")
    },
      // concat-and-chunk packing: md5 concatenation order + mod bucketing
      // (both engine-portable), integer div/mod on the running sum
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(list_filter(
        |           regexp_split_to_array(trim(text), '\s+'),
        |           x -> x <> '')) END AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS bucket,
        |        CAST(n_tokens AS BIGINT) AS n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY doc_id % 8
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |          - n_tokens AS cum_before
        |      FROM t)
        |SELECT doc_id, bucket, n_tokens,
        |  CAST(cum_before // 512 AS BIGINT) AS seq,
        |  CAST(cum_before % 512 AS BIGINT) AS offset
        |FROM o ORDER BY doc_id""".stripMargin),

    // -- external-op pipelines with deterministic stubs (X1, X2+F16) ----------------
    Query("q_enrich_metrics", (s, dir) =>
      Enrich.journalMetrics(Tables.documents(s, dir), "lang",
          Enrich.StubMetricsClient)
        .select(col("journal_norm"), col("impact_factor"), col("quartile"))
        .distinct()
        .orderBy("journal_norm"),
      """SELECT DISTINCT lower(trim(lang)) AS journal_norm,
        |  (length(lower(trim(lang))) % 90) / 10.0 + 1.0 AS impact_factor,
        |  'Q' || CAST(1 + length(lower(trim(lang))) % 4 AS VARCHAR) AS quartile
        |FROM documents WHERE lang IS NOT NULL AND lang <> ''
        |ORDER BY journal_norm""".stripMargin),

    Query("q_llm_extract", (s, dir) =>
      Enrich.llmExtract(Tables.documents(s, dir), "text",
          Seq("summary", "n_words"), Enrich.StubLlmClient)
        .select(col("doc_id"), col("summary"), col("n_words"))
        .orderBy("doc_id"),
      // degenerate-text rows (NULL / whitespace-only) mirror llmExtract's
      // short-circuit to defaults ('' for every field) — no call is made, so
      // the oracle must not emit NULL summary / '0' n_words for them
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t <> '') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN ''
        |       ELSE array_to_string(ws[1:8], ' ') END AS summary,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN ''
        |       ELSE CAST(len(ws) AS VARCHAR) END AS n_words
        |FROM toks ORDER BY doc_id""".stripMargin),

    // X3→X2: the TEMPLATE drives the output schema, defaults, and prompt;
    // the stub client only answers prompts whose messages match the
    // template's 2-message build (anything else → defaults → oracle
    // mismatch), so the hash check pins the composition, not just the shape
    Query("q_llm_extract_template", (s, dir) => {
      val t = PromptTemplates.fromYaml(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$fixturesDir/template_sample.yaml")))
      Enrich.llmExtractWithTemplate(Tables.documents(s, dir), "text", t,
          Enrich.StubTemplateChatClient(t))
        .select(col("doc_id"), col("summary"), col("methods"))
        .orderBy("doc_id")
    },
      // template-driven variant: fields/defaults come from
      // fixtures/template_sample.yaml (summary default '', methods default
      // 'not stated'); the stub fills field i>0 with "<field>:<n_tokens>"
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t <> '') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN ''
        |       ELSE array_to_string(ws[1:8], ' ') END AS summary,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 'not stated'
        |       ELSE 'methods:' || CAST(len(ws) AS VARCHAR) END AS methods
        |FROM toks ORDER BY doc_id""".stripMargin),

    // The reference's whole CLI pipeline (SURVEY.md §3.1 steps 4-5) as one
    // query: parse all three sources -> union -> normalize -> priority
    // dedup -> link columns -> stub enrichment
    Query("q_pipeline_bibliographic", (s, _) => {
      val combined = BibSources.combine(Seq(
        BibSources.pubmed(s, s"$fixturesDir/pubmed_sample.txt"),
        BibSources.wos(s, s"$fixturesDir/wos_sample.txt"),
        BibSources.sciencedirect(s, s"$fixturesDir/sciencedirect_sample.txt")))
      val normalized = combined
        .withColumn("doi_norm", Normalize.normalizeDoi(col("doi")))
        .withColumn("prio", Normalize.sourcePriority(col("source_type")))
        // content-derived tiebreak: monotonically_increasing_id depends on
        // partition layout, so a retry/replan could pick a different
        // survivor among equal (key, priority) rows
        .withColumn("rid", xxhash64(col("source_type"), col("title"),
          col("doi_norm"), col("pmid"), col("wos_id")))
      val deduped = Dedup.priorityDedup(normalized, col("doi_norm"),
        col("prio"), col("rid"))
      Enrich.journalMetrics(deduped, "journal", Enrich.StubMetricsClient)
        .withColumn("pubmed_link",
          Normalize.nullToEmpty(Normalize.pubmedLink(col("source_type"),
            col("pmid"))))
        .withColumn("wos_link",
          Normalize.nullToEmpty(Normalize.wosLink(col("source_type"),
            col("wos_id"))))
        .withColumn("doi_link",
          Normalize.nullToEmpty(Normalize.doiLink(col("doi_norm"))))
        .withColumn("title_link", Normalize.titleLink(col("wos_link"),
          col("pubmed_link"), lit(""), col("doi_link")))
        .select("source_type", "title", "doi_norm", "publication_year",
          "full_authors", "impact_factor", "quartile", "title_link")
        .orderBy("source_type", "doi_norm")
    },
      """SELECT * FROM (VALUES
        |  ('pubmed', 'Second record.', CAST(NULL AS VARCHAR), '2023',
        |   CAST(NULL AS VARCHAR), CAST(2.1 AS DOUBLE), 'Q4',
        |   'https://pubmed.ncbi.nlm.nih.gov/12345679/'),
        |  ('sciencedirect', 'An SD-only record about something else entirely',
        |   '10.2000/jot.2022.007', '2022', 'Roe, R., Poe, E.',
        |   CAST(3.3 AS DOUBLE), 'Q4', 'https://doi.org/10.2000/jot.2022.007'),
        |  ('wos', 'A study of synthetic literature records for pipeline testing',
        |   '10.1000/jsr.2024.001', '2024', 'Smith, Jane, Doe, John',
        |   CAST(3.9 AS DOUBLE), 'Q2',
        |   'https://www.webofscience.com/wos/woscc/full-record/WOS:000000000000001'),
        |  ('wos', 'A WOS-only record', '10.1000/oj.2023.042', '2023',
        |   'Roe, R', CAST(2.3 AS DOUBLE), 'Q2',
        |   'https://www.webofscience.com/wos/woscc/full-record/WOS:000000000000002')
        |) AS t(source_type, title, doi_norm, publication_year, full_authors,
        |       impact_factor, quartile, title_link)
        |ORDER BY source_type, doi_norm""".stripMargin)
  )
}
