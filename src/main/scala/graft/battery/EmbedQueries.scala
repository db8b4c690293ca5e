package graft
package battery

import org.apache.spark.sql.functions._

import graft.exec.Exec.sequentialSumByKey
import graft.operators.{Bq, Dedup, Pq, Similarity, Sq}
import graft.SparkEntry.{Query, cosSql, wellFormedSql}

/** Embeddings: cosine top-k, k-means/IVF, semantic dedup, outliers,
  * pooling, and the PQ/SQ/BQ/RP/PCA codecs. */
private[graft] object EmbedQueries {

  private val kmeansK = 4
  private val kmeansIters = 2
  private val semdedupThreshold = 0.45
  // PQ battery point: dim 64 → 4 subspaces × 16 elements, 4 codewords
  // each, 1 Lloyd round — small enough for the generated oracle to
  // replay training per subspace, real enough to exercise the full
  // train → encode → ADC path (compression here 64·4B → 4·4B; the m/ksub
  // of a production run change only reference-object sizes, not plans)
  private val pqM = 4
  private val pqKsub = 4
  private val pqIters = 1
  private val pqSampleN = 4096
  private val embedDim = 64
  // PCA: components, fixed power-iteration rounds, and the train-slice
  // modulus (PCA trains on a bounded deterministic sample — the
  // pqSampleN posture — and projects the full corpus)
  private val pcaK = 2
  private val pcaPowerIters = 6
  private val pcaTrainMod = 5
  private val rpDim = 16
  private val rpSeed = 7

  /** Well-formed `embedding` rows of dimension `dim`. */
  private def embRowsSql(dim: Int): String =
    s"""SELECT vec_id, embedding FROM embeddings
       |  WHERE $wellFormedSql AND len(embedding) = $dim""".stripMargin

  /** The ten probes (vec_id < 10) `p` scored against every other
    * vector `c` by exact cosine in `s` (pid, nid, cos). */
  private val probeCosCtes =
    s"""p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
       |           WHERE vec_id < 10),
       |c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
       |s AS (SELECT pid, nid, ${cosSql("ce", "pe")} AS cos
       |      FROM c, p WHERE nid <> pid)""".stripMargin

  /** Per-probe top-`k` of a (pid, nid, cos) CTE, ties to the lower id. */
  private def topKSql(from: String, k: Int): String =
    s"""r AS (SELECT pid AS probe_id, nid AS nbr_id, cos,
       |        row_number() OVER (PARTITION BY pid
       |          ORDER BY cos DESC, nid ASC) AS rank
       |      FROM $from)
       |SELECT probe_id, CAST(rank AS INTEGER) AS rank, nbr_id FROM r
       |WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin

  /** Exact brute-force top-5 of the ten probes. */
  private val exactTop5Sql = s"WITH $probeCosCtes,\n${topKSql("s", 5)}"

  /** Contrastive mining over a (pid, nid, cos) CTE `s`: kind decided by
    * the 0.35 threshold BEFORE the rank, top-2 positives and top-5
    * negatives per (anchor, kind). */
  private def mineSql(kindCte: String): String =
    s"""$kindCte AS (SELECT pid, nid, cos,
       |        CASE WHEN cos >= 0.35 THEN 'pos' ELSE 'neg' END AS kind
       |      FROM s),
       |r AS (SELECT pid AS probe_id, kind, nid AS nbr_id,
       |        row_number() OVER (PARTITION BY pid, kind
       |          ORDER BY cos DESC, nid ASC) AS rank
       |      FROM $kindCte)
       |SELECT probe_id, kind, CAST(rank AS INTEGER) AS rank, nbr_id FROM r
       |WHERE (kind = 'pos' AND rank <= 2) OR (kind = 'neg' AND rank <= 5)
       |ORDER BY probe_id, kind, rank""".stripMargin

  /** Every vector pair of `e` with its exact cosine, as `s`. */
  private val pairCosCtes =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${cosSql("a.embedding", "b.embedding")} AS cos
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id)""".stripMargin

  /** Brute-force cosine pairs at 0.45. */
  private val nearDupPairsSql = s"""WITH $pairCosCtes
    |SELECT id_a, id_b FROM s WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin

  /** Semantic-dedup tail over the pair-cosine CTE `s`: pairs at
    * `threshold`, recursive-CTE closure, min-id survivor for every row of
    * `rows` (aliased `v`). */
  private def survivorsSql(threshold: Double, rows: String,
                           v: String): String =
    s"""pairs AS (SELECT id_a, id_b FROM s WHERE cos >= $threshold),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src),
       |comp AS (SELECT src AS vec_id, min(dst) AS reach_min
       |         FROM reach GROUP BY src)
       |SELECT $v.vec_id,
       |  CAST(least(coalesce(c.reach_min, $v.vec_id), $v.vec_id) AS BIGINT)
       |    AS survivor_id
       |FROM $rows $v LEFT JOIN comp c ON $v.vec_id = c.vec_id
       |ORDER BY $v.vec_id""".stripMargin

  /** The centroid CTE the k-means chain ends with. */
  private val kmeansFinal = if (kmeansIters == 0) "seeds" else s"c$kmeansIters"

  /** The k-means chain's corpus with cluster ids, as `v`. */
  private val clusteredSql =
    s"""v AS (SELECT e.vec_id, e.embedding, a.cluster
       |      FROM e JOIN a$kmeansIters a USING (vec_id))""".stripMargin

  /** IVF routing score of vector `v` against centroid alias `c`: dot
    * with the FLOAT-cast centroid over its double norm, the engine's
    * `centroidRanking` arithmetic. */
  private def routeSql(v: String): String =
    s"""list_sum(list_transform(range(1, $embedDim + 1),
       |      i -> CAST($v[i] AS DOUBLE)
       |           * CAST(CAST(c.cent[i] AS REAL) AS DOUBLE)))
       |      / sqrt(list_sum(list_transform(c.cent, x -> x * x)))""".stripMargin

  /** The q_embed_kmeans oracle, Lloyd rounds unrolled as CTE chains.
    * Generated (not hand-written) so `iters` stays in lockstep with the
    * Spark query's parameter: round r assigns against centroids c{r},
    * then m{r+1}/c{r+1} re-means by the id-ordered sequential fold the
    * operator's deterministic mode uses. */
  private[graft] def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCteChain(k, iters)}
       |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM a$iters
       |ORDER BY vec_id""".stripMargin

  /** Row-vs-centroid cosine in DuckDB SQL, shared by every generated
    * oracle that assigns against a centroid CTE. The CASE mirrors
    * NearestCentroid / the composed HOF form on degenerate vectors: a
    * dim mismatch or a null element scores -2 (DuckDB's list_sum SKIPS
    * null products, which would otherwise yield a real truncated cosine
    * here and diverge from the engine). */
  private def centCosSql(row: String, cent: String): String =
    s"""CASE WHEN len($row.embedding) <> len($cent.cent)
       |    OR len(list_filter($row.embedding, x -> x IS NULL)) > 0
       |  THEN -2.0
       |  ELSE coalesce(
       |    list_sum(list_transform(range(1, len($row.embedding) + 1),
       |      i -> CAST($row.embedding[i] AS DOUBLE) * $cent.cent[i]))
       |    / nullif(
       |      sqrt(list_sum(list_transform($row.embedding, x -> CAST(x AS DOUBLE) * x)))
       |      * sqrt(list_sum(list_transform($cent.cent, x -> x * x))), 0),
       |    -2.0) END""".stripMargin

  /** The CTE chain behind `kmeansOracleSql` (e, seeds, sc0/a0 …
    * m{iters}/c{iters}/sc{iters}/a{iters}) without the WITH keyword or a
    * final SELECT, so composite oracles (q_embed_semdedup,
    * q_embed_incremental) can extend it. The final assignment CTE is
    * `a$iters`; `baseWhere` narrows the trained corpus (the incremental
    * oracle trains on the corpus slice only). */
  private def kmeansCteChain(k: Int, iters: Int,
                             baseWhere: String = ""): String = {
    val cos = (cent: String) => centCosSql("e", cent)
    def assign(r: Int, cent: String): String =
      s"""sc$r AS (SELECT e.vec_id, $cent.cluster, ${cos(cent)} AS cos
         |  FROM e, $cent),
         |a$r AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rn
         |  FROM sc$r) WHERE rn = 1)""".stripMargin
    def update(r: Int): String = {
      val prev = if (r == 1) "seeds" else s"c${r - 1}"
      // LEFT JOIN against the previous round's centroids: a cluster that
      // ends a round empty keeps its old centroid (mirrors the
      // operator's byCluster.getOrElse(j, old)) instead of vanishing
      // from the candidate set
      s"""m$r AS (SELECT a${r - 1}.cluster, u.i AS i,
         |    list_sum(list(CAST(e.embedding[u.i] AS DOUBLE)
         |      ORDER BY e.vec_id)) / count(*) AS m
         |  FROM a${r - 1} JOIN e USING (vec_id),
         |    unnest(range(1, len(e.embedding) + 1)) AS u(i)
         |  GROUP BY 1, 2),
         |cn$r AS (SELECT cluster, list(m ORDER BY i) AS cent
         |  FROM m$r GROUP BY cluster),
         |c$r AS (SELECT p.cluster, coalesce(n.cent, p.cent) AS cent
         |  FROM $prev p LEFT JOIN cn$r n USING (cluster))""".stripMargin
    }
    val head =
      s"""e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
         |  WHERE $wellFormedSql
         |    $baseWhere),
         |seeds AS (SELECT
         |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
         |      - 1 AS cluster,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)""".stripMargin
    // Seq-joined so iters = 0 (assignment against raw seeds, a supported
    // operator mode) yields valid SQL with no dangling comma
    (Seq(head, assign(0, "seeds")) ++
      (1 to iters).map(r => update(r) + ",\n" + assign(r, s"c$r")))
      .mkString(",\n")
  }

  /** The PQ training + encoding chain, generated per subspace (the PQ
    * mirror of `kmeansCteChain`): `samp` is the hash-ordered ≤pqSampleN
    * training sample, subspace `s` gets seeds (first pqKsub sample rows'
    * subvectors in hash order) → pqIters Lloyd rounds (argmin by
    * ascending-index L2² fold, ties to the lower code; means folded in
    * vec_id order; empty codes keep their previous codeword) → a
    * full-corpus argmin. Ends with `codes` (vec_id, sub, code) over
    * every well-formed corpus row and `cball` (sub, code, cent), the
    * final codebook — exactly the state `Pq.pqTrain`/`PqEncodeL2`
    * compute. `base` names an existing (vec_id, embedding) CTE to
    * quantize (the IVF-PQ oracle passes its residual CTE); None builds
    * the well-formed `e` base from the embeddings table. */
  private def pqCteChain(base: Option[String] = None): String = {
    val dsub = embedDim / pqM
    val baseName = base.getOrElse("e")
    // L2² between frame-alias `t`'s subvector (offset `off`) and cents
    // CTE `x`'s codeword — the ascending sequential fold PqEncodeL2 runs
    def dist(t: String, off: Int, x: String): String =
      s"""list_sum(list_transform(range(1, $dsub + 1),
         |      i -> (CAST($t.embedding[$off + i] AS DOUBLE) - $x.cent[i])
         |         * (CAST($t.embedding[$off + i] AS DOUBLE) - $x.cent[i])))""".stripMargin
    def argmin(outCte: String, scCte: String): String =
      s"""$outCte AS (SELECT vec_id, code FROM (
         |  SELECT vec_id, code, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d ASC, code ASC) AS rn
         |  FROM $scCte) WHERE rn = 1)""".stripMargin
    val head = (if (base.isEmpty)
      s"e AS MATERIALIZED (${embRowsSql(embedDim)}),\n" else "") +
      s"""samp AS (SELECT vec_id, embedding FROM $baseName
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqSampleN)""".stripMargin
    val fin = (s: Int) => if (pqIters == 0) s"p${s}s" else s"p${s}c$pqIters"
    val subChains = (0 until pqM).map { s =>
      val off = s * dsub
      val seeds =
        s"""p${s}s AS (SELECT
           |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           |      - 1 AS code,
           |    list_transform(range(1, $dsub + 1),
           |      i -> CAST(embedding[$off + i] AS DOUBLE)) AS cent
           |  FROM samp ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           |  LIMIT $pqKsub)""".stripMargin
      val rounds = (1 to pqIters).map { r =>
        val prevA = if (r == 1) s"p${s}s" else s"p${s}c${r - 1}"
        s"""p${s}sc${r - 1} AS (SELECT samp.vec_id, $prevA.code,
           |    ${dist("samp", off, prevA)} AS d
           |  FROM samp, $prevA),
           |${argmin(s"p${s}a${r - 1}", s"p${s}sc${r - 1}")},
           |p${s}m$r AS (SELECT a.code, u.i AS i,
           |    list_sum(list(CAST(samp.embedding[$off + u.i] AS DOUBLE)
           |      ORDER BY samp.vec_id)) / count(*) AS mval
           |  FROM p${s}a${r - 1} a JOIN samp USING (vec_id),
           |    unnest(range(1, $dsub + 1)) AS u(i)
           |  GROUP BY 1, 2),
           |p${s}cn$r AS (SELECT code, list(mval ORDER BY i) AS cent
           |  FROM p${s}m$r GROUP BY code),
           |p${s}c$r AS (SELECT p.code, coalesce(n.cent, p.cent) AS cent
           |  FROM $prevA p LEFT JOIN p${s}cn$r n USING (code))""".stripMargin
      }
      val corpusAssign =
        s"""p${s}fc AS (SELECT $baseName.vec_id, ${fin(s)}.code,
           |    ${dist(baseName, off, fin(s))} AS d
           |  FROM $baseName, ${fin(s)}),
           |${argmin(s"p${s}code", s"p${s}fc")}""".stripMargin
      (Seq(seeds) ++ rounds ++ Seq(corpusAssign)).mkString(",\n")
    }
    val codes = (0 until pqM)
      .map(s => s"SELECT vec_id, $s AS sub, code FROM p${s}code")
      .mkString("codes AS (", "\n  UNION ALL ", ")")
    val cball = (0 until pqM)
      .map(s => s"SELECT $s AS sub, code, cent FROM ${fin(s)}")
      .mkString("cball AS (", "\n  UNION ALL ", ")")
    (Seq(head) ++ subChains ++ Seq(codes, cball)).mkString(",\n")
  }

  /** IVF-PQ oracle: the kmeans chain (coarse quantizer + corpus
    * assignment), float residuals (REAL-cast, double-rounding-safe — for
    * +,-,*,/ of two float32s, computing exactly in double and rounding
    * once to float IS the float32 operation, since double's 53 bits ≥
    * 2·24+2), the PQ chain over the residual CTE, reconstruction =
    * centroid + decoded residual in the same float arithmetic, probe
    * routing by dot/|c| against FLOAT-cast centroids (the engine ranks
    * with float centroid literals but double norms), and the exact
    * top-`k` over reconstructions. */
  private def ivfPqOracleSql(k: Int, corpusWhere: String = "",
                             probeWhere: String = "vec_id < 10"): String = {
    s"""WITH ${kmeansCteChain(kmeansK, kmeansIters, corpusWhere)},
       |er AS (SELECT e.vec_id,
       |    list_transform(range(1, $embedDim + 1),
       |      i -> CAST(CAST(e.embedding[i] AS DOUBLE)
       |           - CAST(CAST(c.cent[i] AS REAL) AS DOUBLE) AS REAL))
       |      AS embedding
       |  FROM e JOIN a$kmeansIters a USING (vec_id)
       |    JOIN $kmeansFinal c ON a.cluster = c.cluster
       |  WHERE len(e.embedding) = $embedDim),
       |${pqCteChain(base = Some("er"))},
       |recf AS (SELECT cd.vec_id,
       |    flatten(list(list_transform(cb.cent, x -> CAST(x AS REAL))
       |      ORDER BY cd.sub)) AS rr
       |  FROM codes cd JOIN cball cb
       |    ON cb.sub = cd.sub AND cb.code = cd.code
       |  GROUP BY cd.vec_id),
       |recon AS (SELECT r.vec_id, a.cluster,
       |    list_transform(range(1, $embedDim + 1),
       |      i -> CAST(CAST(CAST(c.cent[i] AS REAL) AS DOUBLE)
       |           + CAST(r.rr[i] AS DOUBLE) AS REAL)) AS re
       |  FROM recf r JOIN a$kmeansIters a USING (vec_id)
       |    JOIN $kmeansFinal c ON a.cluster = c.cluster),
       |p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
       |      WHERE $probeWhere),
       |pr AS (SELECT pid, cluster FROM (
       |    SELECT p.pid, c.cluster, row_number() OVER (PARTITION BY p.pid
       |      ORDER BY ${routeSql("p.pe")} DESC, c.cluster ASC) AS rn
       |    FROM p, $kmeansFinal c) WHERE rn <= 2),
       |sc AS (SELECT rec.vec_id AS nid, pr.pid,
       |    ${cosSql("rec.re", "p.pe", embedDim.toString)} AS cos
       |  FROM recon rec JOIN pr ON rec.cluster = pr.cluster
       |    AND rec.vec_id <> pr.pid
       |  JOIN p ON p.pid = pr.pid),
       |${topKSql("sc", k)}""".stripMargin
  }

  /** The SQ CTE chain (e → per-dim min/max → codes). All arithmetic is
    * mirrored term-for-term from `Sq` (floor + clamp quantize; recon
    * float-cast once). */
  private val sqCteChain =
    s"""e AS MATERIALIZED (${embRowsSql(embedDim)}),
       |mm AS (SELECT u.i AS i,
       |    min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
       |    max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
       |  FROM e, unnest(range(1, $embedDim + 1)) AS u(i)
       |  GROUP BY 1),
       |codes AS (SELECT e.vec_id, m.i,
       |    CAST(CASE WHEN m.mx = m.mn THEN 0
       |      ELSE least(255, greatest(0,
       |        floor((CAST(e.embedding[m.i] AS DOUBLE) - m.mn)
       |          / (m.mx - m.mn) * 255 + 0.5)))
       |      END AS INTEGER) AS code
       |  FROM e, mm m)""".stripMargin

  /** BQ top-`k` oracle: sign-bit words packed 32 dims per BIGINT,
    * MSB-first (word w = Σ_j [x ≥ 0]·2^(31−j), out-of-range dims 0 —
    * `Bq.wordsExpr`'s fold exactly), Hamming via xor + bit_count,
    * candidate cut by (hamming, id), exact-cosine final rank. */
  private def bqTopKOracleSql(k: Int, rerank: Int,
                              probeWhere: String = "vec_id < 10",
                              corpusWhere: String = "TRUE"): String = {
    val nw = (embedDim + 31) / 32
    val wordExprs = (0 until nw).map { w =>
      s"""CAST(list_sum(list_transform(range(1, 33), j ->
         |      CASE WHEN embedding[${w * 32} + j] IS NOT NULL
         |                AND embedding[${w * 32} + j] >= 0
         |           THEN 2 ** (32 - j) ELSE 0 END)) AS BIGINT)""".stripMargin
    }.mkString("[\n    ", ",\n    ", "]")
    s"""WITH e AS (${embRowsSql(embedDim)}),
       |b AS (SELECT vec_id, embedding, $wordExprs AS words FROM e),
       |p AS (SELECT vec_id AS pid, embedding AS pe, words AS pw FROM b
       |      WHERE $probeWhere),
       |c AS (SELECT vec_id AS nid, embedding AS ce, words AS cw FROM b
       |      WHERE $corpusWhere),
       |h AS (SELECT pid, nid, ce, pe,
       |        list_sum(list_transform(range(1, $nw + 1),
       |          i -> bit_count(xor(cw[i], pw[i])))) AS hamming
       |      FROM c, p WHERE nid <> pid),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY pid
       |           ORDER BY hamming ASC, nid ASC) AS crank
       |         FROM h),
       |s AS (SELECT pid, nid, ${cosSql("ce", "pe", embedDim.toString)} AS cos
       |      FROM cand WHERE crank <= $rerank),
       |r AS (SELECT pid AS probe_id, nid AS nbr_id,
       |        row_number() OVER (PARTITION BY pid
       |          ORDER BY cos DESC, nid ASC) AS rank
       |      FROM s)
       |SELECT probe_id, CAST(rank AS INTEGER) AS rank, nbr_id FROM r
       |WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** The PCA oracle chain (no WITH, no final SELECT): train-slice base
    * `e`, per-dimension cells, mean, upper-triangle moments, covariance
    * `cov1`, then per component c: power-iteration CTEs w{c}_t/v{c}_t,
    * the Rayleigh quotient lam{c}, and the deflated cov{c+1} — every
    * fold `list_sum(list(x ORDER BY ...))` in the same ascending order
    * the driver loop in [[graft.operators.Similarity.pcaTrain]] runs.
    * `fullCells` adds a full-corpus cell CTE for projection oracles. */
  private def pcaCteChain(fullCells: Boolean = false): String = {
    val (d, iters) = (embedDim, pcaPowerIters)
    val rounds = (1 to pcaK).map { c =>
      val pw = (1 to iters).map { t =>
        s"""w${c}_$t AS MATERIALIZED (SELECT cov.a AS pos,
           |    list_sum(list(cov.c * v.v ORDER BY cov.b)) AS w
           |  FROM cov$c cov JOIN v${c}_${t - 1} v ON cov.b = v.pos
           |  GROUP BY cov.a),
           |v${c}_$t AS MATERIALIZED (SELECT pos, w / (SELECT
           |    sqrt(list_sum(list(w * w ORDER BY pos))) FROM w${c}_$t)
           |    AS v
           |  FROM w${c}_$t)""".stripMargin
      }.mkString(",\n")
      val deflate = if (c < pcaK)
        s""",
           |cov${c + 1} AS MATERIALIZED (SELECT cov.a, cov.b,
           |    cov.c - (SELECT lam FROM lam$c) * va.v * vb.v AS c
           |  FROM cov$c cov JOIN v${c}_$iters va ON cov.a = va.pos
           |                 JOIN v${c}_$iters vb ON cov.b = vb.pos)"""
          .stripMargin
      else ""
      s"""v${c}_0 AS MATERIALIZED (SELECT pos,
         |    CAST(1 AS DOUBLE) / sqrt(CAST($d AS DOUBLE)) AS v
         |  FROM range(0, $d) t(pos)),
         |$pw,
         |wl$c AS MATERIALIZED (SELECT cov.a AS pos,
         |    list_sum(list(cov.c * v.v ORDER BY cov.b)) AS w
         |  FROM cov$c cov JOIN v${c}_$iters v ON cov.b = v.pos
         |  GROUP BY cov.a),
         |lam$c AS MATERIALIZED (SELECT list_sum(list(v.v * w.w ORDER BY v.pos))
         |    AS lam
         |  FROM v${c}_$iters v JOIN wl$c w ON v.pos = w.pos)$deflate"""
        .stripMargin
    }.mkString(",\n")
    val full = if (fullCells)
      s""",
         |ef AS MATERIALIZED (${embRowsSql(d)}),
         |fcells AS MATERIALIZED (SELECT vec_id AS id, u.i - 1 AS pos,
         |    CAST(embedding[u.i] AS DOUBLE) AS x
         |  FROM ef, unnest(range(1, len(embedding) + 1)) AS u(i))"""
        .stripMargin
    else ""
    s"""e AS MATERIALIZED (${embRowsSql(d)}
       |    AND vec_id % $pcaTrainMod = 0),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd FROM e),
       |cells AS MATERIALIZED (SELECT vec_id AS id, u.i - 1 AS pos,
       |    CAST(embedding[u.i] AS DOUBLE) AS x
       |  FROM e, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |mn AS MATERIALIZED (SELECT pos,
       |    list_sum(list(x ORDER BY id)) / (SELECT nd FROM nn) AS m
       |  FROM cells GROUP BY pos),
       |mom AS MATERIALIZED (SELECT a.pos AS a, b.pos AS b,
       |    list_sum(list(a.x * b.x ORDER BY a.id)) AS s
       |  FROM cells a JOIN cells b ON a.id = b.id AND a.pos <= b.pos
       |  GROUP BY 1, 2),
       |cv AS MATERIALIZED (SELECT mom.a AS a, mom.b AS b,
       |    s / (SELECT nd FROM nn) - ma.m * mb.m AS c
       |  FROM mom JOIN mn ma ON mom.a = ma.pos
       |           JOIN mn mb ON mom.b = mb.pos),
       |cov1 AS MATERIALIZED (SELECT a, b, c FROM cv
       |         UNION ALL SELECT b, a, c FROM cv WHERE a < b),
       |$rounds$full""".stripMargin
  }

  /** q_embed_pca_project / q_embed_pca_served: full-corpus projection
    * onto the trained axes — per component one ascending-pos fold of
    * (x−μ)·v, divided by √λ when whitened (the served query's shape;
    * the persisted model round-trips doubles exactly, so the replayed
    * chain IS the served model). */
  private def pcaProjectOracleSql(whiten: Boolean): String = {
    val ps = (1 to pcaK).map { c =>
      val raw = s"list_sum(list((f.x - m.m) * v.v ORDER BY f.pos))"
      val sc = if (whiten) s"$raw / sqrt((SELECT lam FROM lam$c))"
        else raw
      s"""p$c AS MATERIALIZED (SELECT f.id,
         |    $sc
         |      AS proj_$c
         |  FROM fcells f JOIN mn m ON f.pos = m.pos
         |                JOIN v${c}_$pcaPowerIters v ON f.pos = v.pos
         |  GROUP BY f.id)""".stripMargin
    }.mkString(",\n")
    val joins = (2 to pcaK)
      .map(c => s"JOIN p$c ON p1.id = p$c.id").mkString(" ")
    val cols = (1 to pcaK).map(c => s"proj_$c").mkString(", ")
    s"""WITH ${pcaCteChain(fullCells = true)},
       |$ps
       |SELECT p1.id AS vec_id, $cols FROM p1 $joins
       |ORDER BY vec_id""".stripMargin
  }

  def entries: Seq[Query] = Seq(
    // -- embeddings: similarity search + near-dup (BASELINE.json extensions) --------
    Query("q_embed_cosine_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      exactTop5Sql),

    // contrastive training-pair mining (DPR/SimCSE shape): per anchor,
    // top-2 positives (cos ≥ 0.35) and top-5 HARD negatives (the most
    // similar neighbors strictly below the threshold) — filter-then-rank,
    // so duplicates never crowd negatives out of the top-k. Same
    // broadcast-probe / streaming-corpus posture as q_embed_cosine_topk.
    Query("q_embed_hardneg", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.contrastiveMine(emb, emb.where(col("vec_id") < 10),
          kPos = 2, kNeg = 5, posThreshold = 0.35)
        .select(col("probe_id"), col("kind"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "kind", "rank")
    },
      // same scored kernel as q_embed_cosine_topk, partitioned by
      // (anchor, kind) with kind decided by the 0.35 threshold BEFORE the
      // rank — filter-then-rank, the contrastiveMine contract
      s"WITH $probeCosCtes,\n${mineSql("k")}"),

    // the FULL-CORPUS mining shape: every vector an anchor, candidates
    // restricted to its k-means cluster (shuffle key = cluster id, the
    // semanticDedup posture) — deterministic Lloyd so the oracle replays
    // train → assign → within-cluster rank end-to-end
    Query("q_embed_hardneg_clustered", (s, dir) =>
      Similarity.contrastiveMineClustered(Tables.embeddings(s, dir),
          kPos = 2, kNeg = 5, posThreshold = 0.35,
          kClusters = kmeansK, iters = kmeansIters, deterministic = true)
        .select(col("probe_id"), col("kind"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "kind", "rank"),
      // kmeansCteChain replays the deterministic Lloyd train/assign; the
      // within-cluster pair cosine and (pid, kind) rank mirror the Spark
      // side exactly
      s"""WITH ${kmeansCteChain(kmeansK, kmeansIters)},
         |$clusteredSql,
         |s AS (SELECT a.vec_id AS pid, b.vec_id AS nid,
         |        ${cosSql("a.embedding", "b.embedding")} AS cos
         |      FROM v a JOIN v b
         |        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
         |${mineSql("k2")}""".stripMargin),

    // SEMANTIC dedup end-to-end: exact cosine near-dup pairs → large-star/
    // small-star clustering → min-id survivor per embedding cluster — the
    // embedding-space mirror of q_dedup_cluster(_star), cross-covering the
    // cosine-detector → star-CC composition. Oracle: brute-force cosine
    // pairs + recursive-CTE closure.
    Query("q_embed_cluster", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.cosineNearDupPairs(emb, 0.45)
      Dedup.nearDupSurvivors(emb, col("vec_id"), pairs,
          Dedup.connectedComponentsStar(_))
        .select(col("doc_id").as("vec_id"), col("survivor_id"))
        .orderBy("vec_id")
    },
      // semantic dedup: cosine pairs -> transitive closure -> min survivor
      s"WITH RECURSIVE $pairCosCtes,\n${survivorsSql(0.45, "e", "v")}"),

    // IVF machinery under the hash oracle: with nProbe = nCentroids every
    // inverted list is searched, so the operator provably degenerates to
    // exact brute force (the property SimilaritySpec pins) — the full
    // coarse-quantizer train/assign/route path runs and must reproduce the
    // brute-force oracle bit-for-bit. Production ANN sets nProbe << that.
    Query("q_embed_ivf_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5,
          nCentroids = 16, nProbe = 16)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      exactTop5Sql),

    // ANN recall@k readout: IVF at nProbe=1 of 4 deterministic-Lloyd
    // centroids vs the exact brute-force ranking — a REAL approximation
    // (some probes' neighbors live outside the probed cluster, so
    // recall < 1 for some rows), and the whole evaluation is integer
    // counts + one division per probe, so the oracle replays train →
    // route → rank → intersect end-to-end under the hash
    Query("q_embed_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val cents = Similarity.kMeansCentroids(emb, k = kmeansK,
        iters = kmeansIters, deterministic = true)
      Similarity.annRecall(
          Similarity.bruteForceTopK(emb, probes, k = 5),
          Similarity.ivfTopK(emb, probes, k = 5, nCentroids = kmeansK,
            nProbe = 1, centroids = Some(cents)))
        .orderBy("probe_id")
    },
      // deterministic-Lloyd training replayed via kmeansCteChain, then
      // BOTH rankings rebuilt — exact brute force and the IVF route
      // (corpus + probes ranked against the FLOAT-cast final centroids by
      // dot/|c|, the `centroidRanking` arithmetic the IVF-PQ oracle
      // already pins) — and intersected per probe. Counts are integers;
      // recall is one IEEE division.
      {
        val cos = cosSql("e.embedding", "p.pe", embedDim.toString)
        s"""WITH ${kmeansCteChain(kmeansK, kmeansIters)},
           |p AS (SELECT vec_id AS pid, embedding AS pe FROM e
           |      WHERE vec_id < 10),
           |ex AS (SELECT pid, nid FROM (
           |    SELECT p.pid, e.vec_id AS nid, row_number() OVER (
           |        PARTITION BY p.pid ORDER BY $cos DESC, e.vec_id ASC)
           |      AS rank
           |    FROM e, p WHERE e.vec_id <> p.pid) WHERE rank <= 5),
           |rte AS (SELECT vec_id, cluster FROM (
           |    SELECT e.vec_id, c.cluster, row_number() OVER (
           |        PARTITION BY e.vec_id
           |        ORDER BY ${routeSql("e.embedding")} DESC, c.cluster ASC)
           |      AS rn
           |    FROM e, $kmeansFinal c) WHERE rn = 1),
           |pr AS (SELECT pid, cluster FROM (
           |    SELECT p.pid, c.cluster, row_number() OVER (
           |        PARTITION BY p.pid
           |        ORDER BY ${routeSql("p.pe")} DESC, c.cluster ASC) AS rn
           |    FROM p, $kmeansFinal c) WHERE rn <= 1),
           |ap AS (SELECT pid, nid FROM (
           |    SELECT pr.pid, e.vec_id AS nid, row_number() OVER (
           |        PARTITION BY pr.pid ORDER BY $cos DESC, e.vec_id ASC)
           |      AS rank
           |    FROM pr JOIN rte ON rte.cluster = pr.cluster
           |      JOIN e ON e.vec_id = rte.vec_id
           |      JOIN p ON p.pid = pr.pid
           |    WHERE e.vec_id <> pr.pid) WHERE rank <= 5)
           |SELECT ex.pid AS probe_id,
           |  CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(count(ap.nid) AS BIGINT) AS n_hits,
           |  CAST(count(ap.nid) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |    AS recall
           |FROM ex LEFT JOIN ap ON ap.pid = ex.pid AND ap.nid = ex.nid
           |GROUP BY ex.pid ORDER BY probe_id""".stripMargin
      }),

    // full-corpus distributed k-means (the SemDeDup-style clustering
    // primitive: assignment = one codegen'd projection pass, update = one
    // partial-agg groupBy; only k×dim reaches the driver). Oracle: both
    // Lloyd rounds unrolled in SQL — md5-ordered seeds, sequential-fold
    // cosines, id-ordered sequential centroid means (the operator's
    // deterministic mode computes the same fold; the spec pins that the
    // scale-mode partial-agg avg yields identical ASSIGNMENTS)
    Query("q_embed_kmeans", (s, dir) =>
      Similarity.kMeans(Tables.embeddings(s, dir), k = kmeansK,
          iters = kmeansIters,
          deterministic = true)
        .orderBy("vec_id"),
      // both Lloyd rounds unrolled: seeds -> assign -> mean -> assign ->
      // mean -> assign; every float op mirrors the operator's deterministic
      // mode (sequential folds, id-ordered means, ties to lower cluster)
      kmeansOracleSql(kmeansK, kmeansIters)),

    // per-cluster outlier pruning (the OOD-cleaning readout of the
    // k-means partition): bottom 1/10 of each cluster by cosine to its
    // own centroid — rank cut as an exact integer comparison, raw
    // cosine doubles under the hash via the fused argmax/max scan
    Query("q_embed_outliers", (s, dir) =>
      Similarity.clusterOutliers(Tables.embeddings(s, dir), k = kmeansK,
          iters = kmeansIters, deterministic = true, num = 1, den = 10)
        .orderBy("vec_id"),
      // the Lloyd chain's final score CTE keeps each row's best cosine
      // (rn = 1 of the same rank the assignment uses), dim-pinned like
      // the classifier base, then the per-cluster ascending rank cut as
      // the exact integer comparison r·den <= n·num
      s"""WITH ${kmeansCteChain(kmeansK, kmeansIters)},
         |ax AS (SELECT vec_id, cluster, cos, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rn
         |  FROM sc$kmeansIters
         |  WHERE vec_id IN (SELECT vec_id FROM e
         |    WHERE len(embedding) = (SELECT len(embedding) FROM e
         |      ORDER BY vec_id LIMIT 1))),
         |asg AS (SELECT vec_id, cluster, cos FROM ax WHERE rn = 1),
         |rk AS (SELECT vec_id, cluster, cos AS centroid_cos,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY cos ASC, vec_id ASC) AS r,
         |    count(*) OVER (PARTITION BY cluster) AS n
         |  FROM asg)
         |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, centroid_cos,
         |  r * 10 <= n * 1 AS is_outlier
         |FROM rk ORDER BY vec_id""".stripMargin),

    // Johnson-Lindenstrauss ±1 sign projection 64 → 16 dims: every
    // downstream distance pass gets 4× cheaper in flops and bytes at
    // ~1/√16 distortion; each output dim is one fused codegen'd dot
    // against a sign literal, and √16 = 4 makes the scale division
    // exact — raw projected doubles under the hash oracle (sign matrix
    // inlined as SQL literals from the one shared definition). The
    // QUERY output is long format (vec_id, pos, value) — scalar cells
    // only, the q_embed_pca shape — because the gate's comparer sorts
    // on every column and cannot order array cells; the operator keeps
    // its array<double> contract for downstream composition.
    Query("q_embed_rp", (s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir), outDim = rpDim,
          seed = rpSeed)
        .select(col("vec_id"),
          posexplode(col("proj")).as(Seq("pos", "value")))
        .orderBy("vec_id", "pos"),
      {
      val signs = graft.operators.Similarity.rpSigns(embedDim, rpDim,
        rpSeed)
      // the oracle's scale literal must be the EXACT double the
      // operator divides by; pin the generator to perfect-square
      // output dims so the integer literal below cannot drift from
      // math.sqrt (the operator itself accepts any outDim)
      val rpScale = math.sqrt(rpDim.toDouble).toLong
      require(rpScale * rpScale == rpDim,
        s"q_embed_rp oracle: rpDim=$rpDim is not a perfect square — " +
          "generalize the scale literal before changing it")
      val dims = signs.map { row =>
        val litRow = row.map(s =>
          if (s > 0) "1" else "-1").mkString("[", ", ", "]")
        s"""list_sum(list_transform(range(1, ${embedDim + 1}),
           |      i -> CAST(embedding[i] AS DOUBLE) *
           |        ($litRow::DOUBLE[])[i]))
           |      / CAST($rpScale AS DOUBLE)""".stripMargin
      }.mkString(",\n    ")
      // long format: one row per projected dimension (scalar cells for
      // the gate's sort), pos matching Spark's 0-based posexplode
      s"""WITH t AS (SELECT vec_id, [
         |    $dims] AS proj
         |FROM embeddings
         |WHERE $wellFormedSql AND len(embedding) = $embedDim)
         |SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS pos,
         |  proj[u.i] AS value
         |FROM t, unnest(range(1, ${rpDim + 1})) AS u(i)
         |ORDER BY vec_id, pos""".stripMargin
    }),

    // PCA loadings + eigenvalues: trained in repro mode on the %5
    // vec_id slice (the bounded-sample posture — moments are one in-row
    // generator + hash aggregate, power iteration is d×d driver flops);
    // the oracle replays mean → covariance → power chain fold-for-fold
    Query("q_embed_pca", (s, dir) =>
      Similarity.pcaComponents(
          Tables.embeddings(s, dir).where(col("vec_id") % pcaTrainMod === 0),
          k = pcaK, powerIters = pcaPowerIters, deterministic = true)
        .orderBy("comp", "pos"),
      // PCA: the full train chain replayed relationally (mean →
      // upper-triangle moments → covariance → unrolled power iterations
      // with deflation), every fold ascending-ordered like the driver's;
      // out: the k×d loading matrix plus eigenvalues
      {
        val sel = (1 to pcaK).map(c =>
          s"""SELECT $c AS comp, CAST(pos AS INTEGER) AS pos, v AS loading,
             |  (SELECT lam FROM lam$c) AS eigenvalue
             |FROM v${c}_$pcaPowerIters""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH ${pcaCteChain()}
           |$sel
           |ORDER BY comp, pos""".stripMargin
      }),

    // full-corpus projection onto the slice-trained axes: k fused
    // literal-unrolled expressions per row (the randomProject plan
    // shape), no join against a component table
    Query("q_embed_pca_project", (s, dir) => {
      val m = Similarity.pcaTrain(
        Tables.embeddings(s, dir).where(col("vec_id") % pcaTrainMod === 0),
        k = pcaK, powerIters = pcaPowerIters, deterministic = true)
      Similarity.pcaProject(Tables.embeddings(s, dir), m)
        .orderBy("vec_id")
    },
      pcaProjectOracleSql(whiten = false)),

    // the SERVED shape: fit-once → write-once marker-committed model
    // artifact → load → whitened projection; parquet round-trips the
    // doubles bit-exactly, so the served scores equal the in-session
    // chain the oracle replays (plus the √λ whitening division)
    Query("q_embed_pca_served", (s, dir) => {
      // per-invocation unique artifact dir: a path keyed on the data
      // dir alone would let two concurrent batteries over the same
      // data race on the retract/rewrite sequence and serve a
      // mid-rewrite artifact (result determinism is unaffected — the
      // model content is a pure function of the data)
      val path = java.nio.file.Files
        .createTempDirectory("graft_pca_model_").toString + "/m"
      Similarity.persistPcaModel(
        Tables.embeddings(s, dir).where(col("vec_id") % pcaTrainMod === 0),
        path, k = pcaK, powerIters = pcaPowerIters, deterministic = true)
      val m = Similarity.readPcaModel(s, path)
      Similarity.pcaProject(Tables.embeddings(s, dir), m, whiten = true)
        .orderBy("vec_id")
    },
      // served = persisted-model round trip + whitening; the oracle is
      // the same chain with the √λ division
      pcaProjectOracleSql(whiten = true)),

    // chunk→document mean pooling over synthetic 10-chunk documents:
    // per-dimension means via the skinny (group, pos) aggregate,
    // arrays reassembled per group — repro-mode ascending-id folds.
    // Long-format (doc_id, n_chunks, pos, value) output for the gate
    // (array cells break the comparer's sort); the operator's
    // array<double> contract is unchanged.
    Query("q_embed_pool", (s, dir) =>
      Similarity.meanPoolEmbeddings(Tables.embeddings(s, dir),
          expr("vec_id DIV 10").as("doc_id"), deterministic = true)
        .select(col("doc_id"), col("n_chunks"),
          posexplode(col("embedding")).as(Seq("pos", "value")))
        .orderBy("doc_id", "pos"),
      // chunk→doc mean pooling: per-(group, pos) ascending-id fold means,
      // emitted long-format (one row per pooled dimension) with the
      // group's max chunk count replicated per row — the gate-safe
      // scalar-cell shape mirroring the Spark query's posexplode
      s"""WITH e AS (${embRowsSql(embedDim)}),
         |cells AS (SELECT vec_id // 10 AS g, vec_id AS id,
         |    u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
         |  FROM e, unnest(range(1, len(embedding) + 1)) AS u(i)),
         |per AS (SELECT g, pos,
         |    list_sum(list(x ORDER BY id)) / CAST(count(*) AS DOUBLE)
         |      AS m,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM cells GROUP BY g, pos),
         |n AS (SELECT g, max(c) AS n_chunks FROM per GROUP BY g)
         |SELECT per.g AS doc_id, n.n_chunks,
         |  CAST(per.pos AS INTEGER) AS pos, per.m AS value
         |FROM per JOIN n ON per.g = n.g
         |ORDER BY doc_id, pos""".stripMargin),

    // SemDeDup composition: the kMeans partition bounds the pair search
    // (shuffle key = cluster id), so the only all-pairs work left is
    // within-cluster — the scale answer to q_embed_cluster's global
    // kernel. Same star-CC → min-survivor decision; oracle = unrolled
    // kmeans chain + same-cluster pairs + recursive closure.
    Query("q_embed_semdedup", (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir),
          kClusters = kmeansK, iters = kmeansIters,
          threshold = semdedupThreshold, deterministic = true)
        .select(col("doc_id").as("vec_id"), col("survivor_id"))
        .orderBy("vec_id"),
      s"""WITH RECURSIVE ${kmeansCteChain(kmeansK, kmeansIters)},
         |$clusteredSql,
         |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        ${cosSql("a.embedding", "b.embedding")} AS cos
         |      FROM v a JOIN v b
         |        ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |${survivorsSql(semdedupThreshold, "embeddings", "v2")}""".stripMargin),

    // incremental SEMANTIC dedup — the embedding-side mirror of
    // q_dedup_incremental, running the production two-phase shape:
    // persistSemanticIndex trains k-means on the corpus slice ONCE and
    // writes centroids + cluster-keyed vectors; probeSemanticIndex
    // assigns the (vec_id % 10 == 0) batch against the PERSISTED
    // centroids (no re-training) and exact-cosines it within its
    // cluster only. Output: one row per batch vector (cluster,
    // match count, best cosine) — never vacuous, every row carries the
    // assignment even when nothing matches. Oracle: kmeans chain over
    // the corpus slice, batch assigned against the final centroids,
    // same-cluster pairs aggregated.
    Query("q_embed_incremental", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_sem_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      Similarity.persistSemanticIndex(emb.where(col("vec_id") % 10 =!= 0),
        idx, kClusters = kmeansK, iters = kmeansIters, deterministic = true)
      val cents = Similarity.readSemanticCentroids(s, idx)
      // mirror the oracle's bat CTE exactly: degenerate (null /
      // null-element / wrong-dim) batch vectors have no assignable
      // cluster and are excluded from the output, not emitted with a
      // garbage assignment
      val batch = emb.where(col("vec_id") % 10 === 0 &&
        Similarity.wellFormed(col("embedding")) &&
        size(col("embedding")) === cents.head.length)
      val matches = Similarity
        .probeSemanticIndex(batch, idx, semdedupThreshold)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_matched"), max(col("cos")).as("best_cos"))
      batch.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), cents).as("cluster"))
        .join(matches, col("vec_id") === col("batch_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          col("best_cos"))
        .orderBy("vec_id")
    },
      // the kmeans chain trained on the corpus slice, the batch assigned
      // against the FINAL centroids (the SQL mirror of probing persisted
      // centroids), exact cosine restricted to the assigned cluster's
      // corpus vectors, per-batch-vector aggregate
      {
        s"""WITH ${kmeansCteChain(kmeansK, kmeansIters, "AND vec_id % 10 <> 0")},
           |bat AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE $wellFormedSql
           |    AND len(embedding) = (SELECT len(embedding) FROM embeddings
           |      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 1)
           |    AND vec_id % 10 = 0),
           |bsc AS (SELECT bat.vec_id, $kmeansFinal.cluster,
           |    ${centCosSql("bat", kmeansFinal)} AS cos
           |  FROM bat, $kmeansFinal),
           |basn AS (SELECT vec_id, cluster FROM (
           |  SELECT vec_id, cluster, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rn
           |  FROM bsc) WHERE rn = 1),
           |corp AS (SELECT e.vec_id, e.embedding, a.cluster
           |  FROM e JOIN a$kmeansIters a USING (vec_id)),
           |pr AS (SELECT b.vec_id AS batch_id,
           |    ${cosSql("b.embedding", "c.embedding")} AS cos
           |  FROM bat b JOIN basn ON b.vec_id = basn.vec_id
           |  JOIN corp c ON basn.cluster = c.cluster),
           |m AS (SELECT batch_id, count(*) AS n_matched, max(cos) AS best_cos
           |  FROM pr WHERE cos >= $semdedupThreshold GROUP BY batch_id)
           |SELECT b.vec_id, CAST(basn.cluster AS INTEGER) AS cluster,
           |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched, m.best_cos
           |FROM bat b JOIN basn ON b.vec_id = basn.vec_id
           |LEFT JOIN m ON m.batch_id = b.vec_id
           |ORDER BY b.vec_id""".stripMargin
      }),

    // product quantization, the COMPRESSION tier of the ANN ladder
    // (Jégou et al. 2011): per-subspace codebooks trained driver-side on
    // the hash-ordered sample, corpus encoded to m small codes in one
    // codegen'd projection (PqEncodeL2). Oracle: training unrolled per
    // subspace in generated SQL (seeds → Lloyd → full-corpus argmin), so
    // the whole train → encode path must reproduce the codes exactly.
    Query("q_embed_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Pq.pqTrain(emb, m = pqM, ksub = pqKsub, iters = pqIters,
        sampleN = pqSampleN)
      Pq.encoded(emb, cb)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    },
      // PQ training unrolled per subspace + full-corpus argmin encode,
      // one scalar row per (vec_id, subspace)
      s"""WITH ${pqCteChain()}
         |SELECT vec_id, CAST(sub AS INTEGER) AS sub,
         |  CAST(code AS INTEGER) AS code
         |FROM codes ORDER BY vec_id, sub""".stripMargin),

    // ADC top-k over the SAME trained codebook: corpus encode → decode
    // (asymmetric: probes stay raw), exact top-k kernel over the
    // reconstructions. Oracle: the codes chain joined back to the final
    // codebook CTEs, reconstruction flattened in subspace order, then
    // the q_embed_cosine_topk ranking over reconstructed corpus ×
    // raw probes.
    Query("q_embed_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Pq.pqTrain(emb, m = pqM, ksub = pqKsub, iters = pqIters,
        sampleN = pqSampleN)
      Pq.pqTopK(emb, emb.where(col("vec_id") < 10), k = 5, cb)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      // the codes chain + codebook reconstruction (codeword floats —
      // CAST(x AS REAL) mirrors the engine's float storage, the outer
      // DOUBLE cast the fold arithmetic) + exact ranking
      s"""WITH ${pqCteChain()},
         |rec AS (SELECT cd.vec_id,
         |    flatten(list(list_transform(cb.cent,
         |      x -> CAST(CAST(x AS REAL) AS DOUBLE)) ORDER BY cd.sub)) AS re
         |  FROM codes cd JOIN cball cb
         |    ON cb.sub = cd.sub AND cb.code = cd.code
         |  GROUP BY cd.vec_id),
         |p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |      WHERE vec_id < 10),
         |sc AS (SELECT rec.vec_id AS nid, p.pid,
         |        list_sum(list_transform(range(1, len(re) + 1),
         |          i -> re[i] * CAST(pe[i] AS DOUBLE)))
         |        / nullif(
         |          sqrt(list_sum(list_transform(re, x -> x * x)))
         |          * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * x))),
         |          0) AS cos
         |      FROM rec, p WHERE rec.vec_id <> p.pid),
         |${topKSql("sc", 5)}""".stripMargin),

    // IVF-PQ, the canonical billion-scale ANN composition (coarse
    // k-means routing × residual PQ compression): probes search only
    // nProbe of the inverted lists, candidates scored by ADC over
    // centroid + decoded residual. Both approximation dials (routing
    // AND quantization) are replayed exactly by the generated oracle.
    Query("q_embed_ivfpq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Pq.ivfPqTopK(emb, emb.where(col("vec_id") < 10), k = 5,
          nCentroids = kmeansK, nProbe = 2, coarseIters = kmeansIters,
          m = pqM, ksub = pqKsub, pqIters = pqIters, deterministic = true)
        .orderBy("probe_id", "rank")
    },
      // coarse kmeans chain + residual PQ chain + routed ADC ranking
      ivfPqOracleSql(k = 5)),

    // int8 scalar quantization, the near-lossless 4x tier below PQ:
    // per-dim min/max affine codes. Order-independent training + fixed-
    // structure double arithmetic = fully hash-oracle-able, unlike
    // approximate-ANN recall.
    Query("q_embed_sq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val p = Sq.sqTrain(emb)
      Sq.encoded(emb, p)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("i", "code")))
        .orderBy("vec_id", "i")
    },
      // int8 affine codes per dimension
      s"""WITH $sqCteChain
         |SELECT vec_id, CAST(i - 1 AS INTEGER) AS i, code
         |FROM codes ORDER BY vec_id, i""".stripMargin),

    // ranking over the int8-reconstructed corpus: recall is ~exact (the
    // oracle replays quantize -> dequantize -> rank bit-for-bit)
    Query("q_embed_sq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val p = Sq.sqTrain(emb)
      Sq.sqTopK(emb, emb.where(col("vec_id") < 10), k = 5, p)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      // ranking over the int8 reconstruction
      s"""WITH $sqCteChain,
         |recon AS (SELECT c.vec_id,
         |    list(CAST(CAST(m.mn + c.code * ((m.mx - m.mn) / 255) AS REAL)
         |      AS DOUBLE) ORDER BY c.i) AS re
         |  FROM codes c JOIN mm m ON c.i = m.i GROUP BY c.vec_id),
         |p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |      WHERE vec_id < 10),
         |sc AS (SELECT rec.vec_id AS nid, p.pid,
         |    list_sum(list_transform(range(1, $embedDim + 1),
         |      i -> rec.re[i] * CAST(p.pe[i] AS DOUBLE)))
         |    / nullif(
         |      sqrt(list_sum(list_transform(rec.re, x -> x * x)))
         |      * sqrt(list_sum(list_transform(p.pe, x -> CAST(x AS DOUBLE) * x))),
         |      0) AS cos
         |  FROM recon rec, p WHERE rec.vec_id <> p.pid),
         |${topKSql("sc", 5)}""".stripMargin),

    // binary quantization (the 32x tier): sign-bit words, Hamming
    // pre-rank (integer-exact), exact-cosine rerank of the 50 best
    // candidates per probe — approximation dial (rerank) under the
    // hash oracle like ivfpq's nProbe
    Query("q_embed_bq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Bq.hammingTopK(emb, emb.where(col("vec_id") < 10), k = 5,
          rerank = 50)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      // every stage engine-exact (see bqTopKOracleSql)
      bqTopKOracleSql(k = 5, rerank = 50)),

    // the vector-side data card: per-label counts, dim bounds, and norm
    // stats in one pass — min/max are order-independent (hash-exact for
    // free); the norm SUM uses the deterministic id-ordered fold (the
    // kmeans/perceptron repro-mode pattern: per-label cells collected —
    // the documented oracle-mode cost; the 100 TB path swaps in the
    // plain partial-agg sum, identical to ulps)
    Query("q_embed_datacard", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // size > 0: a zero-length vector would diverge the engines (Spark's
      // empty fold is 0.0, DuckDB's list_sum([]) NULL) and means nothing
      // in a norm report anyway
      val cells = emb.where(Similarity.wellFormed(col("embedding")) &&
          size(col("embedding")) > 0)
        .select(col("label"), col("vec_id"),
          size(col("embedding")).as("dim"),
          Similarity.norm(col("embedding")).as("nrm"))
      sequentialSumByKey(cells, Seq("label"), "vec_id", "nrm",
          extraAggs = Seq(
            min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
            min(col("nrm")).as("norm_min"),
            max(col("nrm")).as("norm_max")))
        .select(col("label"), col("__count").as("n_vecs"),
          col("dim_min"), col("dim_max"), col("norm_min"),
          col("norm_max"), col("__sum").as("norm_sum"))
        .orderBy("label")
    },
      // norms: sqrt of the index-ordered element fold (the standard
      // cosine-oracle arithmetic); norm_sum replays the id-ordered fold
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE $wellFormedSql AND len(embedding) > 0),
        |n AS (SELECT vec_id, label, len(embedding) AS dim,
        |        sqrt(list_sum(list_transform(embedding,
        |          x -> CAST(x AS DOUBLE) * x))) AS nrm
        |      FROM e)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(dim) AS INTEGER) AS dim_min,
        |  CAST(max(dim) AS INTEGER) AS dim_max,
        |  min(nrm) AS norm_min, max(nrm) AS norm_max,
        |  list_sum(list(nrm ORDER BY vec_id)) AS norm_sum
        |FROM n GROUP BY label ORDER BY label""".stripMargin),

    // the PERSISTED BQ serving index: the corpus slice encodes + persists
    // once (words parquet IS the pre-rank input — zero re-encode at
    // probe time), the held-out batch probes it against a separate
    // vector fetch tier — the standard ANN-index/fetch-tier deployment
    // split. Oracle: the same BQ chain with corpus and probes narrowed.
    Query("q_embed_bq_probe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_bq_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      val corpus = emb.where(col("vec_id") % 10 =!= 0)
      Bq.persistBqIndex(corpus, idx)
      Bq.probeBqIndex(emb.where(col("vec_id") % 10 === 0), idx, corpus,
          k = 3, rerank = 30)
        .select(col("probe_id"), col("rank"), col("nbr_id"))
        .orderBy("probe_id", "rank")
    },
      // same chain, corpus and probes narrowed to the persisted-index
      // split — the probe path must reproduce the in-query math exactly
      bqTopKOracleSql(k = 3, rerank = 30,
        probeWhere = "vec_id % 10 = 0", corpusWhere = "vec_id % 10 <> 0")),

    // the PERSISTED IVF-PQ index (ANN serving tier): the corpus slice
    // trains + persists once (inverted lists partitioned by cluster,
    // codes not vectors), the (vec_id % 10 == 0) batch probes the
    // persisted artifacts with zero re-training — routing reads only
    // nProbe list partitions (DPP on the partition column). Oracle: the
    // same ivfpq chain with the corpus narrowed and probes re-based.
    Query("q_embed_ivfpq_probe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = System.getProperty("java.io.tmpdir") +
        s"/graft_ivfpq_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      Pq.persistIvfPqIndex(emb.where(col("vec_id") % 10 =!= 0), idx,
        nCentroids = kmeansK, coarseIters = kmeansIters,
        m = pqM, ksub = pqKsub, pqIters = pqIters, deterministic = true)
      Pq.probeIvfPqIndex(emb.where(col("vec_id") % 10 === 0), idx,
          k = 3, nProbe = 2)
        .orderBy("probe_id", "rank")
    },
      // the same chain, corpus narrowed to the persisted slice and probes
      // re-based to the incremental batch — the SQL mirror of probing
      // persisted coarse/codebook/list artifacts
      ivfPqOracleSql(k = 3, corpusWhere = "AND vec_id % 10 <> 0",
        probeWhere = "vec_id % 10 = 0")),

    // threshold 0.45: the synthetic embeddings are near-orthogonal random
    // vectors (max pairwise cos ≈ 0.6 at sf0.1), so 0.45 yields a real,
    // non-empty tail while staying > 3σ above the cos≈N(0, 1/64) noise
    Query("q_embed_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b"),
      nearDupPairsSql),

    // the beyond-broadcast SCALE path for the same contract, verified
    // against the same brute-force oracle. Params: collision prob per table
    // is (1 - acos(cos)/pi)^nBits; this corpus's true pairs sit barely above
    // the noise floor (cos 0.45-0.6 => p_bit ~ 0.65), so exact recall needs
    // low selectivity (nBits=2, nTables=16 — verified 0 misses on both
    // sf0.01 and sf0.1; deterministic hyperplanes make that stable). At a
    // production near-dup threshold (cos >= 0.9 => p_bit ~ 0.86) the same
    // operator runs selective: nBits=16, nTables=8 gives miss ~ 1e-4 with
    // 65k-bucket join keys.
    Query("q_embed_neardup_lsh", (s, dir) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), 0.45,
          nBits = 2, nTables = 16)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b"),
      // LSH path must return exactly the brute-force pair set (recall tuned
      // to exact on this corpus; precision exact by the final cosine verify)
      nearDupPairsSql)
  )
}
