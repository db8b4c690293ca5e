package graft
package battery

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Query

/** Entity resolution over synthetic customer-name variants, plus the
  * bibliometric indices. */
private[graft] object EntityQueries {

  /** Shared oracle CTEs for the entity-resolution family: the
    * deterministic variant construction (mirrors `entityNameVariants`
    * literally), blocking + maxBlock guard, the integer levenshtein
    * gate, and the recursive min-reachability closure down to an `ent`
    * (id, name, entity_id) frame. Callers prepend WITH RECURSIVE. */
  private def entityClosureCtes(recPred: String = "TRUE",
                                gateNum: Int = 1, gateDen: Int = 8) =
    s"""c0 AS (
      |  SELECT c_custkey,
      |    'zor' || replace(replace(replace(replace(replace(replace(
      |      replace(replace(replace(replace(
      |        lpad(CAST(c_custkey AS VARCHAR), 6, '0'),
      |      '0','bar'),'1','dex'),'2','fin'),'3','gol'),'4','hup'),
      |      '5','jyc'),'6','kwm'),'7','mrd'),'8','nsk'),'9','ptz')
      |      AS name0,
      |    CAST(c_custkey % 3 AS INT) AS p
      |  FROM customer),
      |v AS (
      |  SELECT c_custkey*3 AS id, substr(name0,1,7) || ' ' ||
      |      substr(name0,8,7) || ' ' || substr(name0,15,7) AS name
      |  FROM c0
      |  UNION ALL
      |  SELECT c_custkey*3+1, 'dr. ' || substr(name0,1,7) || ' ' ||
      |      substr(name0,8,7) || ' ' || substr(name0,15,7)
      |  FROM c0
      |  UNION ALL
      |  SELECT c_custkey*3+2, substr(name0,1,p) || substr(name0,p+2,24)
      |  FROM c0),
      |vv AS (SELECT * FROM v WHERE $recPred),
      |n AS (SELECT id, name,
      |        regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
      |      FROM vv),
      |nb AS (SELECT id, norm, substr(norm, -9, 9) AS blk FROM n
      |       WHERE norm IS NOT NULL AND length(norm) > 0),
      |ok AS (SELECT blk FROM nb GROUP BY blk HAVING count(*) <= 1000),
      |nn AS (SELECT nb.* FROM nb JOIN ok USING (blk)),
      |e0 AS (SELECT a.id AS src, b.id AS dst FROM nn a JOIN nn b
      |       ON a.blk = b.blk AND a.id < b.id
      |       AND levenshtein(a.norm, b.norm) * $gateDen <=
      |           greatest(length(a.norm), length(b.norm)) * $gateNum),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach AS (SELECT src, dst FROM edges
      |          UNION SELECT r.src, e.dst
      |          FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS id, min(dst) AS reach_min
      |         FROM reach GROUP BY src),
      |ent AS (SELECT n.id, n.name,
      |          CAST(least(coalesce(c.reach_min, n.id), n.id) AS BIGINT)
      |            AS entity_id
      |        FROM n LEFT JOIN comp c USING (id))""".stripMargin

  /** Deterministic per-customer name variants for the entity-resolution
    * battery query: a canonical syllable name (digit → trigram with
    * positionwise-disjoint alphabets, so names of DISTINCT customers sit
    * at levenshtein >= 3), a titled form (distance 2 after
    * normalization) and a one-char-deletion typo (distance 1) — the
    * construction is mirrored literally by the oracle SQL. The typo
    * deletes inside a CONSTANT leading syllable ("zor", not derived
    * from any digit), never a discriminating one: two same-block typos
    * whose deletions both hit their single differing syllable at the
    * same offset would sit at distance 2 — inside the gate. Earlier
    * forms learned this twice: deleting at custkey%6 let custkeys
    * 3000 apart align (833 spurious merges at sf0.1), and deleting in
    * digit 0's syllable survives only while custkeys stay under
    * 100000 (12345 vs 112345 differ in the LEADING digit). The
    * constant head keeps cross-customer distance >= 3 at every
    * custkey range, so expected clusters = exactly one per customer
    * everywhere. */
  private def entityNameVariants(s: SparkSession, dir: String): DataFrame = {
    val syls = Seq("0" -> "bar", "1" -> "dex", "2" -> "fin", "3" -> "gol",
      "4" -> "hup", "5" -> "jyc", "6" -> "kwm", "7" -> "mrd",
      "8" -> "nsk", "9" -> "ptz")
    // the constant "zor" head is where the typo deletion lands: every
    // DIGIT syllable can differ between same-block customers once
    // custkeys exceed one digit span (e.g. 12345 vs 112345 differ in
    // the leading digit), so deleting inside any digit syllable would
    // let two aligned typos sit at distance 2 — inside the gate
    val name0 = concat(lit("zor"), syls.foldLeft(
      lpad(col("c_custkey").cast("string"), 6, "0"): Column) {
      case (c, (d, sy)) => replace(c, lit(d), lit(sy))
    })
    val pretty = concat(substring(col("name0"), 1, 7), lit(" "),
      substring(col("name0"), 8, 7), lit(" "),
      substring(col("name0"), 15, 7))
    Tables.customer(s, dir)
      .select(col("c_custkey"), name0.as("name0"),
        (col("c_custkey") % 3).cast("int").as("p"))
      .select(explode(array(
        struct((col("c_custkey") * 3).as("id"), pretty.as("name")),
        struct((col("c_custkey") * 3 + 1).as("id"),
          concat(lit("dr. "), pretty).as("name")),
        struct((col("c_custkey") * 3 + 2).as("id"),
          concat(substr(col("name0"), lit(1), col("p")),
            substr(col("name0"), col("p") + 2, lit(24))).as("name"))))
        .as("r"))
      .select(col("r.id").as("id"), col("r.name").as("name"))
  }

  def entries: Seq[Query] = Seq(
    // per-venue citation indices (h, g, i10, totals) over a deterministic
    // integer citation proxy — the rollup layer the reference domain's
    // metrics-enrichment (X1) feeds; all-integer window math, so the
    // oracle is trivially bit-exact
    Query("q_biblio_hindex", (s, dir) =>
      graft.operators.Biblio.scholarIndices(
          Tables.documents(s, dir).withColumn("cites",
            pmod(col("n_chars") * 31 + col("doc_id"), lit(997L))),
          col("source"), col("doc_id"), col("cites"))
        .withColumnRenamed("grp", "source")
        .orderBy("source"),
      // h/g/i10 indices: identical rank + running-sum windows (total order
      // (cites desc, doc_id asc) makes RANGE ≡ ROWS on both engines)
      """WITH p AS (SELECT source, doc_id,
        |             (n_chars * 31 + doc_id) % 997 AS cites
        |           FROM documents),
        |r AS (SELECT source, cites,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY cites DESC, doc_id ASC) AS r,
        |        sum(cites) OVER (PARTITION BY source
        |          ORDER BY cites DESC, doc_id ASC) AS cum
        |      FROM p)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_papers,
        |  CAST(sum(cites) AS BIGINT) AS n_cites,
        |  CAST(coalesce(max(CASE WHEN cites >= r THEN r END), 0) AS BIGINT)
        |    AS h_index,
        |  CAST(coalesce(max(CASE WHEN cum >= r * r THEN r END), 0) AS BIGINT)
        |    AS g_index,
        |  CAST(sum(CASE WHEN cites >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS i10
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // fuzzy entity resolution (author disambiguation): every customer
    // yields three deterministic name variants (canonical, titled at
    // distance 2, one-char typo at distance 1); blocking on the last 9
    // normalized chars bounds the pair space, the integer
    // cross-multiplied levenshtein gate (dist*8 <= maxlen) admits the
    // variants while distinct customers stay at distance >= 3, and
    // star-CC labels every variant with its cluster-min entity id. The
    // typo↔titled distance is 3 — ABOVE the gate — so the cluster closes
    // only TRANSITIVELY through the canonical form: the query pins the
    // closure, not just pairwise matching.
    Query("q_entity_resolve", (s, dir) => {
      val recs = entityNameVariants(s, dir)
      val resolved = graft.operators.EntityResolution.resolveEntities(
        recs, col("id"), col("name"), n => substring(n, -9, 9))
      recs.join(resolved, Seq("id"))
        .select(col("id"), col("name"), col("entity_id"))
        .orderBy("id")
    },
      // entity resolution: identical variant construction, blocking, and
      // integer levenshtein gate; cluster labels via the recursive
      // min-reachability closure (DuckDB regexp_replace needs the 'g'
      // flag to match Spark's replace-all semantics)
      s"""WITH RECURSIVE ${entityClosureCtes()}
         |SELECT id, name, entity_id FROM ent
         |ORDER BY id""".stripMargin),

    // incremental entity resolution: resolve 90% of variants once into
    // the write-once entity index (custkey%10==0 held out entirely;
    // custkey%10==1 typos held out), then probe the held-out batch —
    // typos of indexed customers must ADOPT the persisted entity, novel
    // customers' variants resolve among themselves; probe cost tracks
    // the batch
    Query("q_entity_incremental", (s, dir) => {
      val idxPath = System.getProperty("java.io.tmpdir") +
        s"/graft_entity_idx_${math.floorMod(dir.hashCode, 1 << 30)}"
      val recs = entityNameVariants(s, dir)
      val corpus = recs.where(expr(
        "(id DIV 3) % 10 <> 0 AND NOT ((id DIV 3) % 10 = 1 AND id % 3 = 2)"))
      val batch = recs.where(expr(
        "(id DIV 3) % 10 = 0 OR ((id DIV 3) % 10 = 1 AND id % 3 = 2)"))
      graft.operators.EntityResolution.persistEntityIndex(corpus,
        col("id"), col("name"), n => substring(n, -9, 9), idxPath)
      graft.operators.EntityResolution.probeEntityIndex(batch,
          col("id"), col("name"), n => substring(n, -9, 9), idxPath)
        .orderBy("id")
    },
      // incremental ER: corpus closure under the corpus predicate gives
      // the persisted entities; the batch then mirrors the probe contract
      // exactly — both-side block guards, the same integer gate
      // batch-vs-index and batch-vs-batch, batch components via their own
      // recursive closure, one-hop corpus adoption by component min
      {
      val corpusPred =
        "(id // 3) % 10 <> 0 AND NOT ((id // 3) % 10 = 1 AND id % 3 = 2)"
      val batchPred =
        "(id // 3) % 10 = 0 OR ((id // 3) % 10 = 1 AND id % 3 = 2)"
      s"""WITH RECURSIVE ${entityClosureCtes(corpusPred)},
         |ci AS (SELECT nb.id, nb.norm, nb.blk, e.entity_id
         |       FROM nb JOIN ent e USING (id)),
         |iok AS (SELECT blk FROM ci GROUP BY blk
         |        HAVING count(*) <= 1000),
         |bn AS (SELECT id, name,
         |         regexp_replace(lower(name), '[^a-z0-9]', '', 'g')
         |           AS norm
         |       FROM v WHERE $batchPred),
         |bnb AS (SELECT id, norm, substr(norm, -9, 9) AS blk FROM bn
         |        WHERE norm IS NOT NULL AND length(norm) > 0),
         |bok AS (SELECT blk FROM bnb GROUP BY blk
         |        HAVING count(*) <= 1000),
         |bg AS (SELECT bnb.* FROM bnb JOIN bok USING (blk)),
         |mb AS (SELECT b.id, min(i.entity_id) AS ext
         |       FROM bg b JOIN iok USING (blk)
         |       JOIN ci i ON b.blk = i.blk
         |        AND levenshtein(b.norm, i.norm) * 8 <=
         |            greatest(length(b.norm), length(i.norm)) * 1
         |       GROUP BY b.id),
         |be0 AS (SELECT a.id AS src, b.id AS dst FROM bg a JOIN bg b
         |        ON a.blk = b.blk AND a.id < b.id
         |        AND levenshtein(a.norm, b.norm) * 8 <=
         |            greatest(length(a.norm), length(b.norm)) * 1),
         |bedges AS (SELECT src, dst FROM be0
         |           UNION SELECT dst, src FROM be0),
         |breach AS (SELECT src, dst FROM bedges
         |           UNION SELECT r.src, e.dst
         |           FROM breach r JOIN bedges e ON r.dst = e.src),
         |bcomp AS (SELECT src AS id, min(dst) AS reach_min
         |          FROM breach GROUP BY src),
         |ba AS (SELECT bn.id,
         |         least(coalesce(c.reach_min, bn.id), bn.id) AS comp
         |       FROM bn LEFT JOIN bcomp c USING (id)),
         |ec AS (SELECT ba.comp, min(mb.ext) AS comp_ext
         |       FROM ba JOIN mb USING (id) GROUP BY ba.comp)
         |SELECT ba.id,
         |  CAST(least(coalesce(ec.comp_ext, ba.comp), ba.comp) AS BIGINT)
         |    AS entity_id
         |FROM ba LEFT JOIN ec USING (comp)
         |ORDER BY ba.id""".stripMargin
    }),

    // Jaro-Winkler scores via the codegen'd expression — raw DOUBLES
    // under the hash oracle, legal because the expression's operation
    // order is bit-identical to DuckDB's jaro_winkler_similarity
    // (30k-pair fuzz, see JaroWinkler scaladoc); titled/typo variants
    // scored against each customer's canonical name
    Query("q_scalar_jarowinkler", (s, dir) => {
      val v = entityNameVariants(s, dir)
      val canon = v.where(expr("id % 3 = 0"))
        .select(expr("id DIV 3").as("ck"), col("name").as("canonical"))
      v.where(expr("id % 3 <> 0"))
        .select(expr("id DIV 3").as("ck"), col("id"), col("name"))
        .join(canon, "ck")
        .select(col("id"), col("name"), col("canonical"),
          graft.functions.StringSimilarity.jaroWinkler(col("name"),
            col("canonical")).as("jw"))
        .orderBy("id")
    },
      // jaro-winkler: DuckDB's native function against the expression's
      // pinned operation order (only c0/v of the shared CTEs execute —
      // unreferenced CTEs are not evaluated)
      s"""WITH RECURSIVE ${entityClosureCtes()}
         |SELECT o.id, o.name, c.name AS canonical,
         |  jaro_winkler_similarity(o.name, c.name) AS jw
         |FROM v o JOIN v c
         |  ON o.id // 3 = c.id // 3 AND c.id % 3 = 0 AND o.id % 3 <> 0
         |ORDER BY o.id""".stripMargin),

    // linkage-quality evaluation: cluster-level precision/recall/F1 of
    // the resolution against the construction's ground truth (variants
    // of one customer = one entity), at the default gate (perfect) and
    // a stricter 1/12 gate that excludes the distance-2 titled variants
    // (recall drops to exactly 1/3) — the measurement harness a real
    // linkage deployment tunes its gate with. All counts are integer
    // pair sums Σ C(size,2); the three ratios are single divisions
    Query("q_entity_eval", (s, dir) => {
      // fixed 500-customer slice: two full resolutions would dominate
      // the battery, and the slice makes the expected metrics
      // sf-invariant (recall exactly 1/3 under the strict gate)
      val recs = entityNameVariants(s, dir)
        .where(expr("id DIV 3 < 500"))
      def metrics(num: Int, den: Int): DataFrame = {
        val ent = graft.operators.EntityResolution.resolveEntities(
            recs, col("id"), col("name"), n => substring(n, -9, 9),
            maxDistNum = num, maxDistDen = den)
          .withColumn("truth", expr("id DIV 3"))
        val pairsOf = expr("c * (c - 1) DIV 2")
        val nRec = ent.agg(count(lit(1)).as("n_records"))
        val nEnt = ent.groupBy("entity_id").agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_entities"),
            sum(pairsOf).as("n_pred_pairs"))
        val nTrue = ent.groupBy("truth").agg(count(lit(1)).as("c"))
          .agg(sum(pairsOf).as("n_true_pairs"))
        val nTp = ent.groupBy("entity_id", "truth")
          .agg(count(lit(1)).as("c"))
          .agg(sum(pairsOf).as("n_tp"))
        nRec.crossJoin(nEnt).crossJoin(nTrue).crossJoin(nTp)
          .select(lit(s"$num/$den").as("gate"), col("n_records"),
            col("n_entities"), col("n_true_pairs"), col("n_pred_pairs"),
            col("n_tp"),
            (col("n_tp").cast("double") / col("n_pred_pairs")).as("prec"),
            (col("n_tp").cast("double") / col("n_true_pairs")).as("rec"))
          .withColumn("f1", lit(2.0) * col("prec") * col("rec") /
            (col("prec") + col("rec")))
      }
      metrics(1, 8).unionAll(metrics(1, 12)).orderBy("gate")
    },
      // linkage evaluation: the same closure at each gate inside its own
      // WITH subquery (CTE names would collide in one scope); metric
      // ratios recomputed per reference — identical division, identical
      // bits
      {
      def gateSql(num: Int, den: Int): String =
        s"""(WITH RECURSIVE ${
             entityClosureCtes("(id // 3) < 500", num, den)},
           |e2 AS (SELECT id, id // 3 AS truth, entity_id FROM ent),
           |sz AS (SELECT entity_id, count(*) AS c FROM e2 GROUP BY 1),
           |tr AS (SELECT truth, count(*) AS c FROM e2 GROUP BY 1),
           |tp AS (SELECT entity_id, truth, count(*) AS c FROM e2
           |       GROUP BY 1, 2),
           |m AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM e2) AS n_records,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_entities,
           |  (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM tr)
           |    AS n_true_pairs,
           |  (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM sz)
           |    AS n_pred_pairs,
           |  (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM tp) AS n_tp)
           |SELECT '$num/$den' AS gate, n_records, n_entities,
           |  n_true_pairs, n_pred_pairs, n_tp,
           |  CAST(n_tp AS DOUBLE) / n_pred_pairs AS prec,
           |  CAST(n_tp AS DOUBLE) / n_true_pairs AS rec,
           |  2.0 * (CAST(n_tp AS DOUBLE) / n_pred_pairs) *
           |    (CAST(n_tp AS DOUBLE) / n_true_pairs) /
           |    ((CAST(n_tp AS DOUBLE) / n_pred_pairs) +
           |     (CAST(n_tp AS DOUBLE) / n_true_pairs)) AS f1
           |FROM m)""".stripMargin
      s"""SELECT * FROM ${gateSql(1, 8)}
         |UNION ALL SELECT * FROM ${gateSql(1, 12)}
         |ORDER BY gate""".stripMargin
    }),

    // the aggregate entity resolution EXISTS for: per-variant
    // aggregation counts each spelling separately (3 rows per author
    // here); grouping by the RESOLVED id rolls the measure up to the
    // real-world entity — one groupBy after the resolution join
    Query("q_entity_rollup", (s, dir) => {
      val recs = entityNameVariants(s, dir)
        .withColumn("cites", col("id") * 31 % 97)
      val resolved = graft.operators.EntityResolution.resolveEntities(
        recs, col("id"), col("name"), n => substring(n, -9, 9))
      recs.join(resolved, Seq("id"))
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          sum(col("cites")).as("sum_cites"),
          min(col("name")).as("canonical_name"))
        .orderBy("entity_id")
    },
      // resolved rollup: the aggregate ER exists FOR — same closure CTEs,
      // then per-entity sums instead of per-variant rows
      s"""WITH RECURSIVE ${entityClosureCtes()}
         |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(sum((id * 31) % 97) AS BIGINT) AS sum_cites,
         |  min(name) AS canonical_name
         |FROM ent GROUP BY entity_id
         |ORDER BY entity_id""".stripMargin)
  )
}
