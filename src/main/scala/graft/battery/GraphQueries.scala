package graft
package battery

import org.apache.spark.sql.functions._

import graft.SparkEntry.{Query, cooccurPairCtes, hexPrefixSql}

/** Graph and recommendation: PageRank/PPR/HITS, co-citation, walks and
  * negatives, link prediction, communities, k-core, BFS, CF and ALS. */
private[graft] object GraphQueries {

  // rank-1 ALS: rounds + ridge, shared by q_rec_als and its unrolled
  // oracle (the λ literal must be the same decimal text both sides)
  private val alsIters = 2
  private val alsLambda = 0.1
  private val kcoreK = 4
  private val kcoreRounds = 4
  private val bfsRounds = 3

  /** Co-purchase baskets (order `b`, part i) over `from`, baskets of
    * more than 1,000 items dropped: CTEs m, sz, kept. */
  private def basketCtes(b: String = "l_orderkey",
                         from: String = "lineitem"): String =
    s"""m AS (SELECT DISTINCT CAST($b AS BIGINT) AS b,
       |        CAST(l_partkey AS BIGINT) AS i FROM $from),
       |sz AS (SELECT b, count(*) AS sz FROM m GROUP BY b),
       |kept AS (SELECT m.b, m.i FROM m JOIN sz USING (b)
       |         WHERE sz <= 1000)""".stripMargin

  /** Kept-set item marginals and the cooc >= 2 co-occurrence pairs. */
  private val coocCtes =
    """marg AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM kept
      |         GROUP BY i),
      |pr AS (SELECT a.i AS i1, c.i AS i2,
      |         CAST(count(*) AS BIGINT) AS n_cooc
      |       FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
      |       GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** The item-neighbor model (binary cosine, mirrored, top-10 per item)
    * and the votes of the users in `ui` for items they do not own. */
  private val recommendCtes =
    """sim AS (SELECT i1, i2, n_cooc,
      |          CAST(n_cooc AS DOUBLE) /
      |            sqrt(CAST(m1.n_i * m2.n_i AS DOUBLE)) AS cosine
      |        FROM pr JOIN marg m1 ON pr.i1 = m1.i
      |                JOIN marg m2 ON pr.i2 = m2.i),
      |mir AS (SELECT i1 AS item, i2 AS nbr, n_cooc, cosine FROM sim
      |        UNION ALL
      |        SELECT i2, i1, n_cooc, cosine FROM sim),
      |model AS (SELECT * FROM (
      |            SELECT item, nbr, n_cooc,
      |              row_number() OVER (PARTITION BY item
      |                ORDER BY cosine DESC, n_cooc DESC, nbr ASC) AS rnk
      |            FROM mir) WHERE rnk <= 10)""".stripMargin

  private val votesCtes =
    """votes AS (SELECT u, nbr AS rec,
      |            CAST(sum(n_cooc) AS BIGINT) AS score,
      |            CAST(count(*) AS BIGINT) AS n_links
      |          FROM ui JOIN model ON ui.i = model.item GROUP BY 1, 2),
      |unseen AS (SELECT v.u, v.rec, v.score, v.n_links FROM votes v
      |           WHERE NOT EXISTS (SELECT 1 FROM ui
      |             WHERE ui.u = v.u AND ui.i = v.rec))""".stripMargin

  /** The 12-hex md5 draw of walk step `t` from the row aliased `st`. */
  private def stepDrawSql(seed: String, t: Int): String = hexPrefixSql(
    s"md5('$seed' || ':' || CAST(st.start AS VARCHAR) || " +
      s"':' || CAST(st.walk AS VARCHAR) || ':' || '$t')", 12)

  /** Every (start, walk, step, node) of the step CTEs s0 … s`walkLen`. */
  private def walkRowsSql(walkLen: Int): String = (0 to walkLen).map { t =>
    s"SELECT start, walk, CAST($t AS INTEGER) AS step, cur AS node " +
      s"FROM s$t"
  }.mkString("\nUNION ALL\n")

  /** Unrolled random-walk oracle (q_graph_walks): the co-purchase
    * similarity graph (the q_graph_linkpred edge CTEs, spelled out
    * textually per the repo's oracle convention), ranked adjacency via
    * row_number, then `walkLen` MATERIALIZED step CTEs each replaying
    * `Graph.randomWalks`' md5 draw: hexPrefix12(md5(seed:start:walk:t))
    * mod cur_deg into the ascending-neighbor rank. */
  private def graphWalksOracleSql(walkLen: Int, seed: String,
      finalSelect: String =
        "SELECT start, walk, step, node FROM wk " +
          "ORDER BY start, walk, step",
      extraCtes: Seq[String] = Nil): String = {
    val base =
      s"""${basketCtes()},
         |e AS MATERIALIZED (SELECT a.i AS a, c.i AS b
         |  FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |sym AS (SELECT a AS u, b AS n FROM e
         |        UNION ALL SELECT b, a FROM e),
         |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY u),
         |adj AS MATERIALIZED (SELECT s.u,
         |    row_number() OVER (PARTITION BY s.u ORDER BY s.n) - 1
         |      AS rank,
         |    s.n AS nbr, dn.deg AS nbr_deg
         |  FROM sym s JOIN deg dn ON dn.u = s.n),
         |s0 AS MATERIALIZED (SELECT u AS start, CAST(0 AS INTEGER)
         |    AS walk, u AS cur, deg AS cur_deg FROM deg)""".stripMargin
    val steps = (1 to walkLen).map { t =>
      s"""s$t AS MATERIALIZED (SELECT st.start, st.walk,
         |    a.nbr AS cur, a.nbr_deg AS cur_deg
         |  FROM s${t - 1} st JOIN adj a ON a.u = st.cur
         |    AND a.rank = ((${stepDrawSql(seed, t)}) % st.cur_deg))"""
        .stripMargin
    }
    "WITH " + ((base +: steps) ++ (s"wk AS (\n${walkRowsSql(walkLen)})" +:
      extraCtes)).mkString(",\n") + "\n" + finalSelect
  }

  /** The bipartite customer→supplier graph (namespaced 2k / 2k+1 node
    * ids) of PageRank, PPR and HITS, as `e`. */
  private val custSuppEdgesCte =
    """e AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
      |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
      |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  /** The co-purchase graph of parts sharing a sampled order, as the
    * symmetric edge CTE `sym` (v, n). */
  private val partGraphCtes =
    """li AS (SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 13 = 0),
      |ed AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey),
      |sym AS (SELECT a AS v, b AS n FROM ed
      |        UNION SELECT b, a FROM ed)""".stripMargin

  /** The ALS ratings (customer, part, max quantity) of the %10 customer
    * slice, as `ra`. */
  private val ratingsCte =
    """ra AS MATERIALIZED (SELECT u, i, max(r) AS r FROM (
      |    SELECT CAST(o_custkey AS BIGINT) AS u,
      |           CAST(l_partkey AS BIGINT) AS i,
      |           CAST(l_quantity AS BIGINT) AS r
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    WHERE o_custkey % 10 = 0) GROUP BY u, i)""".stripMargin

  def entries: Seq[Query] = Seq(
    // graph centrality: 3-round PageRank over the customer→supplier
    // interaction graph (namespaced 2k / 2k+1 node ids), repro mode —
    // per-dst and dangling sums fold in ascending-src/-id order so the
    // doubles hash-match the oracle's list_sum(list(x ORDER BY ...));
    // all suppliers are dangling here, exercising the D/N redistribution
    Query("q_graph_pagerank", (s, dir) => {
      val e = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      graft.operators.Graph.pageRank(e, col("src"), col("dst"),
          iters = 3, deterministic = true)
        .orderBy(col("rank").desc, col("id").asc)
        .limit(100)
        .select(col("id"), col("outdeg"), col("rank"))
    },
      // 3-round PageRank, unrolled. Float discipline: every decimal literal
      // is forced into DOUBLE space before arithmetic (DuckDB's bare
      // (1 - 0.85) is exact DECIMAL 0.15, which is NOT the engine's
      // 1.0-0.85 double); per-dst/dangling sums are ordered list folds
      // matching the engine's array_sort fold
      {
      def iter(prev: String, k: Int): String =
        s"""d$k AS (SELECT coalesce(list_sum(list(rank ORDER BY id)),
           |          CAST(0 AS DOUBLE)) AS dm
           |        FROM $prev WHERE outdeg = 0),
           |c$k AS (SELECT e.dst AS id,
           |          list_sum(list(r.rank / r.outdeg ORDER BY e.src)) AS ct
           |        FROM e JOIN $prev r ON e.src = r.id GROUP BY e.dst),
           |r$k AS (SELECT nd.id, nd.outdeg,
           |          (CAST(1 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
           |            + 0.85 * (coalesce(ct, CAST(0 AS DOUBLE))
           |              + (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS rank
           |        FROM nd LEFT JOIN c$k USING (id))""".stripMargin
      s"""WITH $custSuppEdgesCte,
         |od AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg
         |       FROM e GROUP BY src),
         |nd AS (SELECT id, coalesce(outdeg, 0) AS outdeg
         |       FROM (SELECT DISTINCT id FROM
         |              (SELECT src AS id FROM e
         |               UNION ALL SELECT dst FROM e))
         |       LEFT JOIN od USING (id)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
         |r0 AS (SELECT id, outdeg,
         |         CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nd),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT id, outdeg, rank FROM r3
         |ORDER BY rank DESC, id ASC LIMIT 100""".stripMargin
    }),

    // co-citation counts (suppliers sharing a customer), the Small-1973
    // relatedness signal; the out-degree cap (hub exclusion) is part of
    // the operator contract and mirrored by the oracle — here no source
    // exceeds it, pinned by the n_dropped_sources=0 column on every row
    Query("q_graph_cocitation", (s, dir) => {
      val e = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.operators.Graph.coCitation(e, col("src"), col("dst"))
        .orderBy(col("n_common").desc, col("d1").asc, col("d2").asc)
        .limit(100)
    },
      // co-citation: the same degree-capped self-join, integer counts only
      """WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |             CAST(l_suppkey AS BIGINT) AS dst
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |kept AS (SELECT e.src, e.dst FROM e JOIN deg USING (src)
        |         WHERE outdeg <= 10000),
        |dr AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg > 10000
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped_sources
        |       FROM deg),
        |pr AS (SELECT a.dst AS d1, b.dst AS d2,
        |         CAST(count(*) AS BIGINT) AS n_common
        |       FROM kept a JOIN kept b
        |         ON a.src = b.src AND a.dst < b.dst
        |       GROUP BY 1, 2)
        |SELECT d1, d2, n_common,
        |  (SELECT n_dropped_sources FROM dr) AS n_dropped_sources
        |FROM pr ORDER BY n_common DESC, d1 ASC, d2 ASC
        |LIMIT 100""".stripMargin),

    // item-item collaborative filtering over order baskets ("bought X
    // also bought Y"): exact co-occurrence + binary cosine; the basket
    // cap is part of the operator contract (no basket exceeds it here,
    // pinned by n_dropped_baskets=0 on every row); minCooc=2 prunes the
    // one-shot noise tail the way a production similarity model would
    Query("q_rec_itemitem", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      graft.operators.Recommend.itemSimilarity(m, col("b"), col("i"),
          maxBasketSize = 1000L, minCooc = 2L)
        .orderBy(col("cosine").desc, col("i1").asc, col("i2").asc)
        .limit(100)
    },
      // item-item CF: the same basket-capped self-join as co-citation plus
      // kept-set marginals; the one float is count/sqrt(count·count) —
      // correctly-rounded in both engines, so raw doubles hash-match
      s"""WITH ${basketCtes()},
         |dr AS (SELECT CAST(coalesce(sum(CASE WHEN sz > 1000
         |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped_baskets
         |       FROM sz),
         |$coocCtes
         |SELECT i1, i2, n_cooc, m1.n_i AS n_i1, m2.n_i AS n_i2,
         |  CAST(n_cooc AS DOUBLE) / sqrt(CAST(m1.n_i * m2.n_i AS DOUBLE))
         |    AS cosine,
         |  (SELECT n_dropped_baskets FROM dr) AS n_dropped_baskets
         |FROM pr JOIN marg m1 ON pr.i1 = m1.i
         |        JOIN marg m2 ON pr.i2 = m2.i
         |ORDER BY cosine DESC, i1 ASC, i2 ASC LIMIT 100""".stripMargin),

    // user-level recommendations: owned parts vote through the top-10
    // item-neighbor model, integer Σn_cooc scores, owned candidates
    // anti-joined out; served for the %50 customer slice (the filter
    // prunes the user side BEFORE the model join — the model itself is
    // trained on the full corpus, as serving would)
    Query("q_rec_user", (s, dir) => {
      val R = graft.operators.Recommend
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val nbrs = R.topNeighbors(
        R.itemSimilarity(m, col("b"), col("i"),
          maxBasketSize = 1000L, minCooc = 2L), k = 10)
      val ui = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .where(col("o_custkey") % 50 === 0)
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      R.recommendForUsers(ui, col("u"), col("i"), nbrs, k = 5)
        .orderBy(col("user").asc, col("rnk").asc)
    },
      // user recommendations: the full chain replayed — similarity, top-10
      // mirror cut, owned-item votes (integer sums), owned anti-join,
      // per-user top-5
      s"""WITH ${basketCtes()},
         |$coocCtes,
         |$recommendCtes,
         |ui AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
         |         CAST(l_partkey AS BIGINT) AS i
         |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |       WHERE o_custkey % 50 = 0),
         |$votesCtes,
         |rk AS (SELECT u, rec, score, n_links,
         |         row_number() OVER (PARTITION BY u
         |           ORDER BY score DESC, n_links DESC, rec ASC) AS rnk
         |       FROM unseen)
         |SELECT u AS "user", rec AS item, score, n_links, rnk
         |FROM rk WHERE rnk <= 5
         |ORDER BY u ASC, rnk ASC""".stripMargin),

    // offline ranking evaluation of the CF model under a temporal
    // split: train the neighbor model on pre-2000 baskets, recommend
    // for the %20 customer slice from their train-time items, score
    // against what those customers actually bought from 2000 on —
    // hits/precision/recall/RR exact-integer-derived, DCG/NDCG folding
    // the literal discount table both engines share (ndcgTables is the
    // ONE source; the oracle embeds the same doubles textually)
    Query("q_rec_eval", (s, dir) => {
      val R = graft.operators.Recommend
      val cutoff = lit("2000-01-01").cast("timestamp")
      val li = Tables.lineitem(s, dir)
      val train = Tables.orders(s, dir)
        .where(col("o_orderdate") < cutoff)
      val m = train.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("b"), col("l_partkey").as("i"))
      val nbrs = R.topNeighbors(
        R.itemSimilarity(m, col("b"), col("i"),
          maxBasketSize = 1000L, minCooc = 2L), k = 10)
      val ui = train.join(li, col("o_orderkey") === col("l_orderkey"))
        .where(col("o_custkey") % 20 === 0)
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      val recs = R.recommendForUsers(ui, col("u"), col("i"), nbrs, k = 5)
      val truth = Tables.orders(s, dir)
        .where(col("o_orderdate") >= cutoff &&
          col("o_custkey") % 20 === 0)
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      R.evalRanking(recs, col("user"), col("item"), col("rnk"),
          truth, col("u"), col("i"), k = 5)
        .orderBy("user")
    },
      // the train-filtered CF chain (the q_rec_user CTEs under the
      // temporal cutoff), then the ranking-metric fold. The NDCG discount
      // and ideal-prefix literals come from the SAME
      // [[graft.operators.Recommend.ndcgTables]] the operator embeds —
      // Double.toString round-trips exactly, so both engines hold
      // identical doubles (the lockstep-parameter rule)
      {
        val (disc, idcg) = graft.operators.Recommend.ndcgTables(5)
        // CAST ... AS DOUBLE[]: bare float literals parse as DECIMAL in
        // DuckDB (the standing decimal-literal rule) — the cast re-rounds
        // each element to exactly Double.parseDouble of the same string
        val dl = disc.mkString("CAST([", ", ", "] AS DOUBLE[])")
        val il = idcg.mkString("CAST([", ", ", "] AS DOUBLE[])")
        s"""WITH tr AS (SELECT o_orderkey, o_custkey FROM orders
           |  WHERE o_orderdate < TIMESTAMP '2000-01-01'),
           |${basketCtes("tr.o_orderkey",
                "tr JOIN lineitem ON o_orderkey = l_orderkey")},
           |$coocCtes,
           |$recommendCtes,
           |ui AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
           |         CAST(l_partkey AS BIGINT) AS i
           |       FROM tr JOIN lineitem ON o_orderkey = l_orderkey
           |       WHERE o_custkey % 20 = 0),
           |$votesCtes,
           |recs AS (SELECT u, rec AS i, rnk FROM (
           |           SELECT u, rec, row_number() OVER (PARTITION BY u
           |             ORDER BY score DESC, n_links DESC, rec ASC) AS rnk
           |           FROM unseen) WHERE rnk <= 5),
           |tru AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
           |          CAST(l_partkey AS BIGINT) AS i
           |        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
           |          AND o_custkey % 20 = 0),
           |tc AS (SELECT u, CAST(count(*) AS BIGINT) AS n_truth FROM tru
           |       GROUP BY u),
           |mk AS (SELECT r.u, r.rnk,
           |         CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS hit
           |       FROM recs r LEFT JOIN tru t ON r.u = t.u AND r.i = t.i),
           |per AS (SELECT u, CAST(count(*) AS BIGINT) AS n_recs,
           |          CAST(sum(hit) AS BIGINT) AS hits,
           |          CAST(min(CASE WHEN hit = 1 THEN rnk END) AS INTEGER)
           |            AS first_hit,
           |          coalesce(list_sum(
           |              list(list_extract($dl, rnk) ORDER BY rnk)
           |                FILTER (WHERE hit = 1)),
           |            CAST(0 AS DOUBLE)) AS dcg
           |        FROM mk GROUP BY u)
           |SELECT tc.u AS "user", tc.n_truth,
           |  coalesce(n_recs, 0) AS n_recs, coalesce(hits, 0) AS hits,
           |  first_hit,
           |  coalesce(CAST(1 AS DOUBLE) / first_hit, CAST(0 AS DOUBLE))
           |    AS rr,
           |  CAST(coalesce(hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
           |    AS precision_k,
           |  CAST(coalesce(hits, 0) AS DOUBLE) / CAST(tc.n_truth AS DOUBLE)
           |    AS recall_k,
           |  coalesce(dcg, CAST(0 AS DOUBLE)) AS dcg,
           |  list_extract($il, least(5, CAST(tc.n_truth AS INTEGER)))
           |    AS idcg,
           |  coalesce(dcg, CAST(0 AS DOUBLE)) /
           |    list_extract($il, least(5, CAST(tc.n_truth AS INTEGER)))
           |    AS ndcg
           |FROM tc LEFT JOIN per ON tc.u = per.u
           |ORDER BY tc.u""".stripMargin
      }),

    // rank-1 ALS matrix factorization over the %10 customer slice's
    // (customer, part, quantity) ratings — 2 alternating closed-form
    // rounds in repro mode (ascending-counterpart folds), λ-shrunk;
    // the oracle unrolls the identical chain round for round
    Query("q_rec_als", (s, dir) => {
      val ratings = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_custkey") % 10 === 0)
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          col("l_quantity").cast("long").as("r"))
      graft.operators.Recommend.alsRank1(ratings, col("u"), col("i"),
          col("r"), iters = alsIters, lambda = alsLambda,
          deterministic = true)
        .orderBy("user", "item")
    },
      // rank-1 ALS, rounds unrolled in lockstep with alsIters/alsLambda:
      // each half-step is the same ascending-counterpart
      // `list_sum(list(x ORDER BY ...))` fold and the same λ-add +
      // division the repro-mode operator runs
      {
        val lam = s"CAST($alsLambda AS DOUBLE)"
        val rounds = (1 to alsIters).map { t =>
          s"""u$t AS MATERIALIZED (SELECT u,
             |  list_sum(list(CAST(r AS DOUBLE) * f ORDER BY i)) /
             |    ($lam + list_sum(list(f * f ORDER BY i))) AS f
             |  FROM ra JOIN v${t - 1} USING (i) GROUP BY u),
             |v$t AS MATERIALIZED (SELECT i,
             |  list_sum(list(CAST(r AS DOUBLE) * f ORDER BY u)) /
             |    ($lam + list_sum(list(f * f ORDER BY u))) AS f
             |  FROM ra JOIN u$t USING (u) GROUP BY i)""".stripMargin
        }.mkString(",\n")
        s"""WITH $ratingsCte,
           |v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1 AS DOUBLE) AS f
           |  FROM ra),
           |$rounds
           |SELECT ra.u AS "user", ra.i AS item, ra.r AS rating,
           |  u$alsIters.f AS u_factor, v$alsIters.f AS i_factor,
           |  u$alsIters.f * v$alsIters.f AS pred
           |FROM ra JOIN u$alsIters ON ra.u = u$alsIters.u
           |        JOIN v$alsIters ON ra.i = v$alsIters.i
           |ORDER BY ra.u, ra.i""".stripMargin
      }),

    // link prediction over the co-purchase similarity graph (edges =
    // item pairs with cooc>=2): non-edges scored by common neighbors +
    // Jaccard — candidates exist only through wedges, never N²; the
    // center cap is contract (nothing exceeds it here, pinned by
    // n_dropped_centers=0 on every row)
    Query("q_graph_linkpred", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val edges = graft.operators.Recommend.itemSimilarity(m, col("b"),
          col("i"), maxBasketSize = 1000L, minCooc = 2L)
        .select(col("i1"), col("i2"))
      graft.operators.Graph.linkPrediction(edges, col("i1"), col("i2"))
        // adamic_adar is dropped from the HASHED surface: its ln is
        // StrictMath in Spark vs libm in DuckDB (the standing ln rule);
        // the spec pins it. resource_alloc is exact-rounded divisions
        // summed in sorted order — bit-portable, so it stays.
        .orderBy(col("n_common").desc, col("resource_alloc").desc,
          col("a").asc, col("b").asc)
        .limit(100)
        .select("a", "b", "n_common", "deg_a", "deg_b", "jaccard",
          "resource_alloc", "n_dropped_centers")
    },
      // link prediction: wedge-generated candidate non-edges over the
      // cooc>=2 similarity graph; integer common-neighbor counts, one
      // division for Jaccard, and the resource-allocation fold as a
      // center-degree-ordered list_sum chain ≡ the engine's array_sort
      // fold (adamic_adar is ln-based → unhashed, spec-pinned)
      s"""WITH ${basketCtes()},
        |e AS (SELECT a.i AS a, c.i AS b
        |      FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS w, b AS n FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM sym
        |        GROUP BY w),
        |kc AS (SELECT w, deg FROM deg WHERE deg <= 10000),
        |dr AS (SELECT CAST(coalesce(sum(CASE WHEN deg > 10000
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped_centers
        |       FROM deg),
        |wa AS (SELECT s.w, s.n, kc.deg FROM sym s JOIN kc USING (w)),
        |cand AS (SELECT l.n AS a, r.n AS b,
        |           CAST(count(*) AS BIGINT) AS n_common,
        |           list_sum(list(CAST(1.0 AS DOUBLE) /
        |             CAST(l.deg AS DOUBLE) ORDER BY l.deg))
        |             AS resource_alloc
        |         FROM wa l JOIN wa r ON l.w = r.w AND l.n < r.n
        |         GROUP BY 1, 2),
        |nc AS (SELECT c.a, c.b, c.n_common,
        |         c.resource_alloc FROM cand c
        |       WHERE NOT EXISTS (SELECT 1 FROM e
        |         WHERE e.a = c.a AND e.b = c.b))
        |SELECT nc.a, nc.b, nc.n_common, da.deg AS deg_a,
        |  db.deg AS deg_b,
        |  CAST(nc.n_common AS DOUBLE) /
        |    CAST(da.deg + db.deg - nc.n_common AS DOUBLE) AS jaccard,
        |  nc.resource_alloc,
        |  (SELECT n_dropped_centers FROM dr) AS n_dropped_centers
        |FROM nc JOIN deg da ON nc.a = da.w JOIN deg db ON nc.b = db.w
        |ORDER BY n_common DESC, resource_alloc DESC, a ASC, b ASC
        |LIMIT 100""".stripMargin),

    // DeepWalk corpus over the co-purchase similarity graph: 1 walk of
    // 6 md5-driven steps per node — the node-embedding "sentences".
    // Every visited node hash-pinned against the oracle's replay of the
    // identical draw chain.
    Query("q_graph_walks", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val edges = graft.operators.Recommend.itemSimilarity(m, col("b"),
          col("i"), maxBasketSize = 1000L, minCooc = 2L)
        .select(col("i1"), col("i2"))
      graft.operators.Graph.randomWalks(edges, col("i1"), col("i2"),
          walkLen = 6, walksPerNode = 1, seed = "graft")
        .orderBy("start", "walk", "step")
    },
      // DeepWalk corpus: the unrolled 6-step md5 walk replay
      graphWalksOracleSql(6, "graft")),

    // the DeepWalk READOUT: skip-gram (center, context) pair counts
    // within window 2 over the q_graph_walks corpus — what a node
    // embedder actually trains on. Top-100 under a total order.
    Query("q_graph_walk_pairs", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val edges = graft.operators.Recommend.itemSimilarity(m, col("b"),
          col("i"), maxBasketSize = 1000L, minCooc = 2L)
        .select(col("i1"), col("i2"))
      val walks = graft.operators.Graph.randomWalks(edges, col("i1"),
        col("i2"), walkLen = 6, walksPerNode = 1, seed = "graft")
      graft.operators.Graph.walkSkipGramPairs(walks, window = 2)
        .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
        .limit(100)
    },
      // skip-gram pairs over the same walk chain: the one-directional
      // step-band self-join and least/greatest pair count mirroring
      // `Graph.walkSkipGramPairs`
      graphWalksOracleSql(6, "graft", finalSelect =
        """SELECT least(a.node, b.node) AS w1,
          |  greatest(a.node, b.node) AS w2,
          |  CAST(count(*) AS BIGINT) AS n_pair
          |FROM wk a JOIN wk b
          |  ON a.start = b.start AND a.walk = b.walk
          |    AND b.step > a.step AND b.step <= a.step + 2
          |GROUP BY 1, 2
          |ORDER BY n_pair DESC, w1 ASC, w2 ASC
          |LIMIT 100""".stripMargin)),

    // weight-proportional walks: transitions ∝ co-occurrence count —
    // the node2vec-on-weighted-graph form; integer cumulative
    // intervals per adjacency list, the shared 12-hex draw chain
    Query("q_graph_walks_weighted", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val edges = graft.operators.Recommend.itemSimilarity(m, col("b"),
        col("i"), maxBasketSize = 1000L, minCooc = 2L)
      graft.operators.Graph.randomWalksWeighted(edges, col("i1"),
          col("i2"), col("n_cooc"), walkLen = 6, walksPerNode = 1,
          seed = "graft")
        .orderBy("start", "walk", "step")
    },
      // weight-proportional walks over the cooc-weighted graph: the
      // co-purchase graph KEEPING its co-occurrence counts as integer
      // edge weights, per-u cumulative [lo, hi] intervals in
      // ascending-neighbor order, and the shared 12-hex draw `mod Σw(u)`
      // resolved by interval containment, round by round
      {
        val steps = (1 to 6).map { t =>
          s"""s$t AS MATERIALIZED (SELECT st.start, st.walk,
             |    a.nbr AS cur, a.nbr_total AS cur_total
             |  FROM s${t - 1} st JOIN adjw a ON a.u = st.cur
             |    AND ((${stepDrawSql("graft", t)}) % st.cur_total)
             |      BETWEEN a.lo AND a.hi)""".stripMargin
        }
        s"""WITH ${basketCtes()},
           |e AS MATERIALIZED (SELECT a.i AS a, c.i AS b,
           |    CAST(count(*) AS BIGINT) AS wt
           |  FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |symw AS (SELECT a AS u, b AS n, wt FROM e
           |         UNION ALL SELECT b, a, wt FROM e),
           |tot AS MATERIALIZED (SELECT u, CAST(sum(wt) AS BIGINT)
           |    AS total FROM symw GROUP BY u),
           |adjw AS MATERIALIZED (SELECT s.u, s.hi - s.wt AS lo,
           |    s.hi - 1 AS hi, s.n AS nbr, tn.total AS nbr_total
           |  FROM (SELECT u, n, wt, sum(wt) OVER (PARTITION BY u
           |          ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING AND
           |          CURRENT ROW) AS hi FROM symw) s
           |  JOIN tot tn ON tn.u = s.n),
           |s0 AS MATERIALIZED (SELECT u AS start, CAST(0 AS INTEGER)
           |    AS walk, u AS cur, total AS cur_total FROM tot),
           |${steps.mkString(",\n")}
           |${walkRowsSql(6)}
           |ORDER BY start, walk, step""".stripMargin
      }),

    // the word2vec noise draw: 2 unigram^0.75 negatives per walk
    // position — integer noise weights via the bit-portable
    // floor(sqrt(sqrt(freq³))), md5 12-hex draws, point-in-interval
    // lookup through the grid-bucketed interval join. Every drawn
    // negative hash-pinned.
    Query("q_graph_negatives", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      val edges = graft.operators.Recommend.itemSimilarity(m, col("b"),
          col("i"), maxBasketSize = 1000L, minCooc = 2L)
        .select(col("i1"), col("i2"))
      val walks = graft.operators.Graph.randomWalks(edges, col("i1"),
        col("i2"), walkLen = 6, walksPerNode = 1, seed = "graft")
      graft.operators.Graph.negativeSamples(walks, negatives = 2,
          seed = "graft")
        .orderBy("start", "walk", "step", "j")
    },
      // negative draws over the same walk chain: node frequencies from
      // the walk corpus, the bit-portable ⌊sqrt(sqrt(freq³))⌋ =
      // ⌊freq^0.75⌋ noise weights (sqrt is IEEE-correctly-rounded in
      // both engines; freq³ is exact integer below the 100000 cap),
      // integer cumulative [lo, hi) intervals in ascending node order,
      // and the md5 12-hex draw replay of `Graph.negativeSamples`
      {
        val fr = "CAST(least(freq, 100000) AS DOUBLE)"
        val h = "md5('graft' || ':' || CAST(d.start AS VARCHAR) || ':' " +
          "|| CAST(d.walk AS VARCHAR) || ':' || CAST(d.step AS VARCHAR) " +
          "|| ':' || CAST(j.j AS VARCHAR))"
        graphWalksOracleSql(6, "graft",
          extraCtes = Seq(
            s"""nf AS MATERIALIZED (SELECT node,
               |  CAST(count(*) AS BIGINT) AS freq FROM wk GROUP BY node),
               |nw AS (SELECT node, greatest(CAST(1 AS BIGINT),
               |    CAST(floor(sqrt(sqrt($fr * $fr * $fr))) AS BIGINT))
               |    AS w FROM nf),
               |cm AS MATERIALIZED (SELECT c.node, c.hi - n.w AS lo, c.hi
               |  FROM (SELECT node, sum(w) OVER (ORDER BY node
               |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               |          AS hi FROM nw) c
               |  JOIN nw n USING (node)),
               |tot AS (SELECT max(hi) AS total FROM cm),
               |dr AS MATERIALIZED (SELECT d.start, d.walk, d.step, j.j,
               |    ((${hexPrefixSql(h, 12)}) % (SELECT total FROM tot))
               |      AS u
               |  FROM wk d, (VALUES (0), (1)) AS j(j))""".stripMargin),
          finalSelect =
            """SELECT d.start, d.walk, d.step, d.j, c.node AS neg
              |FROM dr d JOIN cm c ON d.u >= c.lo AND d.u < c.hi
              |ORDER BY start, walk, step, j""".stripMargin)
      }),

    // personalized PageRank: teleport restricted to the %100 customer
    // sources — "rank relative to these" (related-item shape). Repro
    // mode folds in key order like q_graph_pagerank; the teleport
    // column rides the node frame and dangling mass re-lands on the
    // source set, so total mass stays 1
    Query("q_graph_ppr", (s, dir) => {
      val e = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val sources = Tables.customer(s, dir)
        .where(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("id"))
      graft.operators.Graph.personalizedPageRank(e, col("src"),
          col("dst"), sources, iters = 3, deterministic = true)
        .orderBy(col("rank").desc, col("id").asc)
        .limit(100)
    },
      // personalized pagerank: the pagerank unroll with a CASE teleport
      // — (1-d) stays a DOUBLE subtraction so the constant's last ulp
      // matches Scala's 1.0 - damping
      {
      val tele = """CASE WHEN nd.is_source
        |            THEN CAST(1 AS DOUBLE) / (SELECT n FROM ns)
        |            ELSE CAST(0 AS DOUBLE) END""".stripMargin
      def iter(prev: String, k: Int): String =
        s"""d$k AS (SELECT coalesce(list_sum(list(rank ORDER BY id)),
           |          CAST(0 AS DOUBLE)) AS dm
           |        FROM $prev WHERE outdeg = 0),
           |c$k AS (SELECT e.dst AS id,
           |          list_sum(list(r.rank / r.outdeg ORDER BY e.src)) AS ct
           |        FROM e JOIN $prev r ON e.src = r.id GROUP BY e.dst),
           |r$k AS (SELECT nd.id, nd.outdeg, nd.is_source,
           |          (CAST(1 AS DOUBLE) - 0.85) * ($tele)
           |            + 0.85 * (coalesce(ct, CAST(0 AS DOUBLE))
           |              + (SELECT dm FROM d$k) * ($tele)) AS rank
           |        FROM nd LEFT JOIN c$k USING (id))""".stripMargin
      s"""WITH $custSuppEdgesCte,
         |od AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg
         |       FROM e GROUP BY src),
         |ss AS (SELECT DISTINCT CAST(c_custkey * 2 AS BIGINT) AS id
         |       FROM customer WHERE c_custkey % 100 = 0),
         |nd AS (SELECT n.id, coalesce(od.outdeg, 0) AS outdeg,
         |         (ss.id IS NOT NULL) AS is_source
         |       FROM (SELECT DISTINCT id FROM
         |              (SELECT src AS id FROM e
         |               UNION ALL SELECT dst FROM e)) n
         |       LEFT JOIN od USING (id) LEFT JOIN ss ON ss.id = n.id),
         |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd
         |       WHERE is_source),
         |r0 AS (SELECT id, outdeg, is_source, $tele AS rank
         |       FROM nd),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT id, outdeg, is_source, rank FROM r3
         |ORDER BY rank DESC, id ASC LIMIT 100""".stripMargin
    }),

    // HITS hubs/authorities on the same bipartite customer→supplier
    // graph, UNNORMALIZED fixed rounds: every score is an exact integer
    // (alternating-path count), so the whole iteration is bit-identical
    // with no repro mode — the one float per share column is a
    // correctly-rounded cast + one IEEE division at readout. Customers
    // carry hub mass, suppliers authority; top-100 under a total order
    Query("q_graph_hits", (s, dir) => {
      val e = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      graft.operators.Graph.hits(e, col("src"), col("dst"), iters = 2)
        .orderBy(col("auth").desc, col("hub").desc, col("id").asc)
        .limit(100)
    },
      // HITS unrolled: h0=1 → a1 → h1 → a2 → h2, all-integer sums; the
      // share casts ride on HUGEINT totals (exact), one division each
      s"""WITH $custSuppEdgesCte,
        |nd AS (SELECT DISTINCT id FROM
        |        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM nd),
        |a1 AS (SELECT nd.id, CAST(coalesce(s.a, 0) AS BIGINT) AS a
        |       FROM nd LEFT JOIN (SELECT e.dst AS id, sum(h0.h) AS a
        |         FROM e JOIN h0 ON e.src = h0.id GROUP BY e.dst) s
        |       USING (id)),
        |h1 AS (SELECT nd.id, CAST(coalesce(s.h, 0) AS BIGINT) AS h
        |       FROM nd LEFT JOIN (SELECT e.src AS id, sum(a1.a) AS h
        |         FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src) s
        |       USING (id)),
        |a2 AS (SELECT nd.id, CAST(coalesce(s.a, 0) AS BIGINT) AS a
        |       FROM nd LEFT JOIN (SELECT e.dst AS id, sum(h1.h) AS a
        |         FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst) s
        |       USING (id)),
        |h2 AS (SELECT nd.id, CAST(coalesce(s.h, 0) AS BIGINT) AS h
        |       FROM nd LEFT JOIN (SELECT e.src AS id, sum(a2.a) AS h
        |         FROM e JOIN a2 ON e.dst = a2.id GROUP BY e.src) s
        |       USING (id)),
        |t AS (SELECT (SELECT sum(h) FROM h2) AS th,
        |             (SELECT sum(a) FROM a2) AS ta)
        |SELECT h2.id, h2.h AS hub, a2.a AS auth,
        |  CAST(h2.h AS DOUBLE) / nullif(CAST(t.th AS DOUBLE), 0)
        |    AS hub_share,
        |  CAST(a2.a AS DOUBLE) / nullif(CAST(t.ta AS DOUBLE), 0)
        |    AS auth_share
        |FROM h2 JOIN a2 USING (id) CROSS JOIN t
        |ORDER BY auth DESC, hub DESC, id ASC LIMIT 100""".stripMargin),

    // rank-2 ALS over the same ratings: the per-key 2×2 ridge normal
    // equations solved in closed form — the data movement of full ALS
    // with the smallest true matrix solve; oracle unrolls the rounds
    Query("q_rec_als2", (s, dir) => {
      val ratings = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_custkey") % 10 === 0)
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          col("l_quantity").cast("long").as("r"))
      graft.operators.Recommend.alsRank2(ratings, col("u"), col("i"),
          col("r"), iters = alsIters, lambda = alsLambda,
          deterministic = true)
        .orderBy("user", "item")
    },
      // rank-2 ALS: the 2×2 closed-form solve unrolled per half-step —
      // five ascending-counterpart folds over each key's ratings, the
      // determinant spelled in both coordinates exactly as the operator
      // writes it; same lockstep constants
      {
        val lam = s"CAST($alsLambda AS DOUBLE)"
        def half(outKey: String, joinKey: String, out: String,
                 prev: String): String = {
          val det = s"(($lam + s11) * ($lam + s22) - s12 * s12)"
          s"""$out AS MATERIALIZED (SELECT $outKey,
             |    (($lam + s22) * b1 - s12 * b2) / $det AS f1,
             |    (($lam + s11) * b2 - s12 * b1) / $det AS f2
             |  FROM (SELECT $outKey,
             |      list_sum(list(CAST(r AS DOUBLE) * f1 ORDER BY $joinKey))
             |        AS b1,
             |      list_sum(list(CAST(r AS DOUBLE) * f2 ORDER BY $joinKey))
             |        AS b2,
             |      list_sum(list(f1 * f1 ORDER BY $joinKey)) AS s11,
             |      list_sum(list(f1 * f2 ORDER BY $joinKey)) AS s12,
             |      list_sum(list(f2 * f2 ORDER BY $joinKey)) AS s22
             |    FROM ra JOIN $prev USING ($joinKey) GROUP BY $outKey))"""
            .stripMargin
        }
        val rounds = (1 to alsIters).map { t =>
          half("u", "i", s"u$t", s"v${t - 1}") + ",\n" +
            half("i", "u", s"v$t", s"u$t")
        }.mkString(",\n")
        s"""WITH $ratingsCte,
           |v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1 AS DOUBLE) AS f1,
           |         CAST((${hexPrefixSql("md5(CAST(i AS VARCHAR))", 2)})
           |           % 8 + 1 AS DOUBLE) / CAST(8 AS DOUBLE) AS f2
           |       FROM ra),
           |$rounds
           |SELECT ra.u AS "user", ra.i AS item, ra.r AS rating,
           |  uu.f1 AS u1, uu.f2 AS u2, vv.f1 AS v1, vv.f2 AS v2,
           |  uu.f1 * vv.f1 + uu.f2 * vv.f2 AS pred
           |FROM ra JOIN u$alsIters uu ON ra.u = uu.u
           |        JOIN v$alsIters vv ON ra.i = vv.i
           |ORDER BY ra.u, ra.i""".stripMargin
      }),

    // community structure of the word co-occurrence graph: per-node
    // triangle counts + clustering coefficient via degree orientation
    // (oriented out-degree is O(√m), so stopword hubs become near-sinks
    // instead of wedge bombs); exact integers, top-200 under total order
    Query("q_graph_triangles", (s, dir) => {
      val edges = graft.operators.Cooccur.windowCooccur(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          window = 2, minCount = 5L)
        .where(col("n_pair") >= 5)
        .select(col("w1"), col("w2"))
      graft.operators.Graph.triangleCounts(edges, col("w1"), col("w2"))
        .orderBy(col("n_tri").desc, col("node").asc)
        .limit(200)
    },
      // triangles: identical degree orientation + canonical wedge close,
      // all-integer until the single clustering division
      s"""WITH $cooccurPairCtes,
         |ed AS (SELECT w1 AS a, w2 AS b FROM pr
         |       WHERE n_pair >= 5 AND w1 <> w2),
         |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |         SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)
         |       GROUP BY v),
         |o AS (SELECT CASE WHEN x.deg < y.deg
         |               OR (x.deg = y.deg AND a < b) THEN a ELSE b
         |             END AS lo,
         |        CASE WHEN x.deg < y.deg
         |          OR (x.deg = y.deg AND a < b) THEN b ELSE a END AS hi,
         |        CASE WHEN x.deg < y.deg
         |          OR (x.deg = y.deg AND a < b) THEN y.deg ELSE x.deg
         |        END AS dhi
         |      FROM ed JOIN dg x ON ed.a = x.v JOIN dg y ON ed.b = y.v),
         |tr AS (SELECT e1.lo AS n1, e1.hi AS n2, e2.hi AS n3
         |       FROM o e1 JOIN o e2 ON e1.lo = e2.lo
         |         AND (e1.dhi < e2.dhi
         |              OR (e1.dhi = e2.dhi AND e1.hi < e2.hi))
         |       JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
         |pn AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |         SELECT n1 AS v FROM tr UNION ALL SELECT n2 FROM tr
         |         UNION ALL SELECT n3 FROM tr) GROUP BY v)
         |SELECT dg.v AS node, dg.deg AS degree,
         |  coalesce(pn.n_tri, 0) AS n_tri,
         |  CASE WHEN deg >= 2 THEN
         |    CAST(2 * coalesce(pn.n_tri, 0) AS DOUBLE) / (deg * (deg - 1))
         |  END AS clustering
         |FROM dg LEFT JOIN pn ON dg.v = pn.v
         |ORDER BY n_tri DESC, node ASC LIMIT 200""".stripMargin),

    // community detection: 3-round synchronous label propagation over
    // the same word graph — deterministic (count desc, label asc)
    // tie-break replaces classic LPA's random one so the result is a
    // pure function of the graph; per round one vertex-keyed join +
    // one aggregate + one top-1 window
    Query("q_graph_communities", (s, dir) => {
      val edges = graft.operators.Cooccur.windowCooccur(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          window = 2, minCount = 5L)
        .where(col("n_pair") >= 5)
        .select(col("w1"), col("w2"))
      graft.operators.Graph.labelPropagation(edges, col("w1"),
          col("w2"), iters = 3)
        .orderBy("node")
    },
      // label propagation, unrolled: same sym edges, same deterministic
      // top-1 tie-break via row_number
      {
      def lpaIter(prev: String, k: Int): String =
        s"""l$k AS (SELECT v, label FROM (
           |  SELECT s.v, p.label, count(*) AS c,
           |    row_number() OVER (PARTITION BY s.v
           |      ORDER BY count(*) DESC, p.label ASC) AS rn
           |  FROM sym s JOIN $prev p ON s.n = p.v
           |  GROUP BY s.v, p.label)
           |WHERE rn = 1)""".stripMargin
      s"""WITH $cooccurPairCtes,
         |ed AS (SELECT w1 AS a, w2 AS b FROM pr
         |       WHERE n_pair >= 5 AND w1 <> w2),
         |sym AS (SELECT a AS v, b AS n FROM ed
         |        UNION SELECT b, a FROM ed),
         |l0 AS (SELECT DISTINCT v, v AS label FROM sym),
         |${lpaIter("l0", 1)},
         |${lpaIter("l1", 2)},
         |${lpaIter("l2", 3)}
         |SELECT v AS node, label FROM l3 ORDER BY node""".stripMargin
    }),

    // k-core peeling over the co-purchase graph (parts sharing a
    // sampled order): at k=4 the peel CASCADES — dropping the 211
    // sub-4-degree parts exposes 16 more, then 4 more, converging in
    // round 4 of 4 — so the query exercises the multi-round path, not
    // a graph already at its core (the word co-occurrence graph is
    // near-complete and peels nothing)
    Query("q_graph_kcore", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_orderkey") % 13 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("w1"), col("b.l_partkey").as("w2"))
        .distinct()
      graft.operators.Graph.kCore(edges, col("w1"), col("w2"),
          k = kcoreK, rounds = kcoreRounds)
        .orderBy("node")
    },
      // k-core: the peel unrolled — per round, vertices below k drop and
      // both edge endpoints must survive
      {
      def peel(prev: String, r: Int): String =
        s"""kp$r AS (SELECT v FROM $prev GROUP BY v
           |  HAVING count(*) >= $kcoreK),
           |s$r AS (SELECT s.v, s.n FROM $prev s
           |  JOIN kp$r x ON s.v = x.v JOIN kp$r y ON s.n = y.v)"""
          .stripMargin
      val chain = (1 to kcoreRounds)
        .map(r => peel(if (r == 1) "sym" else s"s${r - 1}", r))
        .mkString(",\n")
      s"""WITH $partGraphCtes,
         |$chain
         |SELECT v AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM s$kcoreRounds GROUP BY v ORDER BY node""".stripMargin
    }),

    // multi-source BFS over the same co-purchase graph: hop distance
    // from the nearest %97 seed part — at sf0.01 the frontier is
    // genuinely multi-round (18 seeds → 166 → 804 → 715 newly reached
    // per round, 63 vertices still beyond 3 hops), so the query pins
    // frontier expansion, the nearest-source min, AND the absent
    // unreached tail
    Query("q_graph_bfs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_orderkey") % 13 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val e2 = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("w1"), col("b.l_partkey").as("w2"))
        .distinct()
      val sources = e2.select(col("w1").as("v"))
        .unionByName(e2.select(col("w2").as("v")))
        .where(col("v") % 97 === 0).distinct()
      graft.operators.Graph.bfs(e2, col("w1"), col("w2"), sources,
          rounds = bfsRounds, directed = false)
        .orderBy("node")
    },
      // multi-source BFS: frontier expansion unrolled — per round, the
      // newly reached set joins out one hop and min-folds into visited
      {
      def hop(r: Int): String =
        s"""f$r AS (SELECT DISTINCT s.n AS v FROM sym s
           |  JOIN d${r - 1} d ON s.v = d.v AND d.dist = ${r - 1}),
           |d$r AS (SELECT v, min(dist) AS dist FROM
           |  (SELECT v, dist FROM d${r - 1}
           |   UNION ALL SELECT v, $r FROM f$r) GROUP BY v)""".stripMargin
      val chain = (1 to bfsRounds).map(hop).mkString(",\n")
      s"""WITH $partGraphCtes,
         |d0 AS (SELECT DISTINCT v, 0 AS dist FROM sym WHERE v % 97 = 0),
         |$chain
         |SELECT v AS node, dist FROM d$bfsRounds ORDER BY node"""
        .stripMargin
    })
  )
}
