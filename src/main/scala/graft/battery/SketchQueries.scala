package graft
package battery

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.SparkEntry.{Query, normTextSql}

/** Sketches: heavy hitters, count-min, dyadic quantiles, HLL and KMV,
  * each checked against its exact relational recompute. */
private[graft] object SketchQueries {

  // dyadic sketch params: 2^17 covers floor(l_extendedprice) < 104998
  private val dyadicLevels = 17
  private val dyadicDepth = 3
  private val dyadicProbes = Seq(900L, 9000L, 25000L, 50000L, 104000L)
  // rolling sketch params: 2^16 covers floor(value*100) <= 49002 cents
  private val hllHexChars = 2
  private val rollingLevels = 16
  private val rollingDepth = 3
  private val rollingProbes = Seq(100L, 5000L, 20000L, 49001L)
  private val hllM = 1 << (4 * hllHexChars)

  /** An `item`'s HLL register address and rho (the bin()-length
    * convention), md5-addressed like `SketchAggregates.hllSketch`. */
  private val hllRegisterSql =
    s"""('0x' || substr(md5(item), 1, $hllHexChars))::INT
       |             AS idx,
       |           max(53 - length(bin(('0x' ||
       |             substr(md5(item), ${hllHexChars + 1}, 13))::UBIGINT)))
       |             AS r""".stripMargin

  /** The ascending-idx fold of exact 2^-reg doubles over the dense
    * registers, and the hit count — per `grp` when given. */
  private def hllFoldSql(grp: String): String =
    s"""folded AS (SELECT $grp
       |             list_sum(list(CAST(1 AS DOUBLE) / (1::BIGINT << r)
       |               ORDER BY idx)) AS s,
       |             CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS INT)
       |               AS n_hit
       |           FROM dense${if (grp.isEmpty) "" else " GROUP BY grp"})""".stripMargin

  /** The raw HLL estimate over `folded` aliased f. */
  private val hllEstimateSql =
    s"""CAST(0.7213 AS DOUBLE) /
       |    (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) /
       |      CAST($hllM AS DOUBLE)) *
       |    CAST($hllM AS DOUBLE) * CAST($hllM AS DOUBLE) / f.s AS n_est""".stripMargin

  /** q_sketch_quantile oracle: the dyadic Count-Min sketch replayed
    * relationally — per (level, depth) cell counts via the same
    * md5(d:l|prefix) addressing, probe ranks as Σ over their dyadic
    * decomposition (generated by the SAME `dyadicNodes` the Spark query
    * uses, so the two sides cannot disagree on the decomposition) of
    * min-over-depth cell reads; cells no value touched read as 0
    * (LEFT JOIN + coalesce — an inner join would silently drop empty
    * depth rows and inflate the min). */
  private def dyadicRankOracleSql(levels: Int, depth: Int,
                                  probes: Seq[Long],
                                  srcSql: String =
                                    """src AS (SELECT
                                      |    CAST(floor(l_extendedprice)
                                      |      AS BIGINT) AS v
                                      |  FROM lineitem
                                      |  WHERE l_extendedprice IS NOT NULL)"""
                                      .stripMargin): String = {
    val dsVals = (0 until depth).map(d => s"($d)").mkString(", ")
    val nodeVals = probes.flatMap(x =>
      graft.functions.SketchAggregates.dyadicNodes(x, levels)
        .map { case (l, p) => s"($x, $l, CAST($p AS BIGINT))" })
      .mkString(",\n    ")
    val probeVals = probes.map(x => s"($x)").mkString(", ")
    s"""WITH $srcSql,
       |ds(d) AS (VALUES $dsVals),
       |ls AS (SELECT unnest(range(0, $levels)) AS l),
       |cells AS (SELECT l, d,
       |    substr(md5(CAST(d AS VARCHAR) || ':' || CAST(l AS VARCHAR) ||
       |      '|' || CAST((v >> CAST(l AS INTEGER)) AS VARCHAR)), 1, 3)
       |      AS bk,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM src CROSS JOIN ds CROSS JOIN ls GROUP BY 1, 2, 3),
       |nodes(x, l, prefix) AS (VALUES
       |    $nodeVals),
       |nest AS (SELECT n.x, n.l, n.prefix,
       |    min(coalesce(c.c, 0)) AS node_est
       |  FROM nodes n CROSS JOIN ds
       |  LEFT JOIN cells c ON c.l = n.l AND c.d = ds.d AND c.bk =
       |    substr(md5(CAST(ds.d AS VARCHAR) || ':' || CAST(n.l AS VARCHAR)
       |      || '|' || CAST(n.prefix AS VARCHAR)), 1, 3)
       |  GROUP BY 1, 2, 3),
       |est AS (SELECT x, CAST(sum(node_est) AS BIGINT) AS rank_est
       |  FROM nest GROUP BY x),
       |probes(x) AS (VALUES $probeVals),
       |exact AS (SELECT p.x, CAST(count(*) FILTER (WHERE s.v <= p.x)
       |      AS BIGINT) AS exact_rank
       |  FROM probes p CROSS JOIN src s GROUP BY p.x)
       |SELECT e.x, e.exact_rank, est.rank_est,
       |  est.rank_est - e.exact_rank AS overcount
       |FROM exact e JOIN est USING (x)
       |ORDER BY e.x""".stripMargin
  }

  def entries: Seq[Query] = Seq(
    // exact heavy hitters by sketch-then-verify: the Misra-Gries
    // TypedImperativeAggregate bounds aggregate state at k counters
    // per partition (no vocabulary-cardinality shuffle), its guaranteed-
    // complete candidate set feeds an exact verify pass — so the OUTPUT
    // is deterministic and hash-oracled even though the sketch's
    // borderline content is merge-order dependent
    Query("q_text_heavyhitters", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(TextAnalysis.normText(col("text")), " "))
          .as("tok"))
        .where(length(col("tok")) > 0)
      graft.operators.HeavyHitters.exactHeavyHitters(toks, col("tok"),
          minShare = 0.002, k = 1000)
        .orderBy(col("n_item").desc, col("item").asc)
    },
      // heavy hitters: plain exact SQL — the sketch is an execution
      // strategy, not a semantic; threshold ceil is forced into DOUBLE
      // space (DuckDB's bare 0.002 * n is exact DECIMAL — ceil of it can
      // differ from the engine's double product by one at exact multiples)
      s"""WITH toks AS (SELECT unnest(string_split($normTextSql, ' '))
         |                AS item
         |              FROM documents),
         |t AS (SELECT item FROM toks WHERE length(item) > 0),
         |th AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
         |         CAST(ceil(CAST(0.002 AS DOUBLE) * count(*)) AS BIGINT)
         |           AS threshold
         |       FROM t)
         |SELECT item, CAST(count(*) AS BIGINT) AS n_item,
         |  (SELECT n_total FROM th) AS n_total,
         |  (SELECT threshold FROM th) AS threshold
         |FROM t GROUP BY item
         |HAVING count(*) >= (SELECT threshold FROM th)
         |ORDER BY n_item DESC, item ASC""".stripMargin),

    // Count-Min sketch: ONE depth*4096-long aggregate (state independent
    // of item cardinality), elementwise-add merge → order-independent,
    // so the estimates are deterministic and hash-oracled; probes read
    // the sketch relationally via the engine-reproducible md5 bucket,
    // overcount column pins the never-underestimates contract per row
    Query("q_sketch_cms", (s, dir) => {
      import graft.functions.SketchAggregates
      val src = Tables.lineitem(s, dir)
        .select(col("l_partkey").cast("string").as("item"))
      val sk = src.agg(SketchAggregates.countMin(col("item"), depth = 3)
        .as("sk"))
      val exact = src.groupBy("item").agg(count(lit(1)).as("n_exact"))
      val probes = exact.where(col("item").cast("long") % 100 === 0)
      probes.crossJoin(broadcast(sk))
        .select(col("item"), col("n_exact"),
          least((0 until 3).map(d =>
            element_at(col("sk"),
              SketchAggregates.countMinBucket(d, col("item"))
                + lit(d * 4096) + 1)): _*).as("n_est"))
        .withColumn("overcount", col("n_est") - col("n_exact"))
        .orderBy("item")
    },
      """WITH src AS (SELECT CAST(l_partkey AS VARCHAR) AS item
        |             FROM lineitem),
        |ds(d) AS (VALUES (0), (1), (2)),
        |cells AS (SELECT d,
        |            substr(md5(CAST(d AS VARCHAR) || ':' || item), 1, 3)
        |              AS bk,
        |            CAST(count(*) AS BIGINT) AS c
        |          FROM src CROSS JOIN ds GROUP BY 1, 2),
        |exact AS (SELECT item, CAST(count(*) AS BIGINT) AS n_exact
        |          FROM src GROUP BY item),
        |probes AS (SELECT item, n_exact FROM exact
        |           WHERE CAST(item AS BIGINT) % 100 = 0),
        |est AS (SELECT p.item, min(c.c) AS n_est
        |        FROM probes p CROSS JOIN ds
        |        JOIN cells c ON c.d = ds.d AND c.bk =
        |          substr(md5(CAST(ds.d AS VARCHAR) || ':' || p.item), 1, 3)
        |        GROUP BY p.item)
        |SELECT p.item, p.n_exact, CAST(e.n_est AS BIGINT) AS n_est,
        |  CAST(e.n_est - p.n_exact AS BIGINT) AS overcount
        |FROM probes p JOIN est e USING (item)
        |ORDER BY item""".stripMargin),

    // dyadic Count-Min RANK readout: one cardinality-independent sketch
    // pass (levels x depth x 4096 longs), then each probe's rank(x) =
    // sum over its dyadic decomposition of min-over-depth cell reads —
    // the mergeable, order-independent alternative to percentile_approx
    // (GK summaries are merge-order-sensitive; this sketch is a pure
    // function of the multiset, so raw estimates sit under the hash).
    // never-underestimates pinned by the overcount column
    Query("q_sketch_quantile", (s, dir) => {
      import graft.functions.SketchAggregates
      val src = Tables.lineitem(s, dir)
        .where(col("l_extendedprice").isNotNull)
        .select(floor(col("l_extendedprice")).cast("long").as("v"))
      val sk = src.agg(SketchAggregates.dyadicCountMin(col("v"),
        dyadicLevels, dyadicDepth).as("sk"))
      def estCol(x: Long): Column =
        SketchAggregates.dyadicNodes(x, dyadicLevels).map { case (l, p) =>
          least((0 until dyadicDepth).map(d =>
            element_at(col("sk"),
              SketchAggregates.countMinBucket(d, lit(s"$l|$p")) +
                lit(l * dyadicDepth * 4096 + d * 4096) + 1)): _*)
        }.reduceOption[Column](_ + _).getOrElse(lit(0L))
      val est = sk.select(explode(array(dyadicProbes.map(x =>
          struct(lit(x).as("x"), estCol(x).as("rank_est"))): _*)).as("pe"))
        .select(col("pe.x").as("x"), col("pe.rank_est").as("rank_est"))
      val probeDf = { import s.implicits._; dyadicProbes.toDF("x") }
      val exact = src
        .crossJoin(broadcast(probeDf))
        .groupBy("x")
        .agg(sum(when(col("v") <= col("x"), 1L).otherwise(0L))
          .as("exact_rank"))
      exact.join(est, Seq("x"))
        .select(col("x"), col("exact_rank"), col("rank_est"),
          (col("rank_est") - col("exact_rank")).as("overcount"))
        .orderBy("x")
    },
      // count-min: the sketch is a deterministic function of the multiset
      // (elementwise-add merge), so the oracle rebuilds the SAME cells
      // relationally — 3-hex-char md5 bucket strings are bijective with
      // the aggregate's 12-bit cell index
      dyadicRankOracleSql(dyadicLevels, dyadicDepth, dyadicProbes)),

    // ROLLING sketch serving (the mergeable-summaries pattern at 100 TB:
    // persist one sketch per partition/day, answer any range by
    // elementwise-adding the partials — never re-scanning facts): daily
    // dyadic sketches of event value cents, the first 7 days' sketches
    // summed RELATIONALLY (posexplode + groupBy idx), probe ranks read
    // off the summed cells. The oracle recomputes the sketch over the
    // unioned range directly — hash equality IS the proof that
    // merge-of-partials ≡ recompute-on-union
    Query("q_sketch_rolling", (s, dir) => {
      import graft.functions.SketchAggregates
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 100).cast("long").as("v"))
        .where(col("v").isNotNull)
      // day-keyed spread before the sketch build: events.parquet is a
      // single row group (unsplittable — 1 scan task), so the per-row
      // dyadic updates serialized on one core (2.1 s of a 3.2 s query,
      // r12). The exchange must be KEYED, not round-robin: each partial
      // state is levels x depth x 4096 longs (~1.5 MB), so round-robin
      // partials would build and merge partitions x days of them
      // (measured 2-3x SLOWER); keyed by day the agg plans as one full
      // aggregate, one sketch per day, built in parallel across days
      // from a skinny (day, v) shuffle
      val daily = ev
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("day"))
        .groupBy("day")
        .agg(SketchAggregates.dyadicCountMin(col("v"),
          rollingLevels, rollingDepth).as("sk"))
      val span = ev.agg(min(col("day")).as("d0"))
      val cells = daily.crossJoin(broadcast(span))
        .where(col("day") >= col("d0") &&
          col("day") <= date_add(col("d0"), 6))
        .select(posexplode(col("sk")).as(Seq("idx", "c")))
        .groupBy("idx").agg(sum(col("c")).as("c"))
      val nodeRows = rollingProbes.flatMap(x =>
        SketchAggregates.dyadicNodes(x, rollingLevels).flatMap {
          case (l, p) => (0 until rollingDepth).map(d =>
            (x, l, p, SketchAggregates.dyadicCellIndex(l, p, d,
              rollingDepth)))
        })
      val nodeDf = { import s.implicits._
        nodeRows.toDF("x", "l", "p", "idx") }
      val est = broadcast(nodeDf).join(cells, Seq("idx"))
        .groupBy("x", "l", "p").agg(min(col("c")).as("ne"))
        .groupBy("x").agg(sum(col("ne")).as("rank_est"))
      val probeDf = { import s.implicits._; rollingProbes.toDF("x") }
      val exact = ev.crossJoin(broadcast(span))
        .where(col("day") >= col("d0") &&
          col("day") <= date_add(col("d0"), 6))
        .crossJoin(broadcast(probeDf))
        .groupBy("x")
        .agg(sum(when(col("v") <= col("x"), 1L).otherwise(0L))
          .as("exact_rank"))
      exact.join(est, Seq("x"))
        .select(col("x"), col("exact_rank"), col("rank_est"),
          (col("rank_est") - col("exact_rank")).as("overcount"))
        .orderBy("x")
    },
      // rolling: the oracle sketches the unioned 7-day range DIRECTLY —
      // matching the engine's sum-of-daily-sketches is the mergeability
      // proof (counts are additive, cells are position-aligned)
      dyadicRankOracleSql(rollingLevels, rollingDepth, rollingProbes,
        srcSql = """src AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v
          |  FROM events CROSS JOIN (SELECT min(CAST(ts AS DATE)) AS d0
          |    FROM events WHERE value IS NOT NULL) sp
          |  WHERE value IS NOT NULL
          |    AND CAST(ts AS DATE) >= d0
          |    AND CAST(ts AS DATE) <= d0 + 6)""".stripMargin)),

    // HLL-shaped distinct sketches, one per priority group, PLUS the
    // 'ALL' row built by elementwise-max MERGE of the five group
    // sketches — the oracle recomputes 'ALL' registers over the union
    // directly, so its hash match IS the merge-of-partials ≡
    // recompute-on-union proof (the distinct-count mirror of
    // q_sketch_rolling's sum-merge). Registers are md5-addressed
    // (engine-reproducible, unlike approx_count_distinct's private
    // HLL++ state — kept rows-only by design); the estimate is a pure
    // arithmetic readout (ascending-index fold of exact 2^-reg doubles,
    // no libm), so raw doubles sit under the hash. m=256 keeps the
    // n >= 2.5m raw-estimator regime at sf0.01 (~1300 distinct/group)
    Query("q_sketch_hll", (s, dir) => {
      import graft.functions.SketchAggregates
      val hex = hllHexChars
      val src = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          col("o_custkey").cast("string").as("item"))
      val perGroup = src.groupBy("grp")
        .agg(SketchAggregates.hllSketch(col("item"), hex).as("sk"))
      val exact = src.groupBy("grp")
        .agg(countDistinct(col("item")).as("n_exact"))
      val per = perGroup.join(exact, Seq("grp"))
        .select(col("grp"), col("n_exact"),
          size(filter(col("sk"), r => r > lit(0))).as("n_hit"),
          SketchAggregates.hllEstimate(col("sk"), hex).as("n_est"))
      // merged registers: every group sketch is a dense m-array, so the
      // posexplode → max-per-idx groupBy is the aggregate's own merge,
      // done relationally; the estimate fold re-sorts by idx because a
      // float sum's rounding depends on order
      val mergedRegs = perGroup
        .select(posexplode(col("sk")).as(Seq("idx", "r")))
        .groupBy("idx").agg(max(col("r")).as("r"))
      val all = mergedRegs
        .agg(collect_list(struct(col("idx"), col("r"))).as("xs"))
        .crossJoin(broadcast(
          src.agg(countDistinct(col("item")).as("n_exact"))))
        .select(lit("ALL").as("grp"), col("n_exact"),
          SketchAggregates.hllHitsFromCells(col("xs")).as("n_hit"),
          SketchAggregates.hllEstimateFromCells(col("xs"), hex)
            .as("n_est"))
      per.unionByName(all).orderBy("grp")
    },
      // HLL registers recomputed relationally: same md5 addressing, same
      // bin()-length rho convention, same ascending-idx estimate fold;
      // the 'ALL' row is recomputed over the union — hash equality proves
      // elementwise-max merge ≡ recompute
      s"""WITH src AS (SELECT o_orderpriority AS grp,
         |               CAST(o_custkey AS VARCHAR) AS item FROM orders),
         |u AS (SELECT grp, item FROM src
         |      UNION ALL SELECT 'ALL', item FROM src),
         |regs AS (SELECT grp, $hllRegisterSql
         |         FROM u GROUP BY 1, 2),
         |spine AS (SELECT g.grp, i.idx
         |          FROM (SELECT DISTINCT grp FROM u) g
         |          CROSS JOIN (SELECT unnest(generate_series(0, ${hllM - 1}))
         |                      AS idx) i),
         |dense AS (SELECT s.grp, s.idx, coalesce(r.r, 0) AS r
         |          FROM spine s LEFT JOIN regs r
         |            ON s.grp = r.grp AND s.idx = r.idx),
         |${hllFoldSql("grp,")},
         |exact AS (SELECT grp, CAST(count(DISTINCT item) AS BIGINT)
         |            AS n_exact
         |          FROM u GROUP BY grp)
         |SELECT e.grp, e.n_exact, f.n_hit, $hllEstimateSql
         |FROM exact e JOIN folded f USING (grp)
         |ORDER BY grp""".stripMargin),

    // KMV bottom-k signatures: cross-source vocabulary overlap from
    // k-row sketches (mergeable union, Jaccard error ~1/√k) instead of
    // a full token-set join — the corpus-audit readout; exact columns
    // ride along as the test-scale honesty convention
    Query("q_sketch_kmv", (s, dir) =>
      graft.operators.Kmv.sourceOverlap(Tables.documents(s, dir),
          col("source"), col("text"), k = 64)
        .orderBy("src_a", "src_b"),
      // KMV: identical bottom-k construction — distinct tokens, md5
      // ranks, per-pair union re-rank, one division per estimate
      s"""WITH raw AS (SELECT CAST(source AS VARCHAR) AS source,
         |               unnest(string_split($normTextSql, ' ')) AS tok
         |             FROM documents),
         |toks AS (SELECT DISTINCT source, tok FROM raw
         |         WHERE length(tok) > 0),
         |sig AS (SELECT source, tok, h FROM (
         |          SELECT source, tok, md5(tok) AS h,
         |            row_number() OVER (PARTITION BY source
         |              ORDER BY md5(tok), tok) AS rank
         |          FROM toks) WHERE rank <= 64),
         |srcs AS (SELECT DISTINCT source FROM sig),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b
         |          FROM srcs a JOIN srcs b ON a.source < b.source),
         |mem AS (SELECT p.src_a, p.src_b, s.tok, s.h,
         |          max(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END)
         |            AS in_a,
         |          max(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END)
         |            AS in_b
         |        FROM pairs p JOIN sig s
         |          ON s.source = p.src_a OR s.source = p.src_b
         |        GROUP BY 1, 2, 3, 4),
         |est AS (SELECT src_a, src_b, max(rank) AS k_used,
         |          sum(in_a * in_b) AS n_inter
         |        FROM (SELECT *, row_number() OVER (
         |                PARTITION BY src_a, src_b ORDER BY h, tok)
         |                AS rank FROM mem)
         |        WHERE rank <= 64 GROUP BY 1, 2),
         |cnts AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |         FROM toks GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |            CAST(count(*) AS BIGINT) AS nie
         |          FROM toks a JOIN toks b
         |            ON a.tok = b.tok AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT e.src_a, e.src_b, CAST(e.k_used AS BIGINT) AS k_used,
         |  CAST(e.n_inter AS BIGINT) AS n_inter,
         |  CAST(e.n_inter AS DOUBLE) / CAST(e.k_used AS DOUBLE)
         |    AS jaccard_est,
         |  coalesce(i.nie, 0) AS n_inter_exact,
         |  ca.n + cb.n - coalesce(i.nie, 0) AS n_union_exact,
         |  CAST(coalesce(i.nie, 0) AS DOUBLE) /
         |    CAST(ca.n + cb.n - coalesce(i.nie, 0) AS DOUBLE)
         |    AS jaccard_exact
         |FROM est e
         |JOIN cnts ca ON ca.source = e.src_a
         |JOIN cnts cb ON cb.source = e.src_b
         |LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin),

    // ROLLING distinct serving — the #1 warehouse use of HLL: one
    // register array persisted per day, "uniques over any date range"
    // answered by elementwise-MAX of the daily partials (posexplode +
    // groupBy idx), never re-scanning events. The oracle recomputes the
    // sketch over the unioned range directly — hash equality IS the
    // merge-of-partials ≡ recompute proof (max is also IDEMPOTENT,
    // which is what makes the streaming uniques gate replay-safe with
    // zero epoch bookkeeping). Exact recount carried for the honesty
    // column
    Query("q_sketch_hll_rolling", (s, dir) => {
      import graft.functions.SketchAggregates
      val hex = hllHexChars
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
          col("user_id").cast("string").as("item"))
      val daily = ev.groupBy("day")
        .agg(SketchAggregates.hllSketch(col("item"), hex).as("sk"))
      val span = ev.agg(min(col("day")).as("d0"))
      val inRange = daily.crossJoin(broadcast(span))
        .where(col("day") >= col("d0") &&
          col("day") <= date_add(col("d0"), 6))
      val merged = inRange
        .select(posexplode(col("sk")).as(Seq("idx", "r")))
        .groupBy("idx").agg(max(col("r")).as("r"))
        .agg(collect_list(struct(col("idx"), col("r"))).as("xs"))
        .select(
          SketchAggregates.hllHitsFromCells(col("xs")).as("n_hit"),
          SketchAggregates.hllEstimateFromCells(col("xs"), hex)
            .as("n_est"))
      val exact = ev.crossJoin(broadcast(span))
        .where(col("day") >= col("d0") &&
          col("day") <= date_add(col("d0"), 6))
        .agg(countDistinct(col("item")).as("n_exact"))
      exact.crossJoin(merged)
        .select(col("n_exact"), col("n_hit"), col("n_est"))
    },
      // rolling HLL: registers recomputed over the unioned 7-day range —
      // hash equality proves elementwise-max merge ≡ recompute
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS item
         |            FROM events
         |            CROSS JOIN (SELECT min(CAST(ts AS DATE)) AS d0
         |                        FROM events) sp
         |            WHERE CAST(ts AS DATE) >= d0
         |              AND CAST(ts AS DATE) <= d0 + 6),
         |regs AS (SELECT $hllRegisterSql
         |         FROM ev GROUP BY 1),
         |dense AS (SELECT i.idx, coalesce(r.r, 0) AS r
         |          FROM (SELECT unnest(generate_series(0, ${hllM - 1}))
         |                AS idx) i
         |          LEFT JOIN regs r ON i.idx = r.idx),
         |${hllFoldSql("")}
         |SELECT (SELECT CAST(count(DISTINCT item) AS BIGINT) FROM ev)
         |    AS n_exact,
         |  f.n_hit, $hllEstimateSql
         |FROM folded f""".stripMargin)
  )
}
