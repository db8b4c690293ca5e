package graft
package battery

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Events, Shard, Warehouse}
import graft.SparkEntry.{Query, dec6}

/** Event analytics and warehouse maintenance: funnels, cohorts, paths,
  * forecasts, SCD2, CDC, profiling, privacy audits and windowed streams. */
private[graft] object EventsQueries {

  /** Gaps-and-islands over each user's event-type runs: `chg` flags a
    * type change in (ts, event_id) order, `grp` numbers the runs. */
  private val islandCtes =
    """m AS (SELECT user_id, ts, event_id, event_type,
      |             CASE WHEN lag(event_type) OVER w
      |                    IS DISTINCT FROM event_type
      |               THEN 1 ELSE 0 END AS chg
      |           FROM events
      |           WINDOW w AS (PARTITION BY user_id
      |                        ORDER BY ts, event_id)),
      |i AS (SELECT user_id, event_type, ts,
      |        sum(chg) OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS grp
      |      FROM m)""".stripMargin

  /** Events `tagged` by `key` and day, and the dense `days` spine over
    * their observed span. */
  private def daySpineCtes(key: String): String =
    s"""tagged AS (SELECT $key, CAST(ts AS DATE) AS day FROM events),
       |span AS (SELECT min(day) AS lo, max(day) AS hi FROM tagged),
       |days AS (SELECT CAST(unnest(generate_series(
       |             CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
       |             INTERVAL 1 DAY)) AS DATE) AS day FROM span)""".stripMargin

  /** The gapfilled daily count series `v` (k = event type, x, rn) the
    * Holt oracles smooth, with each key's length in `cnt`. */
  private val holtSeriesCtes =
    s"""${daySpineCtes("event_type AS k")},
       |keys AS (SELECT DISTINCT k FROM tagged),
       |daily AS (SELECT k, day, CAST(count(*) AS BIGINT) AS n
       |          FROM tagged GROUP BY 1, 2),
       |v AS (SELECT ks.k, d.day, CAST(coalesce(n, 0) AS DOUBLE) AS x,
       |        row_number() OVER (PARTITION BY ks.k ORDER BY d.day)
       |          AS rn
       |      FROM days d CROSS JOIN keys ks
       |      LEFT JOIN daily ON daily.k = ks.k AND daily.day = d.day),
       |cnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n_obs
       |        FROM v GROUP BY k)""".stripMargin

  /** Per event type and epoch day: x = the day ordinal, y = the exact
    * decimal event count. */
  private val dailyVolumeCte =
    """d AS (SELECT event_type AS key,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS xv,
      |    CAST(count(*) AS DECIMAL(18,6)) AS yv
      |  FROM events GROUP BY event_type, CAST(ts AS DATE))""".stripMargin

  def entries: Seq[Query] = Seq(
    // ordered conversion funnel view→click→signup→purchase: step i =
    // earliest s_i-event STRICTLY after the user's step-(i-1) time;
    // exact counts, conversion ratios are single IEEE divisions
    Query("q_events_funnel", (s, dir) =>
      graft.operators.Funnel.funnelSummary(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "signup", "purchase"))
        .orderBy("step"),
      // funnel: cascaded per-user min CTEs, strictly-after step chaining
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.u
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.u
        |       WHERE e.event_type = 'signup' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |       JOIN s3 ON e.user_id = s3.u
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3,
        |             (SELECT count(*) FROM s4) AS n4)
        |SELECT 1 AS step, 'view' AS name, CAST(n1 AS BIGINT) AS n_reached,
        |  CAST(1 AS DOUBLE) AS conv_from_prev,
        |  CAST(1 AS DOUBLE) AS conv_from_first FROM c
        |UNION ALL SELECT 2, 'click', CAST(n2 AS BIGINT),
        |  CAST(n2 AS DOUBLE) / nullif(n1, 0),
        |  CAST(n2 AS DOUBLE) / nullif(n1, 0) FROM c
        |UNION ALL SELECT 3, 'signup', CAST(n3 AS BIGINT),
        |  CAST(n3 AS DOUBLE) / nullif(n2, 0),
        |  CAST(n3 AS DOUBLE) / nullif(n1, 0) FROM c
        |UNION ALL SELECT 4, 'purchase', CAST(n4 AS BIGINT),
        |  CAST(n4 AS DOUBLE) / nullif(n3, 0),
        |  CAST(n4 AS DOUBLE) / nullif(n1, 0) FROM c
        |ORDER BY step""".stripMargin),

    // weekly cohort retention grid: cohort = ISO week of first event,
    // distinct-week activity; one user-keyed exchange does all per-user
    // work, cohort sizes read off the k=0 cell
    Query("q_events_cohorts", (s, dir) =>
      graft.operators.Funnel.cohortRetention(Tables.events(s, dir),
          col("user_id"), col("ts"))
        .orderBy("cohort", "week_offset"),
      // cohort retention: both engines truncate to ISO-Monday weeks; the
      // offset division is exact (day deltas are multiples of 7), cohort
      // size = the k=0 cell via a self-join
      """WITH ev AS (SELECT user_id AS u,
        |              CAST(date_trunc('week', ts) AS DATE) AS wk
        |            FROM events),
        |per AS (SELECT u, min(wk) AS cohort FROM ev GROUP BY u),
        |act AS (SELECT DISTINCT e.u, e.wk, p.cohort
        |        FROM ev e JOIN per p USING (u)),
        |rt AS (SELECT cohort,
        |         CAST(date_diff('day', cohort, wk) / 7 AS INT)
        |           AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |       FROM act GROUP BY 1, 2)
        |SELECT r.cohort, r.week_offset, r.n_active,
        |  s.n_active AS n_cohort,
        |  CAST(r.n_active AS DOUBLE) / s.n_active AS retention
        |FROM rt r JOIN rt s ON r.cohort = s.cohort AND s.week_offset = 0
        |ORDER BY r.cohort, r.week_offset""".stripMargin),

    // first-order Markov transition matrix over per-user event
    // sequences: one user-keyed lead-window exchange, then state-pair-
    // cardinality aggregates; P(next | state) is a single IEEE division
    // of exact longs
    Query("q_events_markov", (s, dir) =>
      graft.operators.Funnel.markovTransitions(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .orderBy("from_state", "to_state"),
      // markov transitions: same lead window (ts, event_id tiebreak);
      // counts exact, the probability is one IEEE division
      """WITH sq AS (SELECT event_type AS s,
        |              lead(event_type) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) AS t
        |            FROM events),
        |c AS (SELECT s AS from_state, t AS to_state,
        |        CAST(count(*) AS BIGINT) AS n_trans
        |      FROM sq WHERE t IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n_trans,
        |  CAST(sum(n_trans) OVER (PARTITION BY from_state) AS BIGINT)
        |    AS n_from,
        |  CAST(n_trans AS DOUBLE) /
        |    sum(n_trans) OVER (PARTITION BY from_state) AS p
        |FROM c ORDER BY from_state, to_state""".stripMargin),

    // path mining: top 3-step event paths (the lead-window trigram of
    // the markov pair table) — one user-keyed exchange, path-cardinality
    // aggregates, total-order cut
    Query("q_events_paths", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("s1"))
        .withColumn("s2", lead(col("s1"), 1).over(w))
        .withColumn("s3", lead(col("s1"), 2).over(w))
        .where(col("s3").isNotNull)
        .groupBy("s1", "s2", "s3")
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("s1").asc, col("s2").asc,
          col("s3").asc)
        .limit(20)
    },
      // 3-step paths: lead×2 over the same per-user window
      """WITH sq AS (SELECT event_type AS s1,
        |              lead(event_type, 1) OVER w AS s2,
        |              lead(event_type, 2) OVER w AS s3
        |            FROM events
        |            WINDOW w AS (PARTITION BY user_id
        |                         ORDER BY ts, event_id))
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n_paths
        |FROM sq WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, s1 ASC, s2 ASC, s3 ASC
        |LIMIT 20""".stripMargin),

    // temporal profile: day-of-week × hour activity grid with exact
    // shares — the seasonality readout. weekday() (Mon=0) ≙ DuckDB
    // isodow-1; Spark's dayofweek() (Sun=1) would NOT line up
    Query("q_events_profile", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(weekday(col("ts")).as("dow"), hour(col("ts")).as("hr"))
      ev.groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
        .withColumn("share", col("n_events").cast("double") /
          sum(col("n_events")).over(Window.partitionBy()))
        .orderBy("dow", "hr")
    },
      // day-hour grid: isodow-1 == Spark weekday (Mon=0); share is one
      // IEEE division per cell
      """WITH ev AS (SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
        |              CAST(hour(ts) AS INTEGER) AS hr
        |            FROM events),
        |g AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS n_events
        |      FROM ev GROUP BY 1, 2)
        |SELECT dow, hr, n_events,
        |  CAST(n_events AS DOUBLE) / sum(n_events) OVER () AS share
        |FROM g ORDER BY dow, hr""".stripMargin),

    // RFM segmentation: per-user recency/frequency/monetary quintiles
    // (the classic behavioral-cohort encoding); quintiles are
    // deterministic under a TOTAL order (metric, user_id tiebreak),
    // monetary sums go through the exact-decimal discipline, segment =
    // 100r + 10f + m. The three quintile cuts are ONE
    // Shard.scalableNtileMulti — the bucketed two-phase exact NTILE
    // over a single materialized frame — because the per-user frame is
    // dimension-sized, not small: at web scale a global Window.orderBy
    // would funnel every user through ONE task, and NESTED single cuts
    // would re-execute each other's window+join in every later cut's
    // sketch and count passes (the r10 9× residual). Multi shares one
    // checkpoint, one multi-column sketch pass, and chains the three
    // rank windows into one executed plan.
    Query("q_events_rfm", (s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"),
          count(lit(1)).as("frequency"),
          sum(dec6(col("value"))).cast("double").as("monetary"))
      val cut = Shard.scalableNtileMulti(per, Seq(
        Shard.NtileSpec(5, col("last_ts"), col("user_id"), "r_quint",
          descending = true),
        Shard.NtileSpec(5, col("frequency"), col("user_id"), "f_quint",
          descending = true),
        Shard.NtileSpec(5, col("monetary"), col("user_id"), "m_quint",
          descending = true)))
      cut.select(col("user_id"), col("last_ts"), col("frequency"),
          col("monetary"), col("r_quint"), col("f_quint"),
          col("m_quint"))
        .withColumn("segment",
          col("r_quint") * 100 + col("f_quint") * 10 + col("m_quint"))
        .orderBy("user_id")
    },
      // RFM: same total-ordered ntiles; monetary through DECIMAL(28,6)
      """WITH per AS (SELECT user_id, max(ts) AS last_ts,
        |               CAST(count(*) AS BIGINT) AS frequency,
        |               CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
        |                 AS monetary
        |             FROM events GROUP BY user_id),
        |q AS (SELECT user_id, last_ts, frequency, monetary,
        |        CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id ASC)
        |          AS INTEGER) AS r_quint,
        |        CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
        |          AS INTEGER) AS f_quint,
        |        CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC)
        |          AS INTEGER) AS m_quint
        |      FROM per)
        |SELECT user_id, last_ts, frequency, monetary, r_quint, f_quint,
        |  m_quint,
        |  CAST(r_quint * 100 + f_quint * 10 + m_quint AS INTEGER)
        |    AS segment
        |FROM q ORDER BY user_id""".stripMargin),

    // -- warehouse maintenance tier (BASELINE.json extensions) ----------------
    // SCD Type-2 history build: collapse the event log into per-user
    // validity intervals of the prevailing event_type (gaps-and-islands:
    // null-safe change marker -> running-sum island id -> one collapse;
    // marker window, island window and collapse all share ONE user_id
    // exchange). valid_to = successor's valid_from; open interval =
    // is_current. 8,016 intervals from 10,000 events at sf0.01, so runs
    // genuinely collapse
    Query("q_scd2_history", (s, dir) =>
      Warehouse.scd2History(Tables.events(s, dir), col("user_id"),
          col("ts"), col("event_id"), col("event_type"))
        .withColumnRenamed("entity", "user_id")
        .orderBy("user_id", "valid_from"),
      // SCD2: same gaps-and-islands windows; IS DISTINCT FROM ≙ Spark's
      // null-safe <=> negation
      s"""WITH $islandCtes,
        |r AS (SELECT user_id, grp, min(event_type) AS state,
        |        min(ts) AS valid_from,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM i GROUP BY user_id, grp)
        |SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER sw AS valid_to, n_events,
        |  lead(valid_from) OVER sw IS NULL AS is_current
        |FROM r
        |WINDOW sw AS (PARTITION BY user_id ORDER BY valid_from)
        |ORDER BY user_id, valid_from""".stripMargin),

    // date-spine completion: per (user, day) counts with explicit zeros
    // for silent days inside the observed span — 494 of the 4,500 spine
    // cells are genuine gaps at sf0.01, so the zero path is non-vacuous.
    // Spine = |users| x |days| (dimension-sized, never fact-sized); the
    // daily aggregate broadcasts onto it, facts shuffle exactly once
    Query("q_events_gapfill", (s, dir) =>
      Warehouse.gapfillDaily(Tables.events(s, dir), col("user_id"),
          col("ts"))
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "day"),
      // gapfill: generate_series date spine × distinct keys, left join
      s"""WITH ${daySpineCtes("user_id")},
        |keys AS (SELECT DISTINCT user_id FROM tagged),
        |daily AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
        |          FROM tagged GROUP BY 1, 2)
        |SELECT k.user_id, d.day, coalesce(n, 0) AS n_events
        |FROM days d CROSS JOIN keys k
        |LEFT JOIN daily USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin),

    // trailing-window spike flags: day vs mean of the previous <=7
    // observed days; flag is a pure integer comparison (n*cnt*10 >
    // sum*11 <=> ratio > 1.1), ratio one IEEE division of exact ints.
    // 30 of 150 (type, day) cells flag at sf0.01 — both branches live
    Query("q_events_anomaly", (s, dir) =>
      Warehouse.dailySpikes(Tables.events(s, dir), col("event_type"),
          col("ts"))
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "day"),
      // anomaly: trailing frame sums are exact integers; the flag is an
      // integer comparison and the ratio one IEEE division
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, day, n_events,
        |        CAST(sum(n_events) OVER w AS BIGINT) AS trail_sum,
        |        CAST(count(*) OVER w AS BIGINT) AS trail_cnt
        |      FROM d
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n_events, trail_sum, trail_cnt,
        |  CAST(n_events * trail_cnt AS DOUBLE) / trail_sum AS ratio,
        |  coalesce(n_events * trail_cnt * 10 > trail_sum * 11, FALSE)
        |    AS is_spike
        |FROM t ORDER BY event_type, day""".stripMargin),

    // k-anonymity / l-diversity audit over the customer release
    // candidate: QI = (segment, nation), sensitive = debt status —
    // every equivalence class with its size, sensitive diversity and
    // risk flags; exact integers end to end
    Query("q_privacy_kanon", (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(Tables.customer(s, dir),
          Seq(col("c_mktsegment"), col("c_nationkey")),
          col("c_acctbal") < 0, k = 5L, l = 2L)
        .orderBy("c_mktsegment", "c_nationkey"),
      // k-anonymity audit: boolean sensitive, exact counts; count
      // DISTINCT skips NULLs in both engines
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT c_acctbal < 0) AS BIGINT) AS n_sensitive,
        |  count(*) < 5 AS k_risky,
        |  count(DISTINCT c_acctbal < 0) < 2 AS l_risky
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the release-gate rollup: class/row totals vs policy + the
    // release's actual k (minimum class size)
    Query("q_privacy_kanon_summary", (s, dir) =>
      graft.operators.Privacy.kAnonymitySummary(Tables.customer(s, dir),
          Seq(col("c_mktsegment"), col("c_nationkey")),
          col("c_acctbal") < 0, k = 5L, l = 2L),
      """WITH a AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT c_acctbal < 0) AS BIGINT) AS n_sensitive
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k_risky_classes,
        |  CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS k_risky_rows,
        |  CAST(sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS l_risky_classes,
        |  CAST(min(n_rows) AS BIGINT) AS min_class_size
        |FROM a""".stripMargin),

    // OLS extrapolation 7 days past each type's last observation —
    // the trendline's serving half (Holt adapts, OLS extrapolates)
    Query("q_events_trend_forecast", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01").cast("date")).as("xv"),
          col("n"))
      Warehouse.trendForecast(
          Warehouse.linearTrend(daily, col("event_type"), col("xv"),
            col("n")), horizon = 7)
        .orderBy("key", "h")
    },
      // the trendline's forecast half: same chain, horizon exploded;
      // the yhat tree repeats slope/intercept textually (the standing
      // repeated-subexpression rule)
      s"""WITH $dailyVolumeCte,
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n_obs,
        |    sum(CAST(xv AS DECIMAL(38,0))) AS sx, sum(yv) AS sy,
        |    sum(CAST(xv AS DECIMAL(38,0)) * CAST(xv AS DECIMAL(38,0)))
        |      AS sxx,
        |    sum(CAST(xv AS DECIMAL(38,0)) * yv) AS sxy,
        |    max(xv) AS x_max
        |  FROM d GROUP BY key),
        |b AS (SELECT key, x_max,
        |    CAST(n_obs AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd
        |  FROM a),
        |c AS (SELECT key, x_max, nd, sxd, syd,
        |    nd * sxyd - sxd * syd AS num,
        |    nd * sxxd - sxd * sxd AS den
        |  FROM b),
        |f AS (SELECT key, x_max,
        |    num / den AS slope, (syd - (num / den) * sxd) / nd
        |      AS intercept
        |  FROM c WHERE den <> 0)
        |SELECT key, CAST(h.h AS INTEGER) AS h,
        |  intercept + slope * (CAST(x_max AS DOUBLE) + CAST(h.h AS DOUBLE))
        |    AS yhat
        |FROM f, range(1, 8) h(h)
        |ORDER BY key, h""".stripMargin),

    // per-type OLS trendline over daily volumes: every sufficient
    // statistic an exact decimal (order-independent partial aggs — no
    // fold discipline), floats confined to the fixed slope/intercept/r²
    // expression tree both engines evaluate identically; x = epoch-day
    // ordinal so the slope reads events/day per day
    Query("q_events_trend", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01").cast("date")).as("xv"),
          col("n"))
      Warehouse.linearTrend(daily, col("event_type"), col("xv"),
          col("n"))
        .orderBy("key")
    },
      // OLS trendline: exact-decimal sufficient statistics, then the same
      // fixed double expression tree as the operator; the intercept
      // repeats num/den textually (the standing repeated-subexpression
      // rule for cross-engine float identity)
      s"""WITH $dailyVolumeCte,
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n_obs,
        |    sum(CAST(xv AS DECIMAL(38,0))) AS sx, sum(yv) AS sy,
        |    sum(CAST(xv AS DECIMAL(38,0)) * CAST(xv AS DECIMAL(38,0)))
        |      AS sxx,
        |    sum(CAST(xv AS DECIMAL(38,0)) * yv) AS sxy,
        |    sum(yv * yv) AS syy,
        |    max(xv) AS x_max
        |  FROM d GROUP BY key),
        |b AS (SELECT key, n_obs, x_max,
        |    CAST(n_obs AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM a),
        |c AS (SELECT key, n_obs, x_max, nd, sxd, syd,
        |    nd * sxyd - sxd * syd AS num,
        |    nd * sxxd - sxd * sxd AS den,
        |    nd * syyd - syd * syd AS vy
        |  FROM b)
        |SELECT key, n_obs, x_max,
        |  CASE WHEN den <> 0 THEN num / den END AS slope,
        |  CASE WHEN den <> 0 THEN (syd - (num / den) * sxd) / nd END
        |    AS intercept,
        |  CASE WHEN den <> 0 AND vy <> 0
        |    THEN (num * num) / (den * vy) END AS r2
        |FROM c ORDER BY key""".stripMargin),

    // single-pass long-format column profiler (the schema-drift readout
    // a standing warehouse diffs between ingests): row/null/distinct
    // counts + typed extrema per column, ONE scan, per-column rows
    // exploded from the single aggregate row. Exact countDistinct costs
    // one Expand (x7 here) — at 100 TB profileColumns(exactDistinct =
    // false) collapses to a plain partial-agg scan
    Query("q_profile_columns", (s, dir) =>
      Warehouse.profileColumns(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy("col_name"),
      // profiler: one UNION ALL branch per column; epoch() under the UTC
      // session ≙ Spark's unix_timestamp
      """SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(o_custkey) AS DOUBLE) AS min_num,
        |  CAST(max(o_custkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderdate) AS BIGINT),
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |  CAST(epoch(min(o_orderdate)) AS DOUBLE),
        |  CAST(epoch(max(o_orderdate)) AS DOUBLE),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(min(o_orderkey) AS DOUBLE), CAST(max(o_orderkey) AS DOUBLE),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  CAST(min(length(o_orderpriority)) AS BIGINT),
        |  CAST(max(length(o_orderpriority)) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  CAST(min(length(o_orderstatus)) AS BIGINT),
        |  CAST(max(length(o_orderstatus)) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_totalprice) AS BIGINT),
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |  CAST(min(o_totalprice) AS DOUBLE),
        |  CAST(max(o_totalprice) AS DOUBLE),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |ORDER BY col_name""".stripMargin),

    // declarative expectation gate (the Deequ shape): key uniqueness +
    // row predicates in ONE aggregate pass, plus a referential-integrity
    // anti-join branch. The under-400k expectation genuinely FAILS on
    // this synthetic (2,978 violations at sf0.01) — the report exercises
    // both verdicts, not just a vacuous all-green
    Query("q_quality_checks", (s, dir) => {
      val o = Tables.orders(s, dir)
      Warehouse.expectations(o, "o_orderkey", col("o_orderkey"), Seq(
          "o_custkey_complete" -> col("o_custkey").isNull,
          "o_totalprice_nonneg" -> (col("o_totalprice") < 0 ||
            col("o_totalprice").isNull),
          "o_totalprice_under_400k" -> (col("o_totalprice") > 400000.0),
          "o_orderstatus_domain" ->
            !col("o_orderstatus").isin("O", "F", "P")))
        .unionByName(Warehouse.riViolations("orders_customer_ri", o,
          col("o_custkey"), Tables.customer(s, dir), col("c_custkey")))
        .orderBy("check_name")
    },
      // expectation gate: conditional sums + distinct-key fold + NOT
      // EXISTS for the RI branch
      """WITH agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c3,
        |    CAST(sum(CASE WHEN NOT o_orderstatus IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c4
        |  FROM orders),
        |checks AS (
        |  SELECT 'o_orderkey_unique' AS check_name, n - nd AS metric
        |  FROM agg
        |  UNION ALL SELECT 'o_custkey_complete', c1 FROM agg
        |  UNION ALL SELECT 'o_totalprice_nonneg', c2 FROM agg
        |  UNION ALL SELECT 'o_totalprice_under_400k', c3 FROM agg
        |  UNION ALL SELECT 'o_orderstatus_domain', c4 FROM agg
        |  UNION ALL SELECT 'orders_customer_ri',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey)))
        |SELECT check_name, metric, metric = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin),

    // rolling engagement: DAU + trailing-7-day WAU per spine day. The
    // fact table reduces to the distinct (day, user) frame FIRST
    // (dimension-sized); the 7-day window is a broadcast range join off
    // the tiny day spine with fan-out exactly <= 7x — exact rolling
    // countDistinct without any window-frame distinct (Spark has none)
    Query("q_events_wau", (s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val spine = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      broadcast(spine).join(ud,
          col("day") >= date_sub(col("d"), 6) && col("day") <= col("d"))
        .groupBy(col("d"))
        .agg(countDistinct(when(col("day") === col("d"), col("user_id")))
            .as("dau"),
          countDistinct(col("user_id")).as("wau"))
        .select(col("d").as("day"), col("dau"), col("wau"))
        .orderBy("day")
    },
      // rolling engagement: distinct user-days then a 7-day range join
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
        |spine AS (SELECT CAST(unnest(generate_series(
        |              CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |              INTERVAL 1 DAY)) AS DATE) AS d FROM span)
        |SELECT d AS day,
        |  CAST(count(DISTINCT CASE WHEN ud.day = s.d THEN user_id END)
        |    AS BIGINT) AS dau,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM spine s JOIN ud ON ud.day >= s.d - 6 AND ud.day <= s.d
        |GROUP BY d ORDER BY day""".stripMargin),

    // last-touch attribution: each purchase credits the most recent
    // preceding non-purchase event's type (the composed as-of join —
    // one user-keyed shuffle, no range blowup); purchases with no prior
    // touch credit 'none'. Revenue through the exact-decimal discipline
    Query("q_events_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val touches = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("tts"),
          col("event_type").as("channel"))
      AsOfJoin.asOf(purchases, touches, "user_id", "ts", "tts",
          Seq("tts", "channel"))
        .groupBy(coalesce(col("asof_channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(dec6(col("value"))).cast("double").as("revenue"))
        .orderBy("channel")
    },
      // attribution: DuckDB native ASOF against the non-purchase touches
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             value
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tts,
        |        event_type AS channel
        |      FROM events WHERE event_type <> 'purchase'),
        |a AS (SELECT coalesce(t.channel, 'none') AS channel, p.value
        |      FROM p ASOF LEFT JOIN t
        |        ON p.user_id = t.user_id AND t.tts <= p.ts)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM a GROUP BY channel ORDER BY channel""".stripMargin),

    // Holt linear-trend forecast over the gapfilled daily event-type
    // counts: 3-day horizon off the final (level, trend); the smoothing
    // fold runs day-ordered per key (one key shuffle, O(1) state), and
    // the recursive-CTE oracle replays the identical IEEE chain
    Query("q_events_forecast", (s, dir) => {
      val daily = Warehouse.gapfillDaily(Tables.events(s, dir),
        col("event_type"), col("ts"))
      Warehouse.holtForecast(daily, col("key"),
          datediff(col("day"), to_date(lit("1970-01-01"))),
          col("n_events"), alpha = 0.5, beta = 0.5, horizon = 3)
        .orderBy("key", "h")
    },
      // forecast: the smoothing recurrence replayed as a recursive CTE —
      // identical IEEE operation order, (1 - alpha) by subtraction on
      // both engines
      s"""WITH RECURSIVE $holtSeriesCtes,
        |rec AS (
        |  -- the anchor's types define the recursion's: a bare 0.0 is
        |  -- DECIMAL(1,1) in DuckDB and would silently run the whole
        |  -- trend chain in decimal arithmetic
        |  SELECT k, rn, x AS l, CAST(0.0 AS DOUBLE) AS t
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.k, v.rn,
        |    0.5 * v.x + (1 - 0.5) * (rec.l + rec.t),
        |    0.5 * ((0.5 * v.x + (1 - 0.5) * (rec.l + rec.t)) - rec.l)
        |      + (1 - 0.5) * rec.t
        |  FROM rec JOIN v ON v.k = rec.k AND v.rn = rec.rn + 1),
        |fin AS (SELECT rec.k, rec.l, rec.t
        |        FROM rec JOIN cnt ON cnt.k = rec.k AND rec.rn = cnt.n_obs)
        |SELECT f.k AS key, c.n_obs, f.l AS level, f.t AS trend,
        |  h.h AS h, f.l + h.h * f.t AS yhat
        |FROM fin f JOIN cnt c ON c.k = f.k
        |CROSS JOIN (SELECT unnest(range(1, 4)) AS h) h
        |ORDER BY key, h""".stripMargin),

    // Holt-Winters additive weekly seasonality over the same gapfilled
    // daily frame: the 7-slot seasonal state rides the recursive-CTE
    // oracle as a DOUBLE[] column, every update replayed IEEE-op-for-op
    // (all of α, β, γ are exact halves); forecast adds the learned
    // phase offset to the Holt line
    Query("q_events_forecast_seasonal", (s, dir) => {
      val daily = Warehouse.gapfillDaily(Tables.events(s, dir),
        col("event_type"), col("ts"))
      Warehouse.holtWintersForecast(daily, col("key"),
          datediff(col("day"), to_date(lit("1970-01-01"))),
          col("n_events"), alpha = 0.5, beta = 0.5, gamma = 0.5,
          period = 7, horizon = 3)
        .orderBy("key", "h")
    },
      // Holt-Winters: the Holt recursion plus the 7-slot seasonal list —
      // nl is spelled out three times exactly as the operator computes it
      // (the repeated-subexpression discipline of the Holt oracle)
      {
      val nl = "0.5 * (v.x - rec.s[(v.rn - 1) % 7 + 1]) " +
        "+ (1 - 0.5) * (rec.l + rec.t)"
      s"""WITH RECURSIVE $holtSeriesCtes,
         |rec AS (
         |  SELECT k, rn, x AS l, CAST(0.0 AS DOUBLE) AS t,
         |    list_transform(range(1, 8), i -> CAST(0 AS DOUBLE)) AS s
         |  FROM v WHERE rn = 1
         |  UNION ALL
         |  SELECT v.k, v.rn,
         |    $nl,
         |    0.5 * (($nl) - rec.l) + (1 - 0.5) * rec.t,
         |    list_transform(range(1, 8), i ->
         |      CASE WHEN i = (v.rn - 1) % 7 + 1
         |        THEN 0.5 * (v.x - ($nl))
         |          + (1 - 0.5) * rec.s[(v.rn - 1) % 7 + 1]
         |        ELSE rec.s[i] END)
         |  FROM rec JOIN v ON v.k = rec.k AND v.rn = rec.rn + 1),
         |fin AS (SELECT rec.k, rec.l, rec.t, rec.s
         |        FROM rec JOIN cnt ON cnt.k = rec.k AND rec.rn = cnt.n_obs)
         |SELECT f.k AS key, c.n_obs, f.l AS level, f.t AS trend,
         |  f.s[(c.n_obs - 1 + h.h) % 7 + 1] AS season,
         |  h.h AS h,
         |  f.l + h.h * f.t + f.s[(c.n_obs - 1 + h.h) % 7 + 1] AS yhat
         |FROM fin f JOIN cnt c ON c.k = f.k
         |CROSS JOIN (SELECT unnest(range(1, 4)) AS h) h
         |ORDER BY key, h""".stripMargin
    }),

    // CDC snapshot apply (MERGE shape, SCD1): fold a deterministic I/U/D
    // feed derived from orders into the customer snapshot — updates
    // re-price acctbal from each key's latest order, deletes remove the
    // %11 keys (outranking any update via the sentinel ord), inserts
    // mint new keys; latest change per key wins via (ord, tiebreak)
    Query("q_warehouse_cdc", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val ords = Tables.orders(s, dir)
      val day = datediff(to_date(col("o_orderdate")),
        to_date(lit("1970-01-01"))).cast("long")
      val upd = ords.where(col("o_orderkey") % 19 === 0)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("o_totalprice").as("c_acctbal"), col("c_mktsegment"),
          day.as("ordv"), col("o_orderkey").as("tb"), lit("U").as("op"))
      val del = cust.where(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"),
          lit(99999999L).as("ordv"), lit(0L).as("tb"), lit("D").as("op"))
      val ins = ords.where(col("o_orderkey") % 23 === 0)
        .select((lit(1000000L) + col("o_orderkey") % 50).as("c_custkey"),
          concat(lit("new-"), (col("o_orderkey") % 50).cast("string"))
            .as("c_name"),
          (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
          col("o_totalprice").as("c_acctbal"), lit("NEW").as("c_mktsegment"),
          day.as("ordv"), col("o_orderkey").as("tb"), lit("I").as("op"))
      Warehouse.applyCdc(cust, upd.unionByName(del).unionByName(ins),
          Seq("c_custkey"), col("ordv"), col("tb"), col("op"))
        .orderBy("c_custkey")
    },
      // CDC apply: same feed, latest-per-key window, full join + CASE
      """WITH ch AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    o_totalprice AS c_acctbal, c_mktsegment,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS ordv,
        |    o_orderkey AS tb, 'U' AS op
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderkey % 19 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |    99999999, 0, 'D'
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT 1000000 + o_orderkey % 50,
        |    'new-' || CAST(o_orderkey % 50 AS VARCHAR),
        |    CAST(o_orderkey % 25 AS INT), o_totalprice, 'NEW',
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
        |    o_orderkey, 'I'
        |  FROM orders WHERE o_orderkey % 23 = 0),
        |l1 AS (SELECT * FROM (SELECT ch.*, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY ordv DESC, tb DESC) AS rn
        |  FROM ch) WHERE rn = 1)
        |SELECT coalesce(l1.c_custkey, c.c_custkey) AS c_custkey,
        |  CASE WHEN l1.op IS NOT NULL THEN l1.c_name
        |       ELSE c.c_name END AS c_name,
        |  CASE WHEN l1.op IS NOT NULL THEN l1.c_nationkey
        |       ELSE c.c_nationkey END AS c_nationkey,
        |  CASE WHEN l1.op IS NOT NULL THEN l1.c_acctbal
        |       ELSE c.c_acctbal END AS c_acctbal,
        |  CASE WHEN l1.op IS NOT NULL THEN l1.c_mktsegment
        |       ELSE c.c_mktsegment END AS c_mktsegment
        |FROM customer c FULL JOIN l1 ON c.c_custkey = l1.c_custkey
        |WHERE l1.op IS NULL OR l1.op <> 'D'
        |ORDER BY c_custkey""".stripMargin),

    // equi-width value histogram with a complete bucket spine (empty
    // buckets as explicit zeros): the distribution readout next to
    // q_profile_columns' extrema. Bucket id = one subtraction + one IEEE
    // division vs span constants + exact integer clamp — bit-stable
    Query("q_profile_histogram", (s, dir) =>
      Warehouse.histogram(Tables.orders(s, dir), col("o_totalprice"), 20)
        .orderBy("bucket"),
      // histogram: identical span arithmetic, spine via generate_series
      """WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |           WHERE o_totalprice IS NOT NULL),
        |span AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
        |b AS (SELECT CAST(least(greatest(
        |         floor((v - lo) / ((hi - lo) / 20)), 0), 19) AS BIGINT)
        |         AS bucket
        |      FROM v CROSS JOIN span),
        |counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
        |           FROM b GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(0, 19)) AS bucket)
        |SELECT s.bucket,
        |  lo + s.bucket * ((hi - lo) / 20) AS bucket_lo,
        |  lo + (s.bucket + 1) * ((hi - lo) / 20) AS bucket_hi,
        |  coalesce(n, 0) AS n
        |FROM spine s CROSS JOIN span LEFT JOIN counts USING (bucket)
        |ORDER BY bucket""".stripMargin),

    // write-audit-publish: table-level blocking audits (uniqueness,
    // completeness, referential integrity) gate the whole batch; row-
    // level audits route surviving rows to publish or a named quarantine.
    // The blocking gate is a 1-row broadcast (never a fact shuffle); the
    // routing is a conditional projection folded into one aggregate pass
    Query("q_pipeline_wap", (s, dir) => {
      val o = Tables.orders(s, dir)
      val blocking = Warehouse.expectations(o, "o_orderkey",
          col("o_orderkey"),
          Seq("o_custkey_complete" -> col("o_custkey").isNull))
        .unionByName(Warehouse.riViolations("orders_customer_ri", o,
          col("o_custkey"), Tables.customer(s, dir), col("c_custkey")))
      val gate = blocking.agg(
        max(when(!col("passed"), 1L).otherwise(0L)).as("blocked"))
      o.crossJoin(broadcast(gate))
        .select(
          when(col("blocked") === 1L, lit("aborted"))
            .when(col("o_totalprice") > 400000.0, lit("quarantine_price"))
            .when(!col("o_orderstatus").isin("O", "F", "P"),
              lit("quarantine_status"))
            .otherwise(lit("publish")).as("verdict"),
          col("o_totalprice"))
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec6(col("o_totalprice"))).cast("double").as("sum_value"))
        .orderBy("verdict")
    },
      // WAP: scalar-subquery blocking gate, CASE routing, one aggregate
      """WITH gate AS (SELECT CASE WHEN
        |    (SELECT count(*) - count(DISTINCT o_orderkey)
        |     FROM orders) > 0
        |    OR (SELECT sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |        FROM orders) > 0
        |    OR (SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey)) > 0
        |  THEN 1 ELSE 0 END AS blocked),
        |r AS (SELECT CASE WHEN blocked = 1 THEN 'aborted'
        |        WHEN o_totalprice > 400000.0 THEN 'quarantine_price'
        |        WHEN NOT o_orderstatus IN ('O', 'F', 'P')
        |          THEN 'quarantine_status'
        |        ELSE 'publish' END AS verdict, o_totalprice
        |      FROM orders CROSS JOIN gate)
        |SELECT verdict, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |    AS sum_value
        |FROM r GROUP BY verdict ORDER BY verdict""".stripMargin),

    // point-in-time reconstruction over the SCD2 history: the prevailing
    // state of every user at every midnight of the observed span, via
    // the composed as-of join (contiguous intervals make backward as-of
    // ≡ interval containment — no range-join blowup). Days before a
    // user's first interval surface as null state (LEFT semantics)
    Query("q_scd2_pointintime", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hist = Warehouse.scd2History(ev, col("user_id"), col("ts"),
          col("event_id"), col("event_type"))
        .select(col("entity").as("user_id"), col("valid_from"),
          col("state"))
      val tagged = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      val span = tagged.agg(min(col("day")).as("lo"),
        max(col("day")).as("hi"))
      val probes = span
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .crossJoin(tagged.select(col("user_id")).distinct())
        .withColumn("pts", col("day").cast("timestamp"))
      AsOfJoin.asOf(probes, hist, "user_id", "pts", "valid_from",
          Seq("state"))
        .select(col("user_id"), col("day"), col("asof_state").as("state"))
        .orderBy("user_id", "day")
    },
      // point-in-time: DuckDB's native ASOF LEFT JOIN over the same
      // collapsed-island history CTEs
      s"""WITH $islandCtes,
        |r AS (SELECT user_id, grp, min(event_type) AS state,
        |        min(ts) AS valid_from
        |      FROM i GROUP BY user_id, grp),
        |${daySpineCtes("user_id")},
        |probes AS (SELECT k.user_id, d.day,
        |             CAST(d.day AS TIMESTAMP) AS pts
        |           FROM days d
        |           CROSS JOIN (SELECT DISTINCT user_id FROM tagged) k)
        |SELECT p.user_id, p.day, h.state
        |FROM probes p
        |ASOF LEFT JOIN r h
        |  ON p.user_id = h.user_id AND h.valid_from <= p.pts
        |ORDER BY p.user_id, p.day""".stripMargin),

    // incremental aggregate maintenance: persist the pre-cutoff daily
    // rollup once (write-once parquet of count + DECIMAL sum partials),
    // then serve base ⊎ delta by re-aggregating partials — base facts
    // never rescanned; commutative-monoid partials make the merge
    // EXACTLY the full recompute, which is what the oracle pins. The
    // aggregate mirror of q_dedup_incremental's persisted-index contract
    Query("q_rollup_incremental", (s, dir) => {
      val path = System.getProperty("java.io.tmpdir") +
        s"/graft_rollup_base_${math.floorMod(dir.hashCode, 1 << 30)}"
      Warehouse.incrementalDailyRollup(Tables.orders(s, dir),
          col("o_orderdate"), col("o_totalprice"),
          to_date(lit("1999-01-01")), path)
        .select(col("day"), col("n_rows"),
          col("sum_value_dec").cast("double").as("sum_value"))
        .orderBy("day")
    },
      // incremental rollup ≡ full recompute (commutative-monoid partials)
      """SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |    AS sum_value
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin),

    // -- event-time windowing (ST1-ST3, batch semantics) ------------------------------
    Query("q_events_tumbling", (s, dir) =>
      Events.tumbling(Tables.events(s, dir))
        .orderBy("window_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    Query("q_events_sliding", (s, dir) =>
      Events.sliding(Tables.events(s, dir))
        .orderBy("window_start", "event_type"),
      """WITH ks(k) AS (VALUES (0), (1), (2), (3)),
        |w AS (SELECT CAST(time_bucket(INTERVAL '15 minutes',
        |               CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |             - k * INTERVAL '15 minutes' AS window_start,
        |             event_type, value
        |      FROM events CROSS JOIN ks)
        |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    Query("q_events_session", (s, dir) =>
      Events.sessions(Tables.events(s, dir))
        .orderBy("user_id", "session_start"),
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin)
  )
}
