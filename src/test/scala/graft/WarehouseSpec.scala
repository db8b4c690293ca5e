package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.Warehouse

/** Warehouse-maintenance tier: SCD2 history, date-spine gap fill, column
  * profiler, expectation gate, incremental rollup merge, spike flags.
  * Semantics on hand-computable frames plus plan-shape guards for the
  * scale claims each operator's scaladoc makes. */
class WarehouseSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("scd2History collapses runs into validity intervals, null-safely") {
    // entity 1: x,x,null,null,x — null run must island like a value run
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, Option("x")),
      (1L, ts("2024-01-02 00:00:00"), 2L, Option("x")),
      (1L, ts("2024-01-03 00:00:00"), 3L, None),
      (1L, ts("2024-01-04 00:00:00"), 4L, None),
      (1L, ts("2024-01-05 00:00:00"), 5L, Option("x")),
      (2L, ts("2024-01-01 00:00:00"), 6L, Option("y"))
    ).toDF("user_id", "ts", "event_id", "state")
    val out = Warehouse.scd2History(log, col("user_id"), col("ts"),
        col("event_id"), col("state"))
      .orderBy("entity", "valid_from")
      .collect()
    assert(out.length === 4)
    val e1 = out.filter(_.getLong(0) == 1L)
    assert(e1.map(r => Option(r.getString(1))).toSeq ===
      Seq(Some("x"), None, Some("x")))
    assert(e1.map(_.getLong(4)).toSeq === Seq(2L, 2L, 1L)) // n_events
    // interval chain: each valid_to is the successor's valid_from
    assert(e1(0).getTimestamp(3) === e1(1).getTimestamp(2))
    assert(e1(1).getTimestamp(3) === e1(2).getTimestamp(2))
    assert(e1(2).isNullAt(3) && e1(2).getBoolean(5)) // open + current
    assert(e1.take(2).forall(!_.getBoolean(5)))
  }

  test("scd2History is one fact shuffle: windows and collapse share " +
    "the entity exchange") {
    val log = Tables.events(spark, "/root/testdata/sf0.001")
    val plan = Warehouse.scd2History(log, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .queryExecution.executedPlan.toString
    // marker window, island window, island collapse and the successor
    // window all key on user_id (or a superset) — exactly one exchange
    // beyond AQE bookkeeping
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n === 1, s"expected 1 exchange, got $n:\n$plan")
  }

  test("gapfillDaily zero-fills missing spine cells and broadcasts the " +
    "daily aggregate") {
    val df = Seq(
      ("a", ts("2024-01-01 10:00:00")),
      ("a", ts("2024-01-03 10:00:00")),
      ("b", ts("2024-01-02 10:00:00"))
    ).toDF("k", "ts")
    val out = Warehouse.gapfillDaily(df, col("k"), col("ts"))
    val rows = out.orderBy("key", "day").collect()
    // 2 keys x 3 days; 3 observed cells, 3 genuine zeros
    assert(rows.length === 6)
    assert(rows.count(_.getLong(2) == 0L) === 3)
    assert(rows.count(_.getLong(2) == 1L) === 3)
    val nonzero = rows.filter(_.getLong(2) > 0L)
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(nonzero === Set(("a", "2024-01-01"), ("a", "2024-01-03"),
      ("b", "2024-01-02")))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"daily aggregate should broadcast onto the spine:\n$plan")
  }

  test("profileColumns: one scan, exact measures, typed extrema") {
    val df = Seq(
      (1L, Option("aa"), Option(2.5)),
      (2L, Option("bbb"), Option(-1.0)),
      (2L, None, Option(2.5)),
      (3L, Option("c"), None)
    ).toDF("id", "s", "v")
    val out = Warehouse.profileColumns(df, Seq("id", "s", "v"))
      .orderBy("col_name").collect()
    val byName = out.map(r => r.getString(0) -> r).toMap
    val id = byName("id")
    assert((id.getLong(1), id.getLong(2), id.getLong(3)) === (4L, 0L, 3L))
    assert((id.getDouble(4), id.getDouble(5)) === (1.0, 3.0))
    assert(id.isNullAt(6) && id.isNullAt(7))
    val s = byName("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) === (4L, 1L, 3L))
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert((s.getLong(6), s.getLong(7)) === (1L, 3L))
    val v = byName("v")
    assert((v.getLong(2), v.getLong(3)) === (1L, 2L))
    assert((v.getDouble(4), v.getDouble(5)) === (-1.0, 2.5))
    // the long shape comes from ONE scan of the source
    val onOrders = Warehouse.profileColumns(
      Tables.orders(spark, "/root/testdata/sf0.001"),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    val plan = onOrders.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length === 1)
    assert(plan.contains("Expand")) // the exact-distinct trade, documented
    // approx mode drops the Expand (the 100 TB profile path)
    val approx = Warehouse.profileColumns(
      Tables.orders(spark, "/root/testdata/sf0.001"),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
      exactDistinct = false)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("expectations + riViolations report violation counts per check") {
    val fact = Seq(
      (1L, Option(10L), 5.0),
      (1L, Option(10L), -2.0), // dup key + negative
      (2L, None, 3.0),         // null fk
      (3L, Option(99L), 1.0)   // dangling fk
    ).toDF("k", "fk", "x")
    val dim = Seq(10L).toDF("d")
    val rep = Warehouse.expectations(fact, "k", col("k"), Seq(
        "fk_complete" -> col("fk").isNull,
        "x_nonneg" -> (col("x") < 0)))
      .unionByName(Warehouse.riViolations("fact_dim_ri", fact, col("fk"),
        dim, col("d")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rep("k_unique") === (1L, false))
    assert(rep("fk_complete") === (1L, false))
    assert(rep("x_nonneg") === (1L, false))
    // anti join: null fk and dangling fk both count as unmatched
    assert(rep("fact_dim_ri") === (2L, false))
  }

  test("expectations is a single pass over the fact table") {
    val plan = Warehouse.expectations(
        Tables.orders(spark, "/root/testdata/sf0.001"), "o_orderkey",
        col("o_orderkey"),
        Seq("neg" -> (col("o_totalprice") < 0)))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length === 1)
  }

  test("incrementalDailyRollup: persisted base ⊎ delta equals the full " +
    "recompute exactly") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files
      .createTempDirectory("graft_wh_rollup").toString + "/base"
    val merged = Warehouse.incrementalDailyRollup(orders,
        col("o_orderdate"), col("o_totalprice"),
        to_date(lit("1999-01-01")), path)
      .select(col("day"), col("n_rows"),
        col("sum_value_dec").cast("double").as("sum_value"))
    val full = Warehouse.dailyRollup(orders, col("o_orderdate"),
        col("o_totalprice"))
      .select(col("day"), col("n_rows"),
        col("sum_value_dec").cast("double").as("sum_value"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // the base really persisted — and both sides of the cutoff are live
    val base = spark.read.parquet(path)
    assert(base.count() > 0 && base.count() < full.count())
  }

  test("histogram: complete spine, zero buckets, max clamps into the " +
    "last bucket") {
    // values 0..10 over 5 buckets of width 2; bucket 3 ([6,8)) is empty
    val df = Seq(0.0, 1.0, 2.0, 4.0, 5.0, 9.0, 10.0).toDF("x")
      .where(col("x") =!= 6.0 && col("x") =!= 7.0)
    val out = Warehouse.histogram(df, col("x"), 5)
      .orderBy("bucket").collect()
    assert(out.length === 5)
    assert(out.map(_.getLong(3)).toSeq === Seq(2L, 1L, 2L, 0L, 2L))
    assert(out.head.getDouble(1) === 0.0 && out.last.getDouble(2) === 10.0)
    // 10.0 (== hi) clamps into bucket 4, not a phantom bucket 5
    assert(out.last.getLong(0) === 4L)
    val plan = Warehouse.histogram(
        Tables.orders(spark, "/root/testdata/sf0.001"),
        col("o_totalprice"), 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"), s"spine join must not SMJ:\n$plan")
  }

  test("scd2History: equal-timestamp state changes order by the " +
    "tiebreak — the successor window is total, not run-varying") {
    val log = Seq(
      (7L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (7L, ts("2024-01-01 10:00:00"), 2L, "B"), // same ts, later tiebreak
      (7L, ts("2024-01-02 10:00:00"), 3L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
    def run(df: org.apache.spark.sql.DataFrame) =
      Warehouse.scd2History(df, col("user_id"), col("ts"),
          col("event_id"), col("event_type"))
        .orderBy("valid_from", "state")
        .collect().map(r => (r.getString(1),
          Option(r.getAs[java.sql.Timestamp]("valid_to"))
            .map(_.toString).orNull, r.getBoolean(5)))
    val got = run(log)
    // A's interval CLOSES at the same instant (B supersedes it at ts);
    // B closes at C's start; C is current — deterministic by tiebreak
    assert(got.toSeq === Seq(
      ("A", "2024-01-01 10:00:00.0", false),
      ("B", "2024-01-02 10:00:00.0", false),
      ("C", null, true)))
    assert(run(log.repartition(7)).toSeq === got.toSeq)
  }

  test("histogram: a constant column lands ALL mass in bucket 0 " +
    "deterministically instead of a NaN-ordered arbitrary bucket") {
    val out = Warehouse.histogram(Seq(7.0, 7.0, 7.0).toDF("x"),
        col("x"), 5)
      .orderBy("bucket").collect()
    assert(out.length === 5)
    assert(out.map(r => (r.getLong(0), r.getLong(3))).toSeq ===
      Seq((0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
    assert(out.head.getDouble(1) === 7.0 && out.head.getDouble(2) === 7.0)
  }

  test("incrementalDailyRollup: the persisted base is WRITE-ONCE — a " +
    "second maintenance call reuses it instead of rescanning the base") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files
      .createTempDirectory("graft_wh_once").toString + "/base"
    val cutoff = to_date(lit("1999-01-01"))
    Warehouse.incrementalDailyRollup(orders, col("o_orderdate"),
      col("o_totalprice"), cutoff, path).count()
    val firstWrite = spark.read.parquet(path).collect().toSet
    val mtime = new java.io.File(path, "_SUCCESS").lastModified()
    Thread.sleep(5)
    val again = Warehouse.incrementalDailyRollup(orders,
      col("o_orderdate"), col("o_totalprice"), cutoff, path)
    again.count()
    assert(new java.io.File(path, "_SUCCESS").lastModified() === mtime,
      "base was rewritten on the second call")
    assert(spark.read.parquet(path).collect().toSet === firstWrite)
  }

  test("incrementalDailyRollup: the base carries its own commit marker, " +
    "so it stays write-once without the committer's _SUCCESS") {
    val orders = Seq(("1998-12-30", 10.5), ("1998-12-31", 2.25),
      ("1999-01-02", 7.0)).toDF("o_orderdate", "o_totalprice")
    val path = java.nio.file.Files
      .createTempDirectory("graft_wh_marker").toString + "/base"
    val cutoff = to_date(lit("1999-01-01"))
    def parts(): Set[(String, Long)] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).toSet
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      Warehouse.incrementalDailyRollup(orders, col("o_orderdate"),
        col("o_totalprice"), cutoff, path).count()
      assert(!new java.io.File(path, "_SUCCESS").exists())
      val first = parts()
      assert(first.nonEmpty)
      Thread.sleep(5)
      Warehouse.incrementalDailyRollup(orders, col("o_orderdate"),
        col("o_totalprice"), cutoff, path).count()
      assert(parts() === first, "base was rewritten on the second call")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dailySpikesFromDaily composes with gapfillDaily: explicit zero " +
    "days enter the trailing baseline as zeros") {
    // key k: 1 event/day on days 1-3, nothing on 4-6, 4 events day 7
    val ev = (Seq(1, 2, 3).map(d => ("k", ts(f"2024-01-0$d 09:00:00"))) ++
      Seq.fill(4)(("k", ts("2024-01-07 09:00:00"))))
      .toDF("key", "ts")
    val gapfilled = Warehouse.gapfillDaily(ev, col("key"), col("ts"))
    val out = Warehouse.dailySpikesFromDaily(gapfilled, lookback = 6)
      .where(col("day") === lit("2024-01-07").cast("date")).head()
    // trailing 6 days = 1+1+1+0+0+0 = 3 → mean 0.5; 4 >> 1.1×0.5
    assert(out.getAs[Long]("trail_sum") === 3L)
    assert(out.getAs[Long]("trail_cnt") === 6L)
    assert(out.getAs[Boolean]("is_spike"))
    // fed RAW (ungapfilled) daily counts the baseline would be 1,1,1
    // (mean 1) — still a spike here, but the trailing stats differ
    val raw = Warehouse.dailySpikes(ev, col("key"), col("ts"),
        lookback = 6)
      .where(col("day") === lit("2024-01-07").cast("date")).head()
    assert(raw.getAs[Long]("trail_cnt") === 3L)
  }

  test("WAP routing: a failing blocking audit aborts the whole batch") {
    // dirty staging batch: duplicate key -> the uniqueness audit blocks
    val fact = Seq((1L, 5.0), (1L, 7.0), (2L, 3.0)).toDF("k", "x")
    val gate = Warehouse.expectations(fact, "k", col("k"), Seq.empty)
      .agg(max(when(!col("passed"), 1L).otherwise(0L)).as("blocked"))
    val routed = fact.crossJoin(broadcast(gate))
      .select(when(col("blocked") === 1L, lit("aborted"))
        .otherwise(lit("publish")).as("verdict"))
      .groupBy("verdict").count().collect()
    assert(routed.length === 1)
    assert(routed.head.getString(0) === "aborted")
    assert(routed.head.getLong(1) === 3L)
  }

  test("streaming scd2Intervals: closed intervals match the batch " +
    "operator across batch boundaries, open runs stay in state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{Scd2Event, Scd2Interval}
    implicit val sqlCtx = spark.sqlContext
    def t(i: Int) = new Timestamp(i * 60000L)
    val all = Seq(
      Scd2Event(1L, t(1), 10L, Some("x")),
      Scd2Event(1L, t(2), 11L, Some("x")),
      // same-ts pair: event_id must order the null run after y
      Scd2Event(1L, t(3), 13L, None),
      Scd2Event(1L, t(3), 12L, Some("y")),
      // second batch: continues user 1's null run, then closes it
      Scd2Event(1L, t(5), 14L, None),
      Scd2Event(1L, t(6), 15L, Some("x")),
      Scd2Event(2L, t(1), 20L, Some("a")))
    val (b1, b2) = all.splitAt(4)
    val mem = MemoryStream[Scd2Event]
    val q = EventStreams.scd2Intervals(mem.toDS())
      .writeStream.format("memory").queryName("scd2_iv")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("scd2_iv").as[Scd2Interval].collect()
        .map(i => (i.user_id, i.state, i.valid_from, i.valid_to,
          i.n_events)).toSet
      val batch = Warehouse.scd2History(
          all.map(e => (e.user_id, e.ts, e.event_id, e.event_type))
            .toDF("user_id", "ts", "event_id", "event_type"),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .where(!col("is_current"))
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
      assert(got === batch)
      // user 1 closed x(2), y(1), null(2); open x and user 2's a
      // stay in state (is_current in batch terms), never emitted
      assert(got.size === 3)
      assert(!got.exists(i => i._1 == 2L))
    } finally q.stop()
  }

  test("dailySpikes flags integer-exact trailing-ratio exceedances") {
    // key a: 7 quiet days at 10 then a 3x day; first day never flags
    val rows = (1 to 7).map(d =>
      ("a", ts(s"2024-01-0$d 01:00:00"), 10)) :+
      (("a", ts("2024-01-08 01:00:00"), 30))
    val df = rows.flatMap { case (k, t, n) =>
      (1 to n).map(i => (k, new Timestamp(t.getTime + i)))
    }.toDF("k", "ts")
    val out = Warehouse.dailySpikes(df, col("k"), col("ts"))
      .orderBy("day").collect()
    assert(out.length === 8)
    assert(!out.head.getBoolean(6)) // no trailing history -> false
    assert(out.slice(1, 7).forall(!_.getBoolean(6))) // flat run
    val spike = out.last
    assert(spike.getBoolean(6))
    assert(spike.getDouble(5) === 3.0) // 30 vs mean 10, exact division
  }

  test("holtForecast: hand-computed smoothing chain, day order enforced " +
    "regardless of input order, single-obs keys forecast flat") {
    // x = (1, 3) at alpha = beta = 0.5:
    // l1=1 t1=0; l2 = .5*3+.5*(1+0) = 2; t2 = .5*(2-1)+.5*0 = 0.5
    // rows arrive day-DESCENDING to prove the fold sorts
    val daily = Seq(("a", 11L, 3.0), ("a", 10L, 1.0), ("b", 10L, 7.0))
      .toDF("k", "d", "x")
    val got = Warehouse.holtForecast(daily, col("k"), col("d"), col("x"),
        alpha = 0.5, beta = 0.5, horizon = 2)
      .orderBy("key", "h")
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("a", 2L, 2.0, 0.5, 1L, 2.5),
      ("a", 2L, 2.0, 0.5, 2L, 3.0),
      ("b", 1L, 7.0, 0.0, 1L, 7.0),   // one obs: level = x, no trend
      ("b", 1L, 7.0, 0.0, 2L, 7.0)))
    // invalid smoothing parameters rejected up front
    assertThrows[IllegalArgumentException] {
      Warehouse.holtForecast(daily, col("k"), col("d"), col("x"),
        alpha = 0.0, beta = 0.5, horizon = 2)
    }
  }

  test("holtWintersForecast: driver replay of the seasonal chain is " +
    "bit-identical; a pure weekly pattern concentrates in the matching " +
    "phase slot") {
    // 6 full weeks of a pure pattern: 10 on phase 0, 0 elsewhere
    val period = 7
    val series = (0 until 42).map(d =>
      ("a", d.toLong, if (d % period == 0) 10.0 else 0.0))
    val daily = series.toDF("k", "d", "x")
    val got = Warehouse.holtWintersForecast(daily, col("k"), col("d"),
        col("x"), alpha = 0.5, beta = 0.5, gamma = 0.5,
        period = period, horizon = 7)
      .orderBy("h")
      .as[(String, Long, Double, Double, Double, Long, Double)]
      .collect().toSeq
    // driver replay, op-for-op
    var n = 0L; var l = 0.0; var t = 0.0
    val s = new Array[Double](period)
    series.foreach { case (_, _, x) =>
      if (n == 0L) { l = x; t = 0.0 }
      else {
        val si = (n % period).toInt
        val nl = 0.5 * (x - s(si)) + (1 - 0.5) * (l + t)
        t = 0.5 * (nl - l) + (1 - 0.5) * t
        s(si) = 0.5 * (x - nl) + (1 - 0.5) * s(si)
        l = nl
      }
      n += 1L
    }
    got.foreach { case (_, nObs, lvl, tr, sea, h, yhat) =>
      val phase = ((n - 1 + h) % period).toInt
      assert(nObs === n && lvl === l && tr === t && sea === s(phase))
      assert(yhat === l + h * t + s(phase), s"h=$h")
    }
    // the spike phase (observation index ≡ 0 mod 7 → h where
    // (n-1+h) % 7 == 0) carries by far the largest seasonal term
    val byPhase = got.map(r => ((n - 1 + r._6) % period, r._5)).toMap
    assert(byPhase(0) > 5.0, byPhase.toString)
    (1L until period.toLong).foreach(p =>
      assert(byPhase(p) < byPhase(0) - 5.0, s"phase $p"))
  }

  test("applyCdc: latest change per key wins, U upserts absent keys, " +
    "D deletes (and no-ops on absent keys), replay is idempotent") {
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "name", "v")
    val ch = Seq(
      (1L, "a1", 11, 1L, 1L, "U"),   // superseded by the later U
      (1L, "a2", 12, 2L, 1L, "U"),   // latest -> wins
      (2L, "x", 0, 1L, 1L, "D"),     // delete key 2
      (4L, "d", 40, 1L, 1L, "U"),    // U for absent key -> insert
      (5L, "e", 50, 1L, 1L, "I"),    // plain insert
      (5L, "e2", 51, 1L, 2L, "I"),   // same ord: tiebreak decides
      (9L, "z", 0, 1L, 1L, "D")      // D for absent key -> no-op
    ).toDF("k", "name", "v", "ordv", "tb", "op")
    val next = Warehouse.applyCdc(base, ch, Seq("k"),
      col("ordv"), col("tb"), col("op"))
    assert(next.columns.toSeq === base.columns.toSeq)
    val got = next.as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a2", 12), (3L, "c", 30), (4L, "d", 40),
      (5L, "e2", 51)))
    // replaying the already-applied feed changes nothing (D on the
    // now-absent key no-ops, upserts re-assert current values)
    val again = Warehouse.applyCdc(next, ch, Seq("k"),
      col("ordv"), col("tb"), col("op"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(again === got)
  }

  test("cdcGateBatch: versioned epochs fold exactly-once — batch parity " +
    "with applyCdc, post-commit replay byte-identical, torn version " +
    "invisible, torn bootstrap re-bootstraps, contract pinned by meta, " +
    "compaction keeps the newest versions") {
    import graft.operators.Warehouse
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val pay = Seq("k", "name", "v")
    def feed(rows: Seq[(Long, String, Int, Long, Long, String)]) =
      rows.toDF("k", "name", "v", "ordv", "tb", "op")
    def gate(b: org.apache.spark.sql.DataFrame, e: Long) =
      Warehouse.cdcGateBatch(dir, Seq("k"), pay,
        col("ordv"), col("tb"), col("op"))(b, e)
    val e0 = feed(Seq((1L, "a", 10, 1L, 1L, "I"), (2L, "b", 20, 1L, 1L, "I")))
    val e1 = feed(Seq((1L, "a2", 11, 2L, 1L, "U"), (2L, "x", 0, 2L, 1L, "D"),
      (3L, "c", 30, 2L, 1L, "I")))
    gate(e0, 0L); gate(e1, 1L)
    def snap = Warehouse.readSnapshot(spark, dir)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val afterE1 = snap
    // parity with the batch operator folded twice over an empty base
    val base0 = e0.select("k", "name", "v").limit(0)
    val twice = Warehouse.applyCdc(Warehouse.applyCdc(base0, e0, Seq("k"),
        col("ordv"), col("tb"), col("op")), e1, Seq("k"),
        col("ordv"), col("tb"), col("op"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(afterE1 === twice && afterE1 ===
      Seq((1L, "a2", 11), (3L, "c", 30)))
    // post-commit replay of epoch 1: self-excluding base read -> same
    // fold, same bytes, reader unchanged
    gate(e1, 1L)
    assert(snap === afterE1)
    // post-commit replay of the BOOTSTRAP epoch (crash before the first
    // offset commit): empty base is legitimate — no earlier version
    // ever existed — and the refold rewrites v=0 identically
    gate(e0, 0L)
    assert(snap === afterE1)
    // torn epoch: a version directory without the marker is invisible
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/v=5"))
    assert(snap === afterE1)
    // epoch 6 folds over v=1, ignoring the torn v=5 junk
    gate(feed(Seq((3L, "c2", 31, 3L, 1L, "U"))), 6L)
    assert(snap === Seq((1L, "a2", 11), (3L, "c2", 31)))
    // drifted contract refused from meta
    val ex = intercept[IllegalArgumentException] {
      Warehouse.cdcGateBatch(dir, Seq("k", "name"), pay,
        col("ordv"), col("tb"), col("op"))(e0, 7L)
    }
    assert(ex.getMessage.contains("persisted contract"))
    // compaction drops old + torn versions, never the newest
    val dropped = Warehouse.compactSnapshots(spark, dir, keep = 1)
    assert(dropped === Seq(0L, 1L, 5L))
    assert(snap === Seq((1L, "a2", 11), (3L, "c2", 31)))
    // ...but keep=1 leaves epoch 6's replay without its base: refused
    // loudly instead of folding the feed alone and dropping every
    // unmentioned key
    val ex2 = intercept[IllegalArgumentException] {
      gate(feed(Seq((3L, "c2", 31, 3L, 1L, "U"))), 6L)
    }
    assert(ex2.getMessage.contains("no committed base"))
    assert(snap === Seq((1L, "a2", 11), (3L, "c2", 31)))
    // torn BOOTSTRAP: meta present but no commit marker -> re-bootstrap
    val dir2 = java.nio.file.Files.createTempDirectory("graft_cdc2")
      .toString
    Seq(("junk", "junk")).toDF("key_cols", "payload_cols")
      .write.parquet(s"$dir2/meta")
    new org.apache.hadoop.fs.Path(s"$dir2/meta/_SUCCESS")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir2/meta/_SUCCESS"), false)
    Warehouse.cdcGateBatch(dir2, Seq("k"), pay,
      col("ordv"), col("tb"), col("op"))(e0, 0L)
    assert(Warehouse.readSnapshot(spark, dir2)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "a", 10), (2L, "b", 20)))
  }

  test("startCdcGate streaming smoke: two microbatches through the " +
    "MemoryStream wiring land as committed versions, reader sees the " +
    "latest fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Warehouse
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdc_stream").toString
    val mem = MemoryStream[(Long, String, Int, Long, Long, String)]
    val q = EventStreams.startGate(
      mem.toDF.toDF("k", "name", "v", "ordv", "tb", "op"), s"$dir/ckpt")(
      Warehouse.cdcGateBatch(s"$dir/table", Seq("k"), Seq("k", "name", "v"),
        col("ordv"), col("tb"), col("op")))
    try {
      mem.addData((1L, "a", 10, 1L, 1L, "I"), (2L, "b", 20, 1L, 1L, "I"))
      q.processAllAvailable()
      mem.addData((1L, "a2", 11, 2L, 1L, "U"), (2L, "x", 0, 2L, 1L, "D"))
      q.processAllAvailable()
      assert(Warehouse.readSnapshot(spark, s"$dir/table")
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq ===
        Seq((1L, "a2", 11)))
    } finally q.stop()
  }

  test("applyCdc: unknown op codes fail the job loudly; missing payload " +
    "columns are rejected up front") {
    val base = Seq((1L, 10)).toDF("k", "v")
    val bad = Seq((1L, 11, 1L, 1L, "UPSERT")).toDF("k", "v", "ordv", "tb",
      "op")
    val ex = intercept[Exception] {
      Warehouse.applyCdc(base, bad, Seq("k"),
        col("ordv"), col("tb"), col("op")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("unknown op")), ex.toString)
    val narrow = Seq((1L, 1L, 1L, "U")).toDF("k", "ordv", "tb", "op")
    assertThrows[IllegalArgumentException] {
      Warehouse.applyCdc(base, narrow, Seq("k"),
        col("ordv"), col("tb"), col("op"))
    }
  }

  test("linearTrend: exact fit on a perfect line, NULL stats on " +
    "degenerate keys, nulls excluded, single-aggregate plan") {
    val facts = Seq(
      // key a: y = 2x + 1 exactly -> slope 2, intercept 1, r2 = 1
      ("a", 1L, 3.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("a", 4L, 9.0),
      // key b: constant x -> den = 0 -> all three stats NULL
      ("b", 5L, 1.0), ("b", 5L, 2.0),
      // key c: constant y -> slope/intercept defined (slope 0), r2 NULL
      ("c", 1L, 4.0), ("c", 2L, 4.0), ("c", 3L, 4.0)
    ).toDF("k", "x", "y")
      .union(Seq(("a", Option.empty[Long], Option(1.0)),
        (null, Option(1L), Option(1.0)))
        .toDF("k", "x", "y"))   // null x / null key rows must not count
    val out = Warehouse.linearTrend(facts, col("k"), col("x"), col("y"))
      .orderBy("key").collect()
    assert(out.length === 3)
    val a = out(0)
    assert(a.getString(0) === "a" && a.getLong(1) === 4L &&
      a.getLong(2) === 4L)
    assert(a.getDouble(3) === 2.0 && a.getDouble(4) === 1.0 &&
      a.getDouble(5) === 1.0)
    val b = out(1)
    assert(b.getString(0) === "b" && b.getLong(1) === 2L)
    assert(b.isNullAt(3) && b.isNullAt(4) && b.isNullAt(5))
    val c = out(2)
    assert(c.getDouble(3) === 0.0 && c.getDouble(4) === 4.0 &&
      c.isNullAt(5))
    // scale shape: one partial+final hash aggregate pair, no window/sort
    val plan = Warehouse.linearTrend(facts, col("k"), col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window") && !plan.contains("Sort"), plan)
  }

  test("trendForecast extrapolates the exact fitted line and excludes " +
    "degenerate keys") {
    val facts = Seq(
      ("a", 1L, 3.0), ("a", 2L, 5.0), ("a", 3L, 7.0),   // y = 2x + 1
      ("b", 5L, 1.0), ("b", 5L, 2.0)                    // constant x
    ).toDF("k", "x", "y")
    val f = Warehouse.trendForecast(
        Warehouse.linearTrend(facts, col("k"), col("x"), col("y")),
        horizon = 3)
      .orderBy("key", "h").collect()
    // only key a (b's fit is NULL); x_max = 3 -> yhat = 2(3+h)+1
    assert(f.map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .toSeq === Seq(("a", 1, 9.0), ("a", 2, 11.0), ("a", 3, 13.0)))
    assertThrows[IllegalArgumentException] {
      Warehouse.trendForecast(
        Warehouse.linearTrend(facts, col("k"), col("x"), col("y")), 0)
    }
  }

  test("pivot-unpivot round trip lands on the long-format GROUP BY, " +
    "absent cells NULL in wide form and dropped in long form") {
    val df = Seq(("r", "F", 1.0), ("r", "F", 2.0), ("r", "O", 4.0),
      ("s", "F", 8.0)).toDF("flag", "status", "qty")
    val wide = df.groupBy("flag").pivot("status", Seq("F", "O"))
      .agg(sum(col("qty").cast("decimal(18,2)")).cast("double"))
      .orderBy("flag").collect()
    assert(wide.length === 2)
    assert(wide(0).getDouble(1) === 3.0 && wide(0).getDouble(2) === 4.0)
    assert(wide(1).getDouble(1) === 8.0 && wide(1).isNullAt(2)) // absent
    val long = df.groupBy("flag").pivot("status", Seq("F", "O"))
      .agg(sum(col("qty").cast("decimal(18,2)")).cast("double"))
      .unpivot(Array(col("flag")), Array(col("F"), col("O")),
        "status", "sum_qty")
      .where(col("sum_qty").isNotNull)
      .orderBy("flag", "status").collect()
    assert(long.map(r => (r.getString(0), r.getString(1),
      r.getDouble(2))).toSeq ===
      Seq(("r", "F", 3.0), ("r", "O", 4.0), ("s", "F", 8.0)))
  }
}
