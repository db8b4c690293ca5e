package graft

import org.apache.spark.sql.functions._
import graft.functions.{HllAgg, SketchAggregates}

class HllSpec extends SparkTestBase {
  import spark.implicits._

  private val hex = 2
  private val m = 256

  private def registers(items: Seq[String], parts: Int = 4): Seq[Int] =
    items.toDF("x").repartition(parts)
      .agg(SketchAggregates.hllSketch(col("x"), hex).as("sk"))
      .head().getSeq[Int](0)

  test("registerOf matches the SQL addressing contract on knowns") {
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592:
    // idx = 0x5d = 93; tail 13 hex = 41402abc4b2a7 (52 bits, top nibble
    // 0100 -> one leading zero -> rho 2)
    assert(HllAgg.registerOf("hello", 2) === (93, 2))
    // v = 0 edge: rho = 53 - length(bin(0)) = 52 by the shared
    // '0'-string convention (not 53)
    assert(53 - java.lang.Long.toBinaryString(0L).length === 52)
  }

  test("sketch is a pure function of the input SET: partitioning, " +
    "order, and duplication all produce identical registers") {
    val items = (1 to 2000).map(i => s"item$i")
    val base = registers(items, parts = 1)
    assert(registers(items.reverse, parts = 8) === base)
    assert(registers(items ++ items ++ items.take(500), parts = 32) === base)
    assert(base.length === m)
  }

  test("merge of per-group sketches == sketch of the union, exactly") {
    val a = (1 to 800).map(i => s"a$i")
    val b = (500 to 1500).map(i => s"b$i")
    val merged = registers(a).zip(registers(b)).map { case (x, y) =>
      math.max(x, y)
    }
    assert(merged === registers(a ++ b))
  }

  test("estimate readout: raw estimator within 5 standard errors at " +
    "n >= 2.5m, and bit-identical to the driver-side fold") {
    val n = 5000
    val items = (1 to n).map(i => s"doc-$i")
    val est = items.toDF("x")
      .agg(SketchAggregates.hllSketch(col("x"), hex).as("sk"))
      .select(SketchAggregates.hllEstimate(col("sk"), hex).as("e"))
      .head().getDouble(0)
    val se = 1.04 / math.sqrt(m.toDouble) // ~6.5% at m=256
    assert(math.abs(est - n) / n < 5 * se, s"estimate $est vs $n")
    // driver replay of the documented IEEE chain
    val regs = registers(items, parts = 1)
    var s = 0.0
    regs.foreach(r => s += 1.0 / (1L << r).toDouble)
    val replay = 0.7213 / (1.0 + 1.079 / m.toDouble) *
      m.toDouble * m.toDouble / s
    assert(est === replay)
  }

  test("nulls are skipped; empty input keeps all-zero registers") {
    val got = Seq[String](null, null).toDF("x")
      .agg(SketchAggregates.hllSketch(col("x"), hex).as("sk"))
      .head().getSeq[Int](0)
    assert(got.forall(_ === 0) && got.length === m)
  }

  test("uniques gate: epoch fold == direct sketch per day, replay with " +
    "duplicated rows is register-identical, torn version invisible, " +
    "width contract from meta") {
    import graft.operators.Warehouse
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hll_gate").toString
    def ev(rows: Seq[(String, String)]) =
      rows.toDF("day", "user").select(col("day").cast("date").as("day"),
        col("user"))
    val e0 = ev(Seq(("2024-01-01", "u1"), ("2024-01-01", "u2"),
      ("2024-01-02", "u2")))
    val e1 = ev(Seq(("2024-01-02", "u3"), ("2024-01-03", "u4")))
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(e0, 0L)
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(e1, 1L)
    def snap() = Warehouse.readSnapshot(spark, dir)
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector)
    val after1 = snap()
    // per-day registers equal the direct sketch of each day's full set
    val direct = e0.unionByName(e1).groupBy("day")
      .agg(SketchAggregates.hllSketch(col("user"), hex).as("sk"))
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector)
    assert(after1 === direct)
    // at-least-once replay of epoch 1 WITH duplicated rows: max is
    // idempotent, so the rewritten version is register-identical
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
      e1.unionByName(e1), 1L)
    assert(snap() === after1)
    // a torn (uncommitted) version stays invisible to readers
    ev(Seq(("2024-01-04", "u9"))).write
      .parquet(s"$dir/v=2") // no _GRAFT_COMMITTED marker
    assert(snap() === after1)
    // register-width contract is pinned in meta
    val e = intercept[IllegalArgumentException] {
      Warehouse.uniquesGateBatch(dir, 3, "day", "user")(e1, 3L)
    }
    assert(e.getMessage.contains("hexChars"))
    // range readout: 01-01..01-02 covers u1,u2,u3 = 3 distinct over 2
    // days; estimate is within the m=256 small-n bias envelope but
    // n_hit counts exactly the 3 distinct items' registers
    val r = Warehouse.uniquesOverRange(spark, dir,
      "2024-01-01", "2024-01-02").head()
    assert(r.getLong(0) === 2L && r.getInt(1) === 3)
    val empty = Warehouse.uniquesOverRange(spark, dir,
      "2030-01-01", "2030-01-02").head()
    assert(empty.getLong(0) === 0L && empty.isNullAt(2))
  }

  test("uniques gate: a replay whose base version was compacted away " +
    "is refused instead of zeroing history") {
    import graft.operators.Warehouse
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hll_compact").toString
    def ev(rows: Seq[(String, String)]) =
      rows.toDF("day", "user").select(col("day").cast("date").as("day"),
        col("user"))
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
      ev(Seq(("2024-03-01", "u1"))), 0L)
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
      ev(Seq(("2024-03-02", "u2"))), 1L)
    // the BOOTSTRAP epoch's own at-least-once replay (crash between
    // sink commit and offset commit on the very first batch) must NOT
    // be refused: no earlier version ever existed, and the empty-base
    // refold rewrites v=0 register-identically
    val snapBefore = Warehouse.readSnapshot(spark, dir)
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector).toSeq
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
      ev(Seq(("2024-03-01", "u1"))), 0L)
    assert(Warehouse.readSnapshot(spark, dir)
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector)
      .toSeq === snapBefore)
    // keep=1 removes v=0 — epoch 1's replay base is gone
    assert(Warehouse.compactSnapshots(spark, dir, keep = 1) === Seq(0L))
    val e = intercept[IllegalArgumentException] {
      Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
        ev(Seq(("2024-03-02", "u2"))), 1L)
    }
    assert(e.getMessage.contains("no committed base"))
    // history is intact, and the stream moving FORWARD still works
    assert(Warehouse.readSnapshot(spark, dir).count() === 2L)
    Warehouse.uniquesGateBatch(dir, hex, "day", "user")(
      ev(Seq(("2024-03-03", "u3"))), 2L)
    assert(Warehouse.readSnapshot(spark, dir).count() === 3L)
  }

  test("SQL-surface sketch aggregates: graft_hll_sketch / " +
    "graft_count_min / graft_misra_gries run from spark.sql and match " +
    "the Column API; non-literal size params are rejected") {
    val items = (1 to 500).map(i => s"it${i % 97}")
    items.toDF("x").createOrReplaceTempView("hll_sql_items")
    val sqlRegs = spark.sql(
      s"SELECT graft_hll_sketch(x, $hex) FROM hll_sql_items")
      .head().getSeq[Int](0)
    assert(sqlRegs === registers(items))
    val cmSql = spark.sql(
      "SELECT graft_count_min(x, 3) FROM hll_sql_items")
      .head().getSeq[Long](0)
    val cmApi = items.toDF("x")
      .agg(SketchAggregates.countMin(col("x"), 3)).head().getSeq[Long](0)
    assert(cmSql === cmApi)
    val mgSql = spark.sql(
      "SELECT graft_misra_gries(x, 200) FROM hll_sql_items")
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    // k >= distinct: exact counts regardless of merge order
    assert(mgSql.toMap === items.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap)
    intercept[Exception] {
      spark.sql("SELECT graft_hll_sketch(x, length(x)) FROM hll_sql_items")
        .collect()
    }
  }

  test("tumblingUniques: HLL registers as STREAMING window state — " +
    "multi-batch arrival (late rows within the watermark included) " +
    "produces exactly the batch registers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = new Timestamp(3600000L + m * 60000L)
    val rows = Seq(
      (ts(0), "u1"), (ts(5), "u2"), (ts(10), "u1"),   // window 1
      (ts(65), "u3"), (ts(70), "u4"))                 // window 2
    val late = Seq((ts(8), "u9"))                     // late, in-watermark
    val mem = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.EventStreams.tumblingUniques(
        mem.toDF.toDF("ts", "user"), hex, "user")
      .writeStream.format("memory").queryName("hll_windows")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData(late: _*)
      q.processAllAvailable()
      // complete mode: the memory table IS the latest snapshot
      val got = spark.table("hll_windows")
        .select("window_start", "sk").collect()
        .map(r => r.getTimestamp(0).getTime -> r.getSeq[Int](1).toVector)
        .toMap
      val batch = (rows ++ late).toDF("ts", "user")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(SketchAggregates.hllSketch(col("user"), hex).as("sk"))
        .collect()
        .map(r => r.getStruct(0).getTimestamp(0).getTime ->
          r.getSeq[Int](1).toVector)
        .toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("startUniquesGate streaming smoke: microbatches through the " +
    "MemoryStream wiring land as committed versions; a later batch " +
    "only raises registers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Warehouse
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hll_stream").toString
    val mem = MemoryStream[(String, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("day", "user"),
      s"$dir/ckpt")(Warehouse.uniquesGateBatch(s"$dir/table", hex, "day",
      "user"))
    try {
      mem.addData(("2024-02-01", "u1"), ("2024-02-01", "u2"))
      q.processAllAvailable()
      val v1 = Warehouse.readSnapshot(spark, s"$dir/table")
        .orderBy("day").collect()
        .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector)
      assert(v1.map(_._1).toSeq === Seq("2024-02-01"))
      mem.addData(("2024-02-01", "u3"), ("2024-02-02", "u4"))
      q.processAllAvailable()
      val v2 = Warehouse.readSnapshot(spark, s"$dir/table")
        .orderBy("day").collect()
        .map(r => r.getDate(0).toString -> r.getSeq[Int](1).toVector)
      assert(v2.map(_._1).toSeq === Seq("2024-02-01", "2024-02-02"))
      // max-merge only raises registers, never lowers
      v1.head._2.zip(v2.head._2).foreach { case (a, b) => assert(b >= a) }
    } finally q.stop()
  }
}
