package graft

import org.apache.spark.sql.functions._
import graft.operators.Shard

class ShardSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = (1L to 400L).map(i => (i, s"text$i"))
    .toDF("doc_id", "text")

  /** [[Shard.systematicPps]] by its global-window formula: the Madow
    * grid over ONE running-sum window along the sampler's line. */
  private def ppsByGlobalWindow(df: org.apache.spark.sql.DataFrame, n: Int,
                                seed: String = "pps0") = {
    import org.apache.spark.sql.expressions.Window
    val bigW = df.agg(sum("w")).head().getLong(0)
    val start = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16) % bigW + 1
    val key = md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    df.withColumn("cum", sum("w").over(
        Window.orderBy(key, col("doc_id"), col("w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("w"),
        (expr(s"(cum * ${n}L - ${start}L + ${bigW}L) div ${bigW}L") -
          expr(s"((cum - w) * ${n}L - ${start}L + ${bigW}L) div ${bigW}L"))
          .as("mult"))
      .where(col("mult") >= 1)
      .as[(Long, Long, Long)].collect().toSeq.sorted
  }

  test("systematicPps: exactly n draws with multiplicity, expected " +
    "count floor/ceil of n·w/W, partition-layout-free") {
    val unique = (1L to 300L).map(i => (i, 1L + i % 7))
    // repeated ids share one order key: three more rows on ids 5 and 17
    val repeated = (1L to 200L).map(i => (i, 1L + i % 7)) ++
      Seq((5L, 3L), (17L, 2L), (17L, 4L))
    for ((rows, n) <- Seq((unique, 40), (repeated, 37), (repeated, 101))) {
      val weighted = rows.toDF("doc_id", "w")
      def draws(df: org.apache.spark.sql.DataFrame) =
        Shard.systematicPps(df, n, col("w"))
          .as[(Long, Long, Long)].collect().toSeq.sorted
      val got = draws(weighted)
      assert(got.map(_._3).sum === n, s"rows=${rows.size} n=$n")
      // every draw count is within 1 of the exact expectation n·w/W
      val bigW = rows.map(_._2).sum
      got.foreach { case (_, w, m) =>
        val expect = n.toDouble * w / bigW
        assert(m >= math.floor(expect) - 1 && m <= math.ceil(expect) + 1)
      }
      // layout independence: same draws from a different partitioning,
      // and the global window's draws under 1 and 7 shuffle partitions
      assert(draws(weighted.repartition(13)) === got)
      for (p <- Seq(1, 7)) withShufflePartitions(p) {
        assert(draws(weighted) === ppsByGlobalWindow(weighted, n),
          s"rows=${rows.size} n=$n partitions=$p")
      }
    }
  }

  test("systematicPps: a certainty unit (w > W/n) is drawn ~n·w/W " +
    "times; driver replay of the grid is identical") {
    // one dominant row: w=1000 among 100 rows of w=10 → W=2000,
    // n=20 → grid spacing 100 → the heavy row must absorb ~10 draws
    val rows = ((1L to 100L).map(i => (i, 10L)) :+ (999L, 1000L))
      .toDF("doc_id", "w")
    val n = 20
    val got = Shard.systematicPps(rows, n, col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.values.sum === n)
    val heavy = got(999L)
    assert(heavy == 10L || heavy == 11L, s"heavy=$heavy")
    // exact driver replay: same md5 order, same start, same grid
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"pps0:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val line = (((1L to 100L).map(i => (i, 10L)) :+ (999L, 1000L)))
      .sortBy { case (id, _) => (key(id), id) }
    var cum = 0L
    val bigW = line.map(_._2).sum
    val start = java.lang.Long.parseLong(
      md.digest("pps0".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16) % bigW + 1
    val replay = line.map { case (id, w) =>
      val prev = cum; cum += w
      (id, (cum * n - start + bigW) / bigW -
        (prev * n - start + bigW) / bigW)
    }.filter(_._2 >= 1).toMap
    assert(replay === got)
  }

  test("systematicPps: per-row inclusion probability is n·w/W — a " +
    "seed sweep draws the heavy row in proportion to its weight") {
    // n=1 over w=1 vs w=3 (W=4): the heavy row must be drawn in ~3/4
    // of seeds. The pre-fix fixed-start grid drew whichever row the
    // hash order placed LAST (probability 1/2 each) — this sweep
    // catches exactly that bias. 120 seeds, binomial sd ≈ 4.7; the
    // biased scheme lands ≈ 60, far below the 4σ lower bound.
    val rows = Seq((1L, 1L), (2L, 3L)).toDF("doc_id", "w")
    val heavyDraws = (0 until 120).map { s =>
      Shard.systematicPps(rows, 1, col("w"), seed = s"sweep$s")
        .collect().map(_.getLong(0)).toSeq
    }.count(_ == Seq(2L))
    assert(heavyDraws > 70 && heavyDraws < 110, s"heavy=$heavyDraws/120")
  }

  test("systematicPpsByGroup: exactly n_g draws per group, omitted " +
    "groups unsampled, layout-free, overflow guard fires") {
    val unique = (1L to 600L).map(i => (i, s"s${i % 3}", 1L + i % 5))
    // repeated ids share one order key: three more rows on ids 3 and 4
    val repeated = unique ++
      Seq((3L, "s0", 2L), (4L, "s1", 4L), (4L, "s1", 1L))
    for ((input, q0, q1) <- Seq((unique, 10L, 25L), (repeated, 37L, 101L))) {
      val rows = input.toDF("doc_id", "source", "w")
      val quotas = Seq(("s0", q0), ("s1", q1), ("zz", 7L))
        .toDF("source", "n") // s2 omitted → unsampled; zz absent → ignored
      val got = Shard.systematicPpsByGroup(rows, quotas, col("w"))
        .collect().map(r => (r.getString(1), r.getLong(3)))
      val perGroup = got.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(perGroup === Map("s0" -> q0, "s1" -> q1))
      def draws(df: org.apache.spark.sql.DataFrame) =
        Shard.systematicPpsByGroup(df, quotas, col("w"))
          .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq.sorted
      assert(draws(rows.repartition(11)) === draws(rows))
    }
    val huge = Seq((1L, "a", Long.MaxValue / 3), (2L, "a", Long.MaxValue / 3))
      .toDF("doc_id", "source", "w")
    val e = intercept[Exception] {
      Shard.systematicPpsByGroup(huge, Seq(("a", 5L)).toDF("source", "n"),
        col("w")).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("overflows the exact grid"))
  }

  test("systematicPps: non-positive weight fails loudly") {
    val bad = Seq((1L, 5L), (2L, 0L)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Shard.systematicPps(bad, 3, col("w")).collect()
    }
    assert(e.getMessage.contains("non-positive weight") ||
      Option(e.getCause).exists(_.getMessage.contains("non-positive")))
  }

  test("trainingOrder is a deterministic permutation: every doc exactly " +
    "once, positions dense per shard, identical across runs") {
    val a = Shard.trainingOrder(docs, "epoch0", nShards = 8)
      .orderBy("shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val b = Shard.trainingOrder(docs, "epoch0", nShards = 8)
      .orderBy("shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._1).toSet === (1L to 400L).toSet)
    // positions are 1..count(shard) with no gaps
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // every shard in [0, 8) is populated at this size and the draw is
    // not wildly skewed (uniform 1/8 ± generous slack)
    val sizes = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet === (0 until 8).toSet)
    sizes.values.foreach(n => assert(n > 20 && n < 80, sizes.toString))
  }

  test("a new seed is an independent permutation (order actually changes)") {
    val e0 = Shard.trainingOrder(docs, "epoch0", 4)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect()
    val e1 = Shard.trainingOrder(docs, "epoch1", 4)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect()
    assert(e0.toSet === e1.toSet)
    assert(e0.toSeq !== e1.toSeq)
  }

  test("shardedForWrite carries payload, lands one sorted partition per " +
    "shard, and survives a round-trip through partitioned parquet") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_shard").toString + "/corpus"
    Shard.shardedForWrite(docs, "epoch0", nShards = 4)
      .write.partitionBy("shard").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() === 400)
    assert(back.select("shard").distinct().as[Int]
      .collect().sorted.toSeq === Seq(0, 1, 2, 3))
    // payload preserved and (shard, pos) agrees with trainingOrder
    val expected = Shard.trainingOrder(docs, "epoch0", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val got = back.select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === expected)
    assert(back.where(col("text") === "text7").count() === 1)
  }

  test("nShards bounds are enforced") {
    val e = intercept[IllegalArgumentException] {
      Shard.trainingOrder(docs, "s", nShards = 5000)
    }
    assert(e.getMessage.contains("out of [1,4096]"))
  }

  // -- scalableNtileMulti, one cut: the two-phase exact NTILE ---------------

  private def ntileFixture = {
    // deliberately collision-heavy metric (19 distinct values over 237
    // rows) so tie groups straddle candidate split points, plus a
    // unique tiebreak — the shape that breaks naive bucketings
    (1L to 237L).map(i => (i, (i * 7919) % 19, s"u$i"))
      .toDF("id", "metric", "tag")
  }

  test("scalableNtile equals the global-window ntile exactly — asc and " +
    "desc, over tie-heavy data and across bucket counts") {
    import org.apache.spark.sql.expressions.Window
    val df = ntileFixture
    for (desc <- Seq(false, true); buckets <- Seq(1, 4, 64);
         p <- Seq(1, 7)) withShufflePartitions(p) {
      val ord = if (desc) Seq(col("metric").desc, col("id").asc)
        else Seq(col("metric").asc, col("id").asc)
      val want = df.withColumn("t",
          ntile(5).over(Window.orderBy(ord: _*)))
        .select("id", "t").as[(Long, Int)].collect().toMap
      val got = Shard.scalableNtileMulti(df, Seq(Shard.NtileSpec(5,
          col("metric"), col("id"), "t", descending = desc)),
          buckets = buckets, windowFormMax = 0)
        .select("id", "t").as[(Long, Int)].collect().toMap
      assert(got === want, s"desc=$desc buckets=$buckets partitions=$p")
    }
  }

  test("scalableNtile: fewer rows than tiles (row i → tile i+1), and " +
    "result is partition-layout-free") {
    import org.apache.spark.sql.expressions.Window
    val small = Seq((10L, 5.0), (20L, 1.0), (30L, 3.0)).toDF("id", "m")
    val want = small.withColumn("t",
        ntile(7).over(Window.orderBy(col("m").asc, col("id").asc)))
      .select("id", "t").as[(Long, Int)].collect().toMap
    val got = Shard.scalableNtileMulti(small,
      Seq(Shard.NtileSpec(7, col("m"), col("id"), "t")), windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    assert(got === want)
    val re = Shard.scalableNtileMulti(ntileFixture.repartition(13),
        Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t",
          descending = true)), windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    val base = Shard.scalableNtileMulti(ntileFixture,
        Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t",
          descending = true)), windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    assert(re === base)
  }

  test("scalableNtile: no single-partition exchange in the plan; null " +
    "leading value fails loudly") {
    val plan = Shard.scalableNtileMulti(ntileFixture,
      Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")),
      windowFormMax = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
    val withNull = ntileFixture.withColumn("metric",
      when(col("id") === 3L, lit(null)).otherwise(col("metric")))
    val e = intercept[Exception] {
      Shard.scalableNtileMulti(withNull,
          Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")),
          windowFormMax = 0)
        .collect()
    }
    assert(e.getMessage.contains("null leading value"))
  }

  // -- twoPhaseRunningSum ----------------------------------------------------

  test("twoPhaseRunningSum equals the global running-sum window " +
    "exactly, across bucket counts, and keeps a partitioned plan") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 301L).map(i => ((i * 31) % 501, i % 13))
      .toMap.toSeq // distinct order keys
      .toDF("k", "v")
    val want = df.withColumn("cs", sum(col("v")).over(
        Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cs").as[(Long, Long)].collect().toMap
    for (buckets <- Seq(1, 8, 64); p <- Seq(1, 7))
      withShufflePartitions(p) {
        val got = Shard.twoPhaseRunningSum(df, col("k"), col("v"), "cs",
            buckets = buckets)
          .select("k", "cs").as[(Long, Long)].collect().toMap
        assert(got === want, s"buckets=$buckets partitions=$p")
      }
    val plan = Shard.twoPhaseRunningSum(df, col("k"), col("v"), "cs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
  }

  test("twoPhaseRunningSum: a non-numeric order key that casts to null " +
    "fails loudly instead of silently landing in bucket 0") {
    val df = Seq(("1", 1L), ("oops", 2L), ("3", 3L)).toDF("k", "v")
    val e = intercept[Exception] {
      Shard.twoPhaseRunningSum(df, col("k"), col("v"), "cs").collect()
    }
    // ANSI mode: the cast itself fails loudly (CAST_INVALID_INPUT);
    // non-ANSI: the cast yields null and OUR guard fires. Either way
    // the row cannot silently land in bucket 0.
    assert(e.getMessage.contains("null or non-numeric order value") ||
      e.getMessage.contains("CAST_INVALID_INPUT"))
  }

  test("twoPhaseRunningSum orders numeric-string keys NUMERICALLY — " +
    "the window runs over the same cast image the buckets are drawn " +
    "from, so \"9\" < \"10\" holds at every bucket count") {
    // lexicographic order would be "10" < "100" < "9"; the numeric
    // contract is 9 < 10 < 100 regardless of where the splits land
    val df = Seq(("9", 1L), ("10", 2L), ("100", 4L)).toDF("k", "v")
    for (buckets <- Seq(1, 2, 64)) {
      val got = Shard.twoPhaseRunningSum(df, col("k"), col("v"), "cs",
          buckets = buckets)
        .select("k", "cs").as[(String, Long)].collect().toMap
      assert(got === Map("9" -> 1L, "10" -> 3L, "100" -> 7L),
        s"buckets=$buckets: $got")
    }
  }

  test("the null/NaN guards still fire at buckets = 1, where no " +
    "sketch pass consumes the guarded column") {
    val withNaN = ntileFixture.withColumn("metric",
      when(col("id") === 3L, lit(Double.NaN))
        .otherwise(col("metric").cast("double")))
    val e1 = intercept[Exception] {
      Shard.scalableNtileMulti(withNaN,
        Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")),
        buckets = 1, windowFormMax = 0).collect()
    }
    assert(e1.getMessage.contains("NaN leading value"))
    val rsNull = Seq((java.lang.Double.valueOf(1.0), 1L),
        (null.asInstanceOf[java.lang.Double], 2L)).toDF("k", "v")
    val e2 = intercept[Exception] {
      Shard.twoPhaseRunningSum(rsNull, col("k"), col("v"), "cs",
        buckets = 1).collect()
    }
    assert(e2.getMessage.contains("null or non-numeric order value"))
    val nullM = groupedFixture.withColumn("metric",
      when(col("id") === 3L, lit(null)).otherwise(col("metric")))
    val e3 = intercept[Exception] {
      Shard.scalableNtileByGroup(nullM, 3, col("lang"), col("metric"),
        col("id"), "t", buckets = 1, windowFormMax = 0).collect()
    }
    assert(e3.getMessage.contains("null leading value"))
  }

  test("scalableNtile / twoPhaseRunningSum: NaN leading/order values " +
    "fail loudly (NaN-greatest would otherwise silently sort)") {
    val withNaN = ntileFixture.withColumn("metric",
      when(col("id") === 3L, lit(Double.NaN))
        .otherwise(col("metric").cast("double")))
    val e1 = intercept[Exception] {
      Shard.scalableNtileMulti(withNaN,
          Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")),
          windowFormMax = 0)
        .collect()
    }
    assert(e1.getMessage.contains("NaN leading value"))
    val rs = Seq((1.0, 1L), (Double.NaN, 2L), (3.0, 3L)).toDF("k", "v")
    val e2 = intercept[Exception] {
      Shard.twoPhaseRunningSum(rs, col("k"), col("v"), "cs").collect()
    }
    assert(e2.getMessage.contains("NaN order value"))
  }

  // -- scalableNtileByGroup: the grouped two-phase exact NTILE ---------------

  /** 90/10-skewed groups (the pretraining-corpus language shape): ~90%
    * of rows in "en", the rest over 9 small languages; collision-heavy
    * metric so tie groups straddle split points. */
  private def groupedFixture = {
    (1L to 900L).map { i =>
      val g = if (i % 10 != 0) "en" else s"l${i % 90 / 10}"
      (i, g, (i * 7919) % 19, s"u$i")
    }.toDF("id", "lang", "metric", "tag")
  }

  test("scalableNtileByGroup equals the per-group window ntile exactly " +
    "— asc and desc, skewed groups, tie-heavy data, across bucket " +
    "counts and k") {
    import org.apache.spark.sql.expressions.Window
    val df = groupedFixture
    for (desc <- Seq(false, true); buckets <- Seq(1, 4, 64);
         k <- Seq(3, 5); p <- Seq(1, 7)) withShufflePartitions(p) {
      val ord = if (desc) Seq(col("metric").desc, col("id").asc)
        else Seq(col("metric").asc, col("id").asc)
      val want = df.withColumn("t",
          ntile(k).over(Window.partitionBy("lang").orderBy(ord: _*)))
        .select("id", "t").as[(Long, Int)].collect().toMap
      val got = Shard.scalableNtileByGroup(df, k, col("lang"),
          col("metric"), col("id"), "t", descending = desc,
          buckets = buckets, windowFormMax = 0)
        .select("id", "t").as[(Long, Int)].collect().toMap
      assert(got === want, s"desc=$desc buckets=$buckets k=$k partitions=$p")
    }
  }

  test("scalableNtileByGroup: groups smaller than k (row i → tile i+1 " +
    "within the group), and result is partition-layout-free") {
    import org.apache.spark.sql.expressions.Window
    // group "big" has 200 rows, group "tiny" has 2 rows < k=7
    val df = ((1L to 200L).map(i => (i, "big", (i * 13) % 11)) ++
      Seq((201L, "tiny", 5L), (202L, "tiny", 1L))).toDF("id", "g", "m")
    val want = df.withColumn("t",
        ntile(7).over(Window.partitionBy("g")
          .orderBy(col("m").asc, col("id").asc)))
      .select("id", "t").as[(Long, Int)].collect().toMap
    val got = Shard.scalableNtileByGroup(df, 7, col("g"), col("m"),
        col("id"), "t", windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    assert(got === want)
    val re = Shard.scalableNtileByGroup(groupedFixture.repartition(13),
        5, col("lang"), col("metric"), col("id"), "t", descending = true,
        windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    val base = Shard.scalableNtileByGroup(groupedFixture, 5, col("lang"),
        col("metric"), col("id"), "t", descending = true,
        windowFormMax = 0)
      .select("id", "t").as[(Long, Int)].collect().toMap
    assert(re === base)
  }

  test("scalableNtileByGroup: plan has no single-partition exchange " +
    "and the rank window is keyed by (group, bucket), not the hot " +
    "group alone; null group / null leading / NaN leading fail loudly; " +
    "group-cardinality guard") {
    val plan = Shard.scalableNtileByGroup(groupedFixture, 3, col("lang"),
        col("metric"), col("id"), "t", windowFormMax = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
    // the row_number window's partition spec must include the bucket
    // column — a window keyed by the group alone is the hot-key trap
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
      .filter(_.contains("__nt_g"))
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("__nt_b")),
      s"rank window not keyed by (group, bucket):\n$plan")
    val nullG = groupedFixture.withColumn("lang",
      when(col("id") === 3L, lit(null)).otherwise(col("lang")))
    val e1 = intercept[Exception] {
      Shard.scalableNtileByGroup(nullG, 3, col("lang"), col("metric"),
        col("id"), "t", windowFormMax = 0).collect()
    }
    assert(e1.getMessage.contains("null group value"))
    val nullM = groupedFixture.withColumn("metric",
      when(col("id") === 3L, lit(null)).otherwise(col("metric")))
    val e2 = intercept[Exception] {
      Shard.scalableNtileByGroup(nullM, 3, col("lang"), col("metric"),
        col("id"), "t", windowFormMax = 0).collect()
    }
    assert(e2.getMessage.contains("null leading value"))
    val nanM = groupedFixture.withColumn("metric",
      when(col("id") === 3L, lit(Double.NaN))
        .otherwise(col("metric").cast("double")))
    val e3 = intercept[Exception] {
      Shard.scalableNtileByGroup(nanM, 3, col("lang"), col("metric"),
        col("id"), "t", windowFormMax = 0).collect()
    }
    assert(e3.getMessage.contains("NaN leading value"))
    val e4 = intercept[IllegalArgumentException] {
      Shard.scalableNtileByGroup(groupedFixture, 3, col("id"),
        col("metric"), col("id"), "t", maxGroups = 10,
        windowFormMax = 0)
    }
    assert(e4.getMessage.contains("exceeds maxGroups"))
  }

  test("tileFromRank property: for random (n, k) the tile sizes and " +
    "boundaries match the SQL NTILE definition exactly") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    // reference NTILE: first n mod k tiles take ⌈n/k⌉ rows
    def refTile(n: Long, k: Int, r: Long): Long = {
      val tq = n / k; val tr = n % k
      if (tq == 0L) r + 1
      else if (r < tr * (tq + 1)) r / (tq + 1) + 1
      else (r - tr * (tq + 1)) / tq + tr + 1
    }
    val gen = Gen.zip(Gen.chooseNum(1L, 5000L), Gen.chooseNum(1, 97))
    val prop = Prop.forAll(gen) { case (n, k) =>
      val got = spark.range(n)
        .select(Shard.tileFromRank(lit(n), k, col("id")).as("t"))
        .groupBy("t").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = (0L until n).groupBy(refTile(n, k, _))
        .view.mapValues(_.size.toLong).toMap
      got == want &&
        // SQL NTILE invariants, independent of the reference impl:
        got.keySet == (1L to math.min(n, k)).toSet &&
        (got.values.max - got.values.min) <= 1 &&
        got.values.sum == n
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  // -- scalableNtileMulti: several cuts over one materialized frame ----------

  test("scalableNtileMulti is bit-identical to nested scalableNtile " +
    "cuts, and its count passes never re-execute another cut's window") {
    val df = (1L to 237L)
      .map(i => (i, (i * 7919) % 19, (i * 31) % 7, i % 13))
      .toDF("id", "r", "f", "m")
    def cut(d: org.apache.spark.sql.DataFrame, sp: Shard.NtileSpec) =
      Shard.scalableNtileMulti(d, Seq(sp), windowFormMax = 0)
    val nested = cut(cut(cut(df,
        Shard.NtileSpec(5, col("r"), col("id"), "rq", descending = true)),
        Shard.NtileSpec(5, col("f"), col("id"), "fq", descending = true)),
      Shard.NtileSpec(4, col("m"), col("id"), "mq"))
      .select("id", "rq", "fq", "mq")
      .as[(Long, Int, Int, Int)].collect()
      .map { case (i, a, b, c) => i -> ((a, b, c)) }.toMap
    val multi = Shard.scalableNtileMulti(df, Seq(
        Shard.NtileSpec(5, col("r"), col("id"), "rq", descending = true),
        Shard.NtileSpec(5, col("f"), col("id"), "fq", descending = true),
        Shard.NtileSpec(4, col("m"), col("id"), "mq")),
      windowFormMax = 0)
      .select("id", "rq", "fq", "mq")
      .as[(Long, Int, Int, Int)].collect()
      .map { case (i, a, b, c) => i -> ((a, b, c)) }.toMap
    assert(multi === nested)
    val e = intercept[IllegalArgumentException] {
      Shard.scalableNtileMulti(df, Seq(
        Shard.NtileSpec(5, col("r"), col("id"), "q"),
        Shard.NtileSpec(5, col("f"), col("id"), "q")))
    }
    assert(e.getMessage.contains("duplicate output column names"))
  }

  // -- adaptive small-frame dispatch (windowFormMax) -------------------------

  test("scalableNtile family: adaptive dispatch routes sub-threshold " +
    "frames to the plain window form, bit-identical to the bucketed " +
    "path, with the null/NaN guards still firing") {
    import org.apache.spark.sql.expressions.Window
    val df = ntileFixture
    // the DEFAULT threshold routes this toy frame to the window form:
    // no bucket machinery in the plan, an ntile window instead
    val small = Shard.scalableNtileMulti(df,
      Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")))
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(!smallPlan.contains("__nt_b"), smallPlan.take(2000))
    assert(smallPlan.toLowerCase.contains("ntile"), smallPlan.take(2000))
    // ... and windowFormMax = 0 forces the bucketed machinery
    val forced = Shard.scalableNtileMulti(df,
      Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")),
      windowFormMax = 0)
    assert(forced.queryExecution.executedPlan.toString.contains("__nt_b"))
    // both paths bit-identical, for all three forms
    def m(d: org.apache.spark.sql.DataFrame, cols: String*) =
      d.select("id", cols: _*).collect()
        .map(r => r.getLong(0) -> cols.indices.map(i => r.getInt(i + 1)))
        .toMap
    assert(m(small, "t") === m(forced, "t"))
    val g = groupedFixture
    assert(m(Shard.scalableNtileByGroup(g, 3, col("lang"), col("metric"),
        col("id"), "t"), "t") ===
      m(Shard.scalableNtileByGroup(g, 3, col("lang"), col("metric"),
        col("id"), "t", windowFormMax = 0), "t"))
    val rfm = (1L to 237L)
      .map(i => (i, (i * 7919) % 19, (i * 31) % 7, i % 13))
      .toDF("id", "r", "f", "m")
    val specs = Seq(
      Shard.NtileSpec(5, col("r"), col("id"), "rq", descending = true),
      Shard.NtileSpec(5, col("f"), col("id"), "fq", descending = true),
      Shard.NtileSpec(4, col("m"), col("id"), "mq"))
    for (p <- Seq(1, 7)) withShufflePartitions(p) {
      assert(m(Shard.scalableNtileMulti(rfm, specs), "rq", "fq", "mq") ===
        m(Shard.scalableNtileMulti(rfm, specs, windowFormMax = 0),
          "rq", "fq", "mq"), s"partitions=$p")
    }
    // guards are NOT lost on the window path: the window sorts by the
    // original column, so the guarded cast image must be forced
    val withNull = df.withColumn("metric",
      when(col("id") === 3L, lit(null)).otherwise(col("metric")))
    val e1 = intercept[Exception] {
      Shard.scalableNtileMulti(withNull,
          Seq(Shard.NtileSpec(5, col("metric"), col("id"), "t")))
        .collect()
    }
    assert(e1.getMessage.contains("null leading value"))
    val nullG = groupedFixture.withColumn("lang",
      when(col("id") === 3L, lit(null)).otherwise(col("lang")))
    val e2 = intercept[Exception] {
      Shard.scalableNtileByGroup(nullG, 3, col("lang"), col("metric"),
        col("id"), "t").collect()
    }
    assert(e2.getMessage.contains("null group value"))
    val nanR = rfm.withColumn("f",
      when(col("id") === 3L, lit(Double.NaN))
        .otherwise(col("f").cast("double")))
    val e3 = intercept[Exception] {
      Shard.scalableNtileMulti(nanR, specs).collect()
    }
    assert(e3.getMessage.contains("NaN leading value"))
  }
}
