package graft

import org.apache.spark.sql.functions._
import graft.operators.Classify

/** Batch perceptron: the trainable quality-scoring mechanism (see
  * Classify.scala). Specs pin convergence on separable data, mean-mode
  * prediction parity, and the degenerate edges. */
class ClassifySpec extends SparkTestBase {
  import spark.implicits._

  // separable by the sign of the first coordinate, with a wide margin
  private def separable = (1 to 40).map { i =>
    val sign = if (i % 2 == 0) 1f else -1f
    (i.toLong, Array(sign * (1f + (i % 5)), (i % 3) * 0.1f), i % 2 == 0)
  }.toDF("vec_id", "embedding", "is_pos")

  test("perceptron separates a linearly separable set and both gradient " +
    "modes predict identically") {
    val w = Classify.perceptronTrain(separable, "vec_id", "embedding",
      positive = col("is_pos"), epochs = 10)
    val scored = Classify.perceptronScore(separable, "vec_id", "embedding", w)
      .join(separable.select("vec_id", "is_pos"), Seq("vec_id"))
    assert(scored.where(col("predicted") =!= col("is_pos")).count() === 0,
      "perceptron failed to separate a separable set in 10 epochs")
    val wd = Classify.perceptronTrain(separable, "vec_id", "embedding",
      positive = col("is_pos"), epochs = 10, deterministic = true)
    val pd = Classify.perceptronScore(separable, "vec_id", "embedding", wd)
      .select("vec_id", "predicted").as[(Long, Boolean)].collect().toMap
    val p = scored.select("vec_id", "predicted")
      .as[(Long, Boolean)].collect().toMap
    assert(pd === p)
  }

  test("perceptron edges: epochs=0 predicts all-negative (zero weights); " +
    "null embeddings excluded; converged model stops updating") {
    val w0 = Classify.perceptronTrain(separable, "vec_id", "embedding",
      positive = col("is_pos"), epochs = 0)
    assert(w0.forall(_ === 0.0))
    val withNull = separable.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]], true))
        .toDF("vec_id", "embedding", "is_pos"))
    val scored = Classify.perceptronScore(withNull, "vec_id", "embedding", w0)
    assert(scored.count() === 40) // null row dropped
    assert(scored.where(col("predicted")).count() === 0) // margin 0 -> false
    // once separated, further epochs are no-ops (no misclassified rows)
    val w10 = Classify.perceptronTrain(separable, "vec_id", "embedding",
      positive = col("is_pos"), epochs = 10, deterministic = true)
    val w11 = Classify.perceptronTrain(separable, "vec_id", "embedding",
      positive = col("is_pos"), epochs = 11, deterministic = true)
    assert(w10.toSeq === w11.toSeq)
  }

  test("perceptronScore at dim 200 equals the HOF dot margin exactly") {
    // above the dim where scoring once switched from an unrolled dot to
    // the HOF fold; the kernel runs at every dim and must not move a bit
    val rnd = new scala.util.Random(7)
    val emb = (1 to 30).map(i =>
      (i.toLong, Array.fill(200)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val w = Array.fill(201)(rnd.nextDouble() * 2.0 - 1.0)
    val scored = Classify.perceptronScore(emb, "vec_id", "embedding", w)
      .select("vec_id", "margin").as[(Long, Double)].collect().toMap
    val hof = emb.select(col("vec_id"),
        graft.operators.Similarity.dot(
          concat(col("embedding"), array(lit(1f))), typedlit(w)))
      .as[(Long, Double)].collect().toMap
    assert(scored.size === 30)
    assert(scored === hof)
  }

  test("text perceptron separates a vocabulary-disjoint corpus and " +
    "predicts its training labels") {
    val docs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, "good solid prose with substance", true)
      else (i.toLong, "spam junk noise filler garbage", false)
    }.toDF("doc_id", "text", "is_pos")
    val w = Classify.textPerceptronTrain(docs, "doc_id", "text",
      positive = col("is_pos"), epochs = 3)
    val scored = Classify.textPerceptronScore(docs, "doc_id", "text", w)
      .join(docs.select("doc_id", "is_pos"), Seq("doc_id"))
    assert(scored.where(col("predicted") =!= col("is_pos")).count() === 0)
    // all-integer margins: longs, no float column anywhere
    assert(scored.schema("margin").dataType ===
      org.apache.spark.sql.types.LongType)
    // partitioning-invariant (integer partial aggs cannot drift)
    val w2 = Classify.textPerceptronTrain(docs.repartition(7), "doc_id",
      "text", positive = col("is_pos"), epochs = 3)
    assert(w.orderBy("bucket").collect().toSeq ===
      w2.orderBy("bucket").collect().toSeq)
  }

  test("text perceptron: bias carries gram-less documents; epochs=0 " +
    "scores zero margins") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", true),
      (2L, "", false),           // no grams: bias feature only
      (3L, "zz", false)          // single token: no bigram, bias only
    ).toDF("doc_id", "text", "is_pos")
    val w = Classify.textPerceptronTrain(docs, "doc_id", "text",
      positive = col("is_pos"), epochs = 2)
    val m = Classify.textPerceptronScore(docs, "doc_id", "text", w)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    // every doc scores (the bias reaches all three), margins defined
    assert(m.keySet === Set(1L, 2L, 3L))
    // gram-less docs carry exactly the bias weight as margin
    val bias = w.where(col("bucket") === -1)
      .select("w").as[Long].collect().head
    assert(m(2L) === bias && m(3L) === bias)
    // zero epochs: empty weight table, margin 0, predicted false
    val w0 = Classify.textPerceptronTrain(docs, "doc_id", "text",
      positive = col("is_pos"), epochs = 0)
    assert(w0.count() === 0)
    val s0 = Classify.textPerceptronScore(docs, "doc_id", "text", w0)
      .as[(Long, Long, Boolean)].collect()
    assert(s0.forall(r => r._2 === 0L && !r._3))
  }

  test("evaluateBinary: rank-sum AUC with average-rank ties matches the " +
    "hand computation; confusion + single-division ratios exact") {
    // groups asc: -0.3 (1 pos, 1 neg), 0.1 (0, 2), 0.5 (2, 0), 0.9 (1, 1)
    // avg ranks 1.5 / 3.5 / 5.5 / 7.5 -> R_pos = 20, AUC = (20-10)/16
    val scored = Seq(
      (0.9, true), (0.9, false), (0.5, true), (0.5, true),
      (0.1, false), (0.1, false), (-0.3, true), (-0.3, false)
    ).toDF("s", "lab")
    val r = Classify.evaluateBinary(scored, col("lab"), col("s"))
      .collect()(0)
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)    // n_pos, n_neg
    assert(r.getDouble(2) === 0.625)                       // auc
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((3L, 3L, 1L, 1L)))                                  // tp fp tn fn
    assert(r.getDouble(7) === 0.5)                         // precision
    assert(r.getDouble(8) === 0.75)                        // recall
    assert(r.getDouble(9) === 0.6)                         // f1 = 6/10
    // perfect separation -> AUC exactly 1; total inversion -> exactly 0
    val perfect = Seq((2.0, true), (1.5, true), (0.5, false), (-1.0, false))
      .toDF("s", "lab")
    assert(Classify.evaluateBinary(perfect, col("lab"), col("s"))
      .collect()(0).getDouble(2) === 1.0)
    assert(Classify.evaluateBinary(perfect, !col("lab"), col("s"))
      .collect()(0).getDouble(2) === 0.0)
    // degenerate single-class frame: AUC and precision NULL, not fake
    val onlyPos = Seq((1.0, true), (-1.0, true)).toDF("s", "lab")
    val d = Classify.evaluateBinary(onlyPos, col("lab"), col("s"))
      .collect()(0)
    assert(d.isNullAt(2) && d.getLong(1) === 0L)
    assert(d.getDouble(8) === 0.5)   // recall = 1/2: one pos above 0
  }

  test("calibrationBins: complete spine, exact per-bin positive " +
    "fractions, empty bins explicit with NULL frac") {
    val scored = (0 to 7).map(i => (i.toDouble,
      Seq(true, true, false, true, false, false, false, true)(i)))
      .toDF("s", "lab")
    val bins = Classify.calibrationBins(scored, col("lab"), col("s"), 4)
      .orderBy("bucket")
      .select("bucket", "n", "n_pos").as[(Long, Long, Long)].collect()
    assert(bins === Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 2L, 0L),
      (3L, 2L, 1L)))
    // sparse frame: interior bins exist as zero rows with NULL frac
    val sparse = Seq((0.0, true), (7.0, false)).toDF("s", "lab")
    val sb = Classify.calibrationBins(sparse, col("lab"), col("s"), 4)
      .orderBy("bucket").collect()
    assert(sb.length === 4)
    assert(sb(1).getLong(3) === 0L && sb(1).isNullAt(5))
    assert(sb(0).getLong(3) === 1L && sb(0).getDouble(5) === 1.0)
    assert(sb(3).getLong(3) === 1L && sb(3).getDouble(5) === 0.0)
  }

  test("boostedStumps: hand-computed 3-round trajectory, integer " +
    "floor-div leaves (incl. negative sums), SSE shrinks per round, " +
    "guards fire") {
    val df = Seq((0L, 2L), (0L, 2L), (1L, 6L), (1L, 6L))
      .toDF("f", "y")
    val m = Classify.boostedStumpsTrain(df, col("y"),
      Seq(("f", col("f"))), rounds = 3, lrDen = 2, scale = 10L)
    // r0 = (20,20,60,60); split thr=0 every round; leaves are
    // floorDiv(S, 2n): (10,30) -> (5,15) -> (2,7)
    assert(m.map(s => (s.round, s.feature, s.thr, s.leafLeft,
      s.leafRight)) === Seq((1, "f", 0L, 10L, 30L),
      (2, "f", 0L, 5L, 15L), (3, "f", 0L, 2L, 7L)))
    assert(m.head.gain === (40.0 * 40.0) / 2.0 + (120.0 * 120.0) / 2.0)
    val scored = Classify.boostedStumpsScore(
        df.withColumn("id", monotonically_increasing_id()), m,
        scale = 10L)
      .select("f", "y", "score_scaled", "pred").distinct()
      .orderBy("f").collect()
    assert(scored.map(r => (r.getLong(0), r.getLong(2),
      r.getDouble(3))).toSeq === Seq((0L, 17L, 1.7), (1L, 52L, 5.2)))
    // a null feature yields a NULL score, never a right-leaf route
    val nulled = Classify.boostedStumpsScore(
      Seq((Option(0L), 1L), (Option.empty[Long], 2L)).toDF("f", "id"),
      m, scale = 10L).orderBy("id").collect()
    assert(nulled(0).getLong(2) === 17L)
    assert(nulled(1).isNullAt(2) && nulled(1).isNullAt(3))
    // negative residual sums floor toward -inf like Math.floorDiv
    val neg = Classify.boostedStumpsTrain(
      Seq((0L, -3L), (1L, 5L)).toDF("f", "y"), col("y"),
      Seq(("f", col("f"))), rounds = 1, lrDen = 2, scale = 10L)
    assert(neg.head.leafLeft === -15L && neg.head.leafRight === 25L)
    // training SSE is monotone over rounds (squared-loss boosting)
    val sses = (1 to 3).map { t =>
      val mt = Classify.boostedStumpsTrain(df, col("y"),
        Seq(("f", col("f"))), rounds = t, lrDen = 2, scale = 10L)
      Classify.boostedStumpsScore(df, mt, scale = 10L)
        .select(sum(pow(col("y").cast("double") - col("pred"), 2)))
        .head().getDouble(0)
    }
    assert(sses(1) < sses(0) && sses(2) < sses(1), sses)
    // FRACTIONAL labels scale BEFORE integerizing: quality scores in
    // (0,1) must not truncate to an all-zero residual domain (the
    // pre-fix cast('long')-then-multiply zeroed them silently)
    val frac = Seq((0L, 0.3), (0L, 0.3), (1L, 0.7), (1L, 0.7))
      .toDF("f", "y")
    val fm = Classify.boostedStumpsTrain(frac, col("y"),
      Seq(("f", col("f"))), rounds = 1, lrDen = 2, scale = 10L)
    // r0 = (3,3,7,7) in scaled units: leaves floorDiv(6,4)=1,
    // floorDiv(14,4)=3 — a non-degenerate model, not all zeros
    assert(fm.map(s => (s.leafLeft, s.leafRight)) === Seq((1L, 3L)))
    // single-bin feature cannot split
    assertThrows[IllegalArgumentException] {
      Classify.boostedStumpsTrain(Seq((1L, 2L)).toDF("f", "y"),
        col("y"), Seq(("f", col("f"))), rounds = 1)
    }
    // high-cardinality feature refused loudly
    val wide = (1L to 300L).map(i => (i, i)).toDF("f", "y")
    val e = intercept[IllegalArgumentException] {
      Classify.boostedStumpsTrain(wide, col("y"),
        Seq(("f", col("f"))), rounds = 1, maxBins = 256)
    }
    assert(e.getMessage.contains("maxBins"))
    // Long.MinValue label: abs() on longs WRAPS negative, which would
    // sneak the one value the overflow guard exists for straight past
    // it — the decimal-domain guard must refuse it loudly instead
    val minval = Seq((0L, Long.MinValue), (1L, 1L)).toDF("f", "y")
    val e2 = intercept[IllegalArgumentException] {
      Classify.boostedStumpsTrain(minval, col("y"),
        Seq(("f", col("f"))), rounds = 1, scale = 10L)
    }
    assert(e2.getMessage.contains("overflows"))
  }

  test("persistBoostModel/readBoostModel: exact round trip, torn " +
    "artifacts refused, served scores equal in-session scores") {
    val df = Seq((0L, 2L), (0L, 2L), (1L, 6L), (1L, 6L)).toDF("f", "y")
    val m = Classify.boostedStumpsTrain(df, col("y"),
      Seq(("f", col("f"))), rounds = 3, lrDen = 2, scale = 10L)
    val path = java.nio.file.Files
      .createTempDirectory("graft_boost_spec").toString + "/model"
    Classify.persistBoostModel(spark, m, path, scale = 10L)
    val (loaded, scale) = Classify.readBoostModel(spark, path)
    assert(loaded === m && scale === 10L)
    val a = Classify.boostedStumpsScore(df, m, 10L)
      .select("score_scaled", "pred").collect().toSeq
    val b = Classify.boostedStumpsScore(df, loaded, scale)
      .select("score_scaled", "pred").collect().toSeq
    assert(a === b)
    // re-persist is crash-safe the marker-first way: deleting the
    // marker models the torn window — the reader must refuse
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/meta/_GRAFT_COMMITTED"), false)
    val e = intercept[IllegalArgumentException] {
      Classify.readBoostModel(spark, path)
    }
    assert(e.getMessage.contains("commit marker"))
    // meta/model round-count drift is a torn model
    Classify.persistBoostModel(spark, m, path, scale = 10L)
    spark.read.parquet(s"$path/model").where(col("round") < 3)
      .write.mode("overwrite").parquet(s"$path/model2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/model"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/model2"),
      new org.apache.hadoop.fs.Path(s"$path/model"))
    val e2 = intercept[IllegalArgumentException] {
      Classify.readBoostModel(spark, path)
    }
    assert(e2.getMessage.contains("torn"))
  }

  test("targetEncode: exact shrunk means, null labels excluded, null " +
    "category is a level") {
    val df = Seq((Option("a"), Option(2.0)), (Option("a"), Option(4.0)),
      (Option("b"), Option(10.0)), (Option("b"), Option.empty[Double]),
      (Option.empty[String], Option(16.0)))
      .toDF("cat", "y")
    val out = Classify.targetEncode(df, col("cat"), col("y"),
        smoothing = 2.0)
      .orderBy(col("cat").asc_nulls_first).collect()
    assert(out.length === 3)
    val prior = 32.0 / 4.0   // (2+4+10+16)/4 — the null label dropped
    assert(out.forall(_.getDouble(4) === prior))   // prior on every row
    assert(out(0).isNullAt(0) &&
      out(0).getDouble(3) === (16.0 + 2.0 * prior) / (1.0 + 2.0))
    assert(out(1).getString(0) === "a" && out(1).getLong(1) === 2L &&
      out(1).getDouble(3) === (6.0 + 2.0 * prior) / (2.0 + 2.0))
    assert(out(2).getString(0) === "b" &&
      out(2).getDouble(3) === (10.0 + 2.0 * prior) / (1.0 + 2.0))
    assertThrows[IllegalArgumentException] {
      Classify.targetEncode(df, col("cat"), col("y"), smoothing = -1.0)
    }
  }
}
