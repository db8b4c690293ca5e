package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{advance, materialize, scoped, sequentialSumByKey,
  spread}

/** Trainable linear quality classifier over an embedding column — the
  * mechanism behind fasttext-style document-quality scoring in
  * large-scale training-data pipelines (score every document, keep the
  * top fraction), reduced to its Spark-native core: a batch
  * (epoch-synchronous) PERCEPTRON.
  *
  * Why a perceptron and not logistic regression: the update rule is
  * comparisons, multiplies and adds only — no `exp`, whose libm
  * implementations differ across engines — so training is bit-for-bit
  * reproducible against the DuckDB oracle the same way the k-means
  * trainer is. The Spark division of labor is also identical to
  * `Similarity.kMeans`: the per-epoch margin test is one projection
  * pass over the full corpus, the gradient is one partial-aggregating
  * groupBy of the misclassified rows' posexploded cells, and only the
  * (dim+1)-vector of weights ever reaches the driver.
  *
  * The bias is folded in as feature augmentation: every vector gets a
  * constant trailing 1.0f, so weights have dim+1 entries and the margin
  * is a single sequential-fold dot product.
  */
object Classify {

  /** Train `epochs` batch-perceptron updates:
    * w ← w + lr · Σ_misclassified y·x (y ∈ {+1,-1} from `positive`;
    * misclassified = y·(w·x) ≤ 0, so the zero-initialized first epoch
    * sums every row). With `deterministic = true` the gradient sums are
    * id-ordered sequential folds (bit-reproducible across engines and
    * partitionings — the oracle/repro mode, which buffers each
    * dimension's misclassified cells in memory); the default keeps the
    * scale-correct partial-agg `sum`. Null or null-element
    * embeddings are excluded (see `Similarity.wellFormed`).
    * Returns the (dim+1) weights, bias last. */
  def perceptronTrain(df: DataFrame, idCol: String, embCol: String,
                      positive: Column, epochs: Int, lr: Double = 1.0,
                      deterministic: Boolean = false): Array[Double] = scoped {
    require(epochs >= 0, s"perceptronTrain: epochs=$epochs")
    val dim = Similarity.probeDim(
      df.where(Similarity.wellFormed(col(embCol))), embCol) + 1
    // the augmented array is bound behind the spread exchange BEFORE the
    // margin filter references it, so the (dim+1)-array is built once per
    // row, not once per epoch. Rows whose dimension differs from the
    // probed one are excluded like degenerate vectors — the dot kernel
    // would otherwise silently truncate them where the HOF form nulls
    // them.
    // materialized ONCE: every epoch is its own action (the updated
    // weights are a driver-side literal in the next epoch's margin), so
    // a lazy frame would re-run the scan + well-formed filter + augment
    // + spread exchange `epochs` times (r12: 8 recomputations measured
    // as ~2-3 s of the classify-tier queries at sf0.1); the epoch loop
    // reads the checkpointed training slice instead
    val base = materialize(
      spread(df.where(Similarity.wellFormed(col(embCol), dim - 1))
      .select(col(idCol).as("id"),
        concat(col(embCol), array(lit(1.0f))).as("a"),
        when(positive, 1.0d).otherwise(-1.0d).as("y"))))
    var w = new Array[Double](dim)
    val spark = df.sparkSession
    import spark.implicits._
    for (_ <- 0 until epochs) {
      // weights ride a broadcast ONE-ROW frame, not a typed literal: the
      // literal form re-generated (and re-compiled) the epoch stage's
      // whole-stage code every epoch because the constants are baked into
      // the source; as data, the plan and generated code are
      // epoch-invariant and the codegen cache hits. The dot kernel takes
      // the ARRAY<DOUBLE> weights as its right side and runs the HOF
      // fold's ascending left-associated IEEE sum (spec-pinned), so
      // margins are bit-identical.
      val wDf = broadcast(Seq(Tuple1(w.toSeq)).toDF("__w"))
      val margin = col("y") *
        graft.functions.VectorExpressions.dotF32(col("a"), col("__w"))
      val cells = base.crossJoin(wDf).where(margin <= 0)
        .select(col("id"), col("y"), posexplode(col("a")).as(Seq("i", "x")))
        .select(col("id"), col("i"),
          (col("y") * col("x").cast("double")).as("v"))
      val agg =
        if (deterministic)
          sequentialSumByKey(cells, Seq("i"), "id", "v")
            .select(col("i"), col("__sum").as("g"))
        else cells.groupBy("i").agg(sum(col("v")).as("g"))
      val g = agg.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = w.zipWithIndex.map { case (wi, i) => wi + lr * g.getOrElse(i, 0.0) }
    }
    w
  }

  /** Score every row with trained weights: margin = w · (x ++ 1.0), the
    * codegen'd dot kernel against the weights as an `ARRAY<DOUBLE>`
    * literal at every dim. One projection pass — the shape that scores
    * 100 TB. Returns (id-named-as-input, margin, predicted = margin > 0). */
  def perceptronScore(df: DataFrame, idCol: String, embCol: String,
                      weights: Array[Double]): DataFrame =
    // same dimension contract as training: rows that don't match the
    // trained weights' dimension are excluded, not silently truncated
    df.where(Similarity.wellFormed(col(embCol), weights.length - 1))
      .select(col(idCol),
        graft.functions.VectorExpressions.dotF32(
          concat(col(embCol), array(lit(1.0f))), typedlit(weights))
          .as("margin"))
      .withColumn("predicted", col("margin") > 0)

  // ---- sparse text perceptron (hashed n-gram features) ----------------

  /** Feature frame for the TEXT classifier: `Importance
    * .hashedNgramCounts` (md5-bucketed n-grams, integer counts) plus a
    * bias feature — bucket −1 (outside the hash range [0, buckets)),
    * count 1 on every document, so gram-less documents still score. */
  private def textFeatures(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, buckets: Int): DataFrame =
    Importance.hashedNgramCounts(docs, col(idCol), col(textCol), n, buckets)
      .unionByName(docs.select(col(idCol).as("doc_id"),
        lit(-1).as("bucket"), lit(1L).as("cnt")))

  /** margin(d) = Σ_b cnt_db · w_b under the current weight table: one
    * BROADCAST join (weights ≤ buckets+1 rows by construction) and one
    * doc-keyed partial-agg sum — the scoring pass that runs at corpus
    * scale, shared by training epochs and `textPerceptronScore`. */
  private def textMargins(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))

  private def emptyWeights(spark: org.apache.spark.sql.SparkSession)
      : DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType))))

  /** The fasttext-shaped TEXT classifier: a batch perceptron over
    * hashed-n-gram bucket features — what a quality pipeline trains
    * when embeddings are too expensive to compute for the whole corpus
    * (the embedding-side sibling is `perceptronTrain`).
    *
    * ALL-INTEGER training: counts, labels (±1) and weights are longs
    * and the learning rate is fixed at 1 (scale-free — prediction is
    * sign(margin)), so there is no float aggregation anywhere and the
    * unrolled-epoch DuckDB oracle hash-matches exactly.
    *
    * Scale shape per epoch: margins = broadcast-weight join +
    * doc-keyed sum; misclassified = one join on the skinny label
    * frame; gradient = bucket-keyed sum over misclassified rows;
    * update = a ≤(buckets+1)-row full-outer join. The feature frame is
    * materialized ONCE (the n-gram explode never re-runs); weight
    * tables are materialized per epoch and the superseded epoch's
    * storage released. Driver state: nothing — weights live as a
    * (bucket, w) table, so `buckets` can exceed driver memory; they are
    * broadcast per epoch, which bounds `buckets` at broadcast size
    * (~10⁸ cells), far above the 65536 the hex-prefix draw supports.
    *
    * Returns the trained weight table (bucket, w) — the persistable
    * model artifact. Zero-weight buckets may appear (a bucket pushed
    * to net zero stays as an explicit row); margins are unaffected. */
  def textPerceptronTrain(docs: DataFrame, idCol: String, textCol: String,
                          positive: Column, epochs: Int,
                          n: Int = 2, buckets: Int = 4096): DataFrame = scoped {
    require(epochs >= 0, s"textPerceptronTrain: epochs=$epochs")
    val feats = materialize(
      textFeatures(docs, idCol, textCol, n, buckets))
    val labels = materialize(docs.select(col(idCol).as("doc_id"),
      when(positive, 1L).otherwise(-1L).as("y")))
    var weights = emptyWeights(docs.sparkSession)
    var e = 0
    while (e < epochs) {
      val mis = labels.join(textMargins(feats, weights), Seq("doc_id"))
        .where(col("y") * col("margin") <= 0)
        .select("doc_id", "y")
      val grad = feats.join(mis, Seq("doc_id"))
        .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("g"))
      weights = advance(weights,
        weights.join(grad, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            (coalesce(col("w"), lit(0L)) + coalesce(col("g"), lit(0L)))
              .as("w")))
      e += 1
    }
    weights
  }

  /** Score with a trained (bucket, w) table: one feature pass + the
    * broadcast margin join. Returns (id-named-as-input, margin,
    * predicted = margin > 0). `n`/`buckets` must match training — the
    * model is meaningless under a different feature hash. */
  def textPerceptronScore(docs: DataFrame, idCol: String, textCol: String,
                          weights: DataFrame,
                          n: Int = 2, buckets: Int = 4096): DataFrame =
    textMargins(textFeatures(docs, idCol, textCol, n, buckets), weights)
      .select(col("doc_id").as(idCol), col("margin"),
        (col("margin") > 0).as("predicted"))

  // ---- evaluation harness ----------------------------------------------

  /** Binary-classifier evaluation in one frame: exact AUC (Mann-Whitney
    * rank-sum with the standard average-rank tie treatment) plus the
    * threshold confusion matrix and precision/recall/F1 — the readout a
    * quality-gate deployment tunes its cut with, next to
    * `EntityResolution`'s linkage harness.
    *
    * Every quantity is integer until exactly ONE IEEE division, so the
    * row sits under the hash oracle: AUC's numerator is
    * Σ_g (2·p_g·(negatives strictly below g) + p_g·n_g) over
    * score-GROUPS g (ties contribute the ½ of the rank-sum convention
    * as the un-halved p·n term against the doubled denominator
    * 2·P·N); F1 uses the single-division form 2·tp/(2·tp+fp+fn), not
    * the precision/recall composition, whose extra roundings engines
    * could order differently.
    *
    * Scale: one partial+final aggregate to score groups; the frame the
    * running-negatives prefix runs over is the DISTINCT-score frame,
    * so its size is the score cardinality, not the corpus — but
    * continuous margins can push that cardinality toward corpus size,
    * so the prefix is [[Shard.twoPhaseRunningSum]] (bucketed two-phase,
    * never one window partition), exact because the negatives counts
    * are integers. A binned approximate readout also exists in
    * [[calibrationBins]], which is window-free outright. Degenerate
    * frames (no positives or no negatives) yield NULL auc rather than
    * a fake 0.5.
    *
    * Returns one row: (n_pos, n_neg, auc, tp, fp, tn, fn, precision,
    * recall, f1). `predicted` = score > threshold, matching
    * `perceptronScore`. */
  def evaluateBinary(scored: DataFrame, label: Column, score: Column,
                     threshold: Double = 0.0): DataFrame = scoped {
    // the group frame materializes FIRST: the two-phase prefix reads it
    // three times (quantile splits, bucket totals, cumulative pass) and
    // each read must hit the distinct-score-sized checkpoint, not
    // re-run the scoring plan behind it.
    // Grouping key = the DOUBLE image of the score: twoPhaseRunningSum's
    // exactness contract requires the cast image be unique per group, so
    // scores indistinguishable as doubles (long margins past 2^53) must
    // be ONE group — which is also the right AUC tie semantics.
    // Null LABELS are excluded like null scores: an unlabeled row is not
    // a negative.
    val grp = materialize(scored
      .where(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("s"),
        when(label, 1L).otherwise(0L).as("ip"))
      .groupBy("s")
      .agg(sum(col("ip")).as("p"), (count(lit(1)) - sum(col("ip"))).as("n")))
    // bucketed two-phase prefix (s is the group key — unique, non-null
    // after the filter above), bit-identical to a global window because
    // the negative counts are integers
    val cum = Shard.twoPhaseRunningSum(grp, col("s"), col("n"), "cn")
    val out = cum.agg(
        sum(col("p")).as("np"),
        sum(col("n")).as("nn"),
        sum(lit(2L) * col("p") * (col("cn") - col("n")) +
          col("p") * col("n")).as("num"),
        sum(when(col("s") > threshold, col("p")).otherwise(0L)).as("tp"),
        sum(when(col("s") > threshold, col("n")).otherwise(0L)).as("fp"),
        sum(when(col("s") <= threshold, col("n")).otherwise(0L)).as("tn"),
        sum(when(col("s") <= threshold, col("p")).otherwise(0L)).as("fn"))
      .select(
        col("np").as("n_pos"), col("nn").as("n_neg"),
        (col("num").cast("double") /
          nullif((lit(2L) * col("np") * col("nn")).cast("double"),
            lit(0.0))).as("auc"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp").cast("double") /
          nullif((col("tp") + col("fp")).cast("double"), lit(0.0)))
          .as("precision"),
        (col("tp").cast("double") /
          nullif((col("tp") + col("fn")).cast("double"), lit(0.0)))
          .as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          nullif((lit(2L) * col("tp") + col("fp") + col("fn"))
            .cast("double"), lit(0.0))).as("f1"))
    // the one output row is computed EAGERLY so the distinct-score
    // checkpoint is released on return (the operator already runs eager
    // jobs — splits/totals passes — so laziness was never real); a lazy
    // result would pin one corpus-scale checkpoint per call
    val row = out.head()
    scored.sparkSession.createDataFrame(
      java.util.Collections.singletonList(row), out.schema)
  }

  /** Calibration readout: `nBins` equal-width score bins with a
    * complete spine (empty bins as explicit zero rows), each carrying
    * its exact positive fraction — whether the margin ordering is
    * honest about probability, and the window-free evaluation shape
    * for score columns too distinct for [[evaluateBinary]]'s exact
    * rank frame. Bucket arithmetic is the `Warehouse.histogram`
    * discipline: one subtraction + one IEEE division against span
    * constants + an exact integer clamp, bit-stable across engines;
    * span constants come from one 1-row aggregate. frac_pos is
    * integer/integer in one division; empty bins carry NULL, not a
    * fake 0. */
  def calibrationBins(scored: DataFrame, label: Column, score: Column,
                      nBins: Int): DataFrame = {
    require(nBins > 0, s"calibrationBins: nBins=$nBins")
    val spark = scored.sparkSession
    import spark.implicits._
    val v = scored
      .select(score.cast("double").as("s"),
        when(label, 1L).otherwise(0L).as("ip"))
      .where(col("s").isNotNull)
    val span = v.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val width = (col("hi") - col("lo")) / nBins
    val bucketed = v.crossJoin(broadcast(span))
      .select(least(greatest(
          floor((col("s") - col("lo")) / width), lit(0.0)),
        lit(nBins - 1.0)).cast("long").as("bucket"), col("ip"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("ip")).as("n_pos"))
    val spine = (0L until nBins.toLong).toDF("bucket")
    spine.join(broadcast(bucketed), Seq("bucket"), "left")
      .crossJoin(broadcast(span))
      .select(col("bucket"),
        (col("lo") + col("bucket") * width).as("bucket_lo"),
        (col("lo") + (col("bucket") + 1) * width).as("bucket_hi"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        (col("n_pos").cast("double") /
          nullif(col("n").cast("double"), lit(0.0))).as("frac_pos"))
  }

  /** One trained stump of [[boostedStumpsTrain]]: at `round`, split on
    * `feature` at bin ≤ `thr`, adding the SCALED integer leaf values
    * to the running score. `gain` is the split's selection score
    * (informational — selection itself is pinned by the deterministic
    * ordering, not by reading this double back). */
  case class Stump(round: Int, feature: String, thr: Long,
                   leafLeft: Long, leafRight: Long, gain: Double)

  /** Gradient-boosted depth-1 trees (stumps) for squared loss — the
    * workhorse tabular model (Friedman 2001), INTEGER-EXACT end to
    * end so the whole training trajectory is oracle-able:
    *
    *  - labels scale to `y·scale` (exact longs); every residual stays
    *    an exact long because each leaf value is the floor-divided
    *    integer `⌊S_L / (lrDen·n_L)⌋` (learning rate 1/lrDen) — no
    *    float ever enters per-row state, so the per-bin residual SUMS
    *    are order-independent exact decimals and the operator needs
    *    NO fold discipline at any scale (contrast the perceptron's
    *    ordered-gradient repro mode);
    *  - per round, ONE groupBy per feature over its (bounded,
    *    caller-binned) bins — count + Σr — collected to the driver as
    *    ≤ nBins rows per feature (the kmeans bounded-collect pattern);
    *    prefix sums, split gains `S_L²/n_L + S_R²/n_R` (doubles from
    *    correctly-rounded casts of exact decimals — identical in both
    *    engines) and the argmax (gain desc, feature order, thr asc)
    *    run on the driver exactly as the oracle's window states;
    *  - the residual update is a literal CASE per row (new column,
    *    integer subtract), frame materialized per round, superseded
    *    rounds released.
    *
    * Features must be integer bin columns (bin upstream: `% k`,
    * width-bucketing, or quantile ids); at most `maxBins` distinct
    * bins per feature are allowed — more fails loudly (a high-
    * cardinality split column is a leak, not a feature). Rows with a
    * NULL label or ANY null feature are excluded from training (the
    * stump cannot route them); impute or sentinel-bin upstream if
    * missingness is signal.
    *
    * Returns the trained model (one [[Stump]] per round). Driver holds
    * rounds × features × bins longs — model-sized, never data-sized.
    */
  def boostedStumpsTrain(df: DataFrame, label: Column,
                         features: Seq[(String, Column)], rounds: Int,
                         lrDen: Int = 2, scale: Long = 1000000000L,
                         maxBins: Int = 256): Seq[Stump] = scoped {
    require(features.nonEmpty, "boostedStumpsTrain: need features")
    require(rounds >= 1 && rounds <= 20,
      s"boostedStumpsTrain: rounds=$rounds")
    require(lrDen >= 1 && scale >= 1,
      s"boostedStumpsTrain: lrDen=$lrDen scale=$scale")
    val fcols = features.map(_._1)
    // loud domain check BEFORE scaling: label·scale must fit a long or
    // the residual arithmetic wraps silently under non-ANSI (one tiny
    // 1-row aggregate job — the trainer already runs rounds of jobs).
    // abs rides DECIMAL(38,0): abs(Long.MinValue) WRAPS negative on
    // longs under non-ANSI eval, which would slip the one label this
    // guard exists to reject straight past it
    val maxAbsRow =
      df.select(max(abs(label.cast("decimal(38,0)")))).head()
    val maxAbs = if (maxAbsRow.isNullAt(0)) BigDecimal(0)
      else BigDecimal(maxAbsRow.getDecimal(0))
    require(maxAbs <= BigDecimal(Long.MaxValue / scale),
      s"boostedStumpsTrain: max |label| = $maxAbs overflows the " +
        s"integer residual domain at scale=$scale — lower scale")
    // scale BEFORE integerizing: cast("long")-then-multiply would
    // truncate fractional labels to whole numbers first, zeroing any
    // label in (-1, 1) and defeating the scale that exists to carry
    // sub-integer precision. The product rides DECIMAL (exact past
    // 2^53, where a double multiply would round) and lands on the
    // integer domain HALF_UP — the same rounding the overflow guard
    // above uses. Labels are carried at 6-decimal precision (the
    // repo-wide dec6 money/measure convention).
    var cur = materialize(df
      .select(features.map { case (n, c) => c.cast("long").as(n) } :+
        (label.cast("decimal(38,6)") * lit(scale))
          .cast("decimal(38,0)").cast("long").as("__r"): _*)
      .where(col("__r").isNotNull &&
        fcols.map(col(_).isNotNull).reduce(_ && _)))
    val model = scala.collection.mutable.ArrayBuffer.empty[Stump]
    for (t <- 1 to rounds) {
      // ALL features' bin stats in ONE data pass (r12): the former
      // per-feature groupBy+collect re-aggregated the full residual
      // frame once per feature per round (features × rounds scans);
      // melting (feature, bin, __r) through one generator costs one
      // explode with map-side partial aggregation and collects the
      // same bounded ≤ features × maxBins rows. Driver-side candidate
      // evaluation then walks features in declaration order and bins
      // ascending — the exact order (and tiebreak) of the former loop.
      val statRows = cur.select(explode(array(fcols.map(fn =>
          struct(lit(fn).as("f"), col(fn).as("bin"),
            col("__r").as("r"))): _*)).as("m"))
        .groupBy(col("m.f").as("f"), col("m.bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("m.r").cast("decimal(38,0)")).as("s"))
        .collect()
      val byFeature = statRows.groupBy(_.getString(0))
      var best: Option[Stump] = None
      for (fn <- fcols) {
        val unsorted = byFeature.getOrElse(fn, Array.empty[Row])
        // the training frame filters null feature cells, so a null
        // bin here means that filter regressed — fail loudly rather
        // than NPE inside sortBy (r12 ADVICE)
        unsorted.foreach(r => require(!r.isNullAt(1),
          s"boostedStumpsTrain: feature $fn produced a null bin — " +
            "bin it upstream"))
        val rows = unsorted.sortBy(_.getLong(1))
        require(rows.length <= maxBins,
          s"boostedStumpsTrain: feature $fn has ${rows.length} " +
            s"bins > maxBins=$maxBins — bin it upstream")
        val nTot = rows.map(_.getLong(2)).sum
        val sTot = rows.map(r => BigInt(r.getDecimal(3).toBigInteger))
          .sum
        var nL = 0L; var sL = BigInt(0)
        // candidate thresholds: every bin except the last (a split
        // keeping everything left is no split)
        for (k <- 0 until rows.length - 1) {
          nL += rows(k).getLong(2)
          sL += BigInt(rows(k).getDecimal(3).toBigInteger)
          val nR = nTot - nL; val sR = sTot - sL
          if (nL > 0 && nR > 0) {
            // the oracle's exact expression tree: casts of exact
            // decimals, then (sl*sl)/nl + (sr*sr)/nr
            val slD = sL.toDouble; val srD = sR.toDouble
            val gain = (slD * slD) / nL.toDouble +
              (srD * srD) / nR.toDouble
            // strict > ≡ the oracle's (gain DESC, feature order,
            // thr ASC) row_number: first maximum wins
            if (best.forall(b => gain > b.gain)) {
              val d = BigInt(lrDen) * nL
              val lf = ((sL - sL.mod(d)) / d).toLong
              val dr = BigInt(lrDen) * nR
              val rf = ((sR - sR.mod(dr)) / dr).toLong
              best = Some(Stump(t, fn, rows(k).getLong(1), lf, rf,
                gain))
            }
          }
        }
      }
      val b = best.getOrElse(throw new IllegalArgumentException(
        s"boostedStumpsTrain: round $t found no valid split — every " +
          "feature is single-bin"))
      model += b
      cur = advance(cur, cur.withColumn("__r",
        col("__r") - when(col(b.feature) <= b.thr, lit(b.leafLeft))
          .otherwise(lit(b.leafRight))))
    }
    model.toSeq
  }

  /** Smoothed target (mean) encoding — the standard categorical→
    * numeric feature prep (Micci-Barreca 2001): each category maps to
    * the shrunk mean  enc = (Σy + m·prior) / (n + m), prior = the
    * global mean, so rare categories pull toward the corpus and the
    * encoder cannot memorize singletons. ONE partial+final aggregate
    * over the category key plus a 1-row global aggregate; sufficient
    * statistics are exact decimals (the linearTrend discipline), the
    * floats a fixed tree of correctly-rounded casts and one division
    * each, so the artifact hash-matches cross-engine with no fold
    * discipline. NULL categories encode like any value (a real level);
    * NULL labels are excluded. Returns the ENCODER artifact
    * (category-named-as-input, n, sum_y, enc, prior) — the prior rides
    * on every row so the apply side (broadcast join; categories are
    * dimension-sized by construction) can coalesce UNSEEN categories
    * to it without recomputing a not-bit-identical global mean from
    * the rounded per-category doubles. */
  def targetEncode(df: DataFrame, category: Column, label: Column,
                   smoothing: Double): DataFrame = {
    require(smoothing >= 0.0, s"targetEncode: smoothing=$smoothing")
    // decimal(38,6), not (18,6): a label past ~1e12 would overflow the
    // narrow cast — loudly under ANSI, but SILENTLY TO NULL elsewhere,
    // excluding the row from the encoder statistics as if unlabeled
    // (boostedStumpsTrain guards the analogous bound with a require)
    val base = df.select(category.as("__c"),
        label.cast("decimal(38,6)").as("__y"))
      .where(col("__y").isNotNull)
    val cname = df.select(category).columns.head
    // ONE scan, fully LAZY: the global sums re-aggregate from the
    // per-category DECIMAL partials (sum-of-sums is the same exact
    // decimal — plan audit showed the naive separate global aggregate
    // re-reading the table) via an unpartitioned window OVER THE
    // AGGREGATED frame, which is dimension-sized by construction —
    // the one case a global window is the right tool (a materialize
    // would pin checkpoint storage for the session and make the
    // operator eager)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    val percat = base.groupBy("__c")
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sum_y"))
      .withColumn("gs", sum(col("sum_y")).over(w))
      .withColumn("gn", sum(col("n")).over(w))
    val prior = col("gs").cast("double") / col("gn").cast("double")
    val m = lit(smoothing)
    percat
      .select(col("__c").as(cname), col("n"),
        col("sum_y").cast("double").as("sum_y"),
        ((col("sum_y").cast("double") + m * prior) /
          (col("n").cast("double") + m)).as("enc"),
        prior.as("prior"))
  }

  /** Persist a trained stump model as the family's marker-committed
    * serving artifact — `model/` (one row per stump) and `meta/`
    * (rounds, scale), committed by [[graft.exec.Artifact.persist]]: a
    * crash mid-rewrite leaves the artifact unreadable, never
    * mixed-generation. The model is integer literals end to end, so
    * the parquet round trip is trivially exact. */
  def persistBoostModel(spark: org.apache.spark.sql.SparkSession,
                        model: Seq[Stump], path: String,
                        scale: Long): Unit = {
    require(model.nonEmpty, "persistBoostModel: empty model")
    import spark.implicits._
    Artifact.persist(spark, path,
        Seq((model.length, scale)).toDF("rounds", "scale")) {
      model.map(s => (s.round, s.feature, s.thr, s.leafLeft, s.leafRight,
          s.gain))
        .toDF("round", "feature", "thr", "leaf_left", "leaf_right",
          "gain")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
    }
  }

  /** Load a [[persistBoostModel]] artifact (refusing uncommitted or
    * torn ones loudly). Returns the stumps in round order plus the
    * training scale the scorer must reuse. */
  def readBoostModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): (Seq[Stump], Long) = {
    Artifact.requireCommitted(spark, path, "boost model")
    val meta = Artifact.readMeta(spark, path)
    val (rounds, scale) = (meta.getInt(0), meta.getLong(1))
    val model = spark.read.parquet(s"$path/model").orderBy("round")
      .collect().map(r => Stump(r.getInt(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq
    require(model.length == rounds,
      s"boost model at $path: meta says $rounds rounds but model/ has " +
        s"${model.length} — torn model")
    (model, scale)
  }

  /** Apply a [[boostedStumpsTrain]] model: the summed CASE chain as
    * ONE fused integer projection per row (exact scaled score) plus
    * the single double division back to label units. Append-only
    * columns; every input row kept — a row with ANY null feature gets
    * a NULL score/pred (training excluded such rows, so serving
    * refuses to invent a prediction for them). */
  def boostedStumpsScore(df: DataFrame, model: Seq[Stump],
                         scale: Long = 1000000000L): DataFrame = {
    require(model.nonEmpty, "boostedStumpsScore: empty model")
    // a NULL feature must yield a NULL score, not a silent
    // right-leaf route (when(null <= thr) is null -> otherwise fires):
    // training excludes null-feature rows, so serving must not invent
    // a prediction for them — rows stay, score/pred are NULL
    val ok = model.map(_.feature).distinct
      .map(col(_).isNotNull).reduce(_ && _)
    val chain = model.map(s =>
      when(col(s.feature) <= s.thr, lit(s.leafLeft))
        .otherwise(lit(s.leafRight)): Column).reduceLeft(_ + _)
    df.withColumn("score_scaled", when(ok, chain))
      .withColumn("pred",
        col("score_scaled").cast("double") / lit(scale.toDouble))
  }
}
