package graft
package battery

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Classify, Shard}
import graft.SparkEntry.{Query, dec2, normTextSql, hexPrefixSql, wellFormedSql}

/** Classifiers: the batch perceptron and its evaluation, calibration and
  * uncertainty harnesses, quality selection, target encoding and boosted
  * stumps. */
private[graft] object ClassifyQueries {

  // boosted stumps: rounds / integer scale / learning-rate denominator
  private val boostRounds = 3
  private val boostScale = 1000000000L
  private val boostLrDen = 2
  // target encoding shrinkage, shared by query and oracle text
  private val targetEncodeSmoothing = "20.0"
  private val calibrationBinCount = 8
  // the eval harness trains LONGER than q_embed_classify's 2-epoch
  // repro pin: at 2 epochs the slice-trained perceptron predicts
  // nothing positive, which makes the confusion row vacuous (tp=fp=0
  // cannot distinguish a correct harness from one that drops matches);
  // 8 epochs puts a count in every confusion cell
  private val classifyEvalEpochs = 8
  private val perceptronEpochs = 2
  private val qualityQuota = 25

  /** Margin of the bias-augmented vector `t.a` under the weights `w.w`. */
  private def marginSql(t: String): String =
    s"""list_sum(list_transform(range(1, len($t.a) + 1),
       |      i -> CAST($t.a[i] AS DOUBLE) * w.w[i]))""".stripMargin

  /** The batch perceptron (lr 1.0) unrolled for `epochs`, without the
    * WITH keyword or a final SELECT: usable rows `e` (bias-augmented
    * `a`, ±1 label `y`), the training rows `tr` (`trainWhere` over
    * `e`), and per epoch r the training margins under w{r-1} (m$r), the
    * id-ordered sequential gradient over misclassified rows (g$r) and
    * w$r — `Classify.perceptronTrain(deterministic = true)` exactly. */
  private def perceptronCteChain(epochs: Int,
                                 trainWhere: String = ""): String = {
    val rounds = (1 to epochs).map { r =>
      s"""m$r AS MATERIALIZED (SELECT tr.vec_id, tr.a, tr.y,
         |    tr.y * ${marginSql("tr")} AS margin
         |  FROM tr, w${r - 1} w),
         |g$r AS MATERIALIZED (SELECT d.i,
         |    list_sum(list(CAST(m.a[d.i] AS DOUBLE) * m.y
         |      ORDER BY m.vec_id)) AS g
         |  FROM dims d, (SELECT * FROM m$r WHERE margin <= 0) m
         |  GROUP BY d.i),
         |w$r AS MATERIALIZED (SELECT list(w.w[d.i] + 1.0 * coalesce(g$r.g, 0.0)
         |    ORDER BY d.i) AS w
         |  FROM dims d CROSS JOIN w${r - 1} w
         |  LEFT JOIN g$r ON g$r.i = d.i)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id,
       |    embedding || [CAST(1.0 AS FLOAT)] AS a,
       |    CASE WHEN label < 5 THEN 1.0 ELSE -1.0 END AS y
       |  FROM embeddings WHERE $wellFormedSql
       |    -- dimension pin mirroring the Spark-side size(...) = dim
       |    -- filter: without it a mixed-dimension corpus would keep
       |    -- short/long rows whose out-of-range list indexing yields
       |    -- NULL products that list_sum silently SKIPS (a truncated
       |    -- dot product) instead of excluding the row
       |    AND len(embedding) = (SELECT len(embedding) FROM embeddings
       |      WHERE $wellFormedSql ORDER BY vec_id LIMIT 1)),
       |tr AS MATERIALIZED (SELECT * FROM e $trainWhere),
       |dims AS MATERIALIZED (SELECT u.i
       |  FROM (SELECT a FROM tr ORDER BY vec_id LIMIT 1) s,
       |    unnest(range(1, len(s.a) + 1)) AS u(i)),
       |w0 AS MATERIALIZED (SELECT list(0.0 ORDER BY i) AS w FROM dims),
       |$rounds""".stripMargin
  }

  /** q_text_classify oracle: the sparse TEXT perceptron's epoch chain
    * unrolled in SQL. All quantities are integers (counts, ±1 labels,
    * lr=1 weights), so the chain hash-matches with no float caveats:
    * per epoch, margins under the previous weight table → misclassified
    * rows (y·m ≤ 0) → per-bucket gradient Σ y·cnt → full-outer weight
    * update. Bucket −1 is the bias feature (cnt 1 on every doc). */
  private[graft] def textPerceptronOracleSql(epochs: Int): String = {
    val head =
      s"""nrm AS (SELECT doc_id, $normTextSql AS t FROM documents
         |        WHERE doc_id < 300),
         |tok AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nrm),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |        i -> ws[i] || ' ' || ws[i+1])) AS gram
         |      FROM tok WHERE len(ws) >= 2),
         |hb AS (SELECT doc_id, md5(gram) AS h FROM g),
         |fh AS (SELECT doc_id,
         |         CAST((${hexPrefixSql("h", 4)}) % 4096 AS INTEGER)
         |           AS bucket,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM hb GROUP BY 1, 2),
         |f AS (SELECT * FROM fh
         |      UNION ALL
         |      SELECT doc_id, -1, 1 FROM nrm),
         |y AS (SELECT doc_id,
         |        CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |      FROM documents WHERE doc_id < 300),
         |w0 AS (SELECT CAST(NULL AS INTEGER) AS bucket,
         |              CAST(NULL AS BIGINT) AS w WHERE FALSE)"""
        .stripMargin
    val chain = (1 to epochs).map { e =>
      s"""m$e AS (SELECT f.doc_id, sum(f.cnt * coalesce(w.w, 0)) AS m
         |  FROM f LEFT JOIN w${e - 1} w ON f.bucket = w.bucket
         |  GROUP BY 1),
         |mis$e AS (SELECT y.doc_id, y.y FROM y
         |  JOIN m$e ON y.doc_id = m$e.doc_id WHERE y.y * m$e.m <= 0),
         |g$e AS (SELECT f.bucket, sum(mis$e.y * f.cnt) AS g
         |  FROM f JOIN mis$e ON f.doc_id = mis$e.doc_id GROUP BY 1),
         |w$e AS (SELECT coalesce(w.bucket, g$e.bucket) AS bucket,
         |  coalesce(w.w, 0) + coalesce(g$e.g, 0) AS w
         |  FROM w${e - 1} w FULL OUTER JOIN g$e ON w.bucket = g$e.bucket)"""
        .stripMargin
    }
    val tail =
      s"""SELECT f.doc_id,
         |  CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin,
         |  sum(f.cnt * coalesce(w.w, 0)) > 0 AS predicted
         |FROM f LEFT JOIN w$epochs w ON f.bucket = w.bucket
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    "WITH " + (Seq(head) ++ chain).mkString(",\n") + "\n" + tail
  }

  /** The held-out scored frame shared by the two evaluation oracles:
    * chain trained on the vec_id % 5 = 0 slice, margins + 0/1 labels
    * for every OTHER usable row (mirrors the q_classify_eval /
    * q_classify_calibration Spark composition). */
  private val heldOutScoredCte =
    s"""${perceptronCteChain(classifyEvalEpochs, "WHERE vec_id % 5 = 0")},
       |sc AS MATERIALIZED (SELECT e.vec_id,
       |    CASE WHEN e.y > 0 THEN 1 ELSE 0 END AS ip,
       |    ${marginSql("e")} AS s
       |  FROM e, w$classifyEvalEpochs w WHERE e.vec_id % 5 <> 0)""".stripMargin

  /** The boosted-stumps oracle chain: per round and per feature, bin
    * stats (exact decimal sums) → ascending-bin prefix sums → split
    * gains in doubles → the (gain DESC, feature order, thr ASC)
    * argmax → floor-div integer leaves (the positive-mod emulation:
    * both engines' % is C-style) → the CASE residual update. Shared by
    * the model and score oracles. */
  private def boostCteChain: String = {
    val feats = Seq(("pk", 1), ("sk", 2))
    val rounds = (1 to boostRounds).map { t =>
      val perFeat = feats.map { case (f, idx) =>
        s"""st${t}_$f AS MATERIALIZED (SELECT $f AS bin,
           |    CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(r AS DECIMAL(38,0))) AS s
           |  FROM b${t - 1} GROUP BY 1),
           |g${t}_$f AS (SELECT '$f' AS feature, $idx AS fidx,
           |    bin AS thr, nl, sl, ntot - nl AS nr, stot - sl AS sr
           |  FROM (SELECT bin,
           |      sum(n) OVER w AS nl, sum(s) OVER w AS sl,
           |      (SELECT sum(n) FROM st${t}_$f) AS ntot,
           |      (SELECT sum(s) FROM st${t}_$f) AS stot
           |    FROM st${t}_$f
           |    WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW))
           |  WHERE bin < (SELECT max(bin) FROM st${t}_$f)
           |    AND nl > 0 AND ntot - nl > 0)""".stripMargin
      }.mkString(",\n")
      val union = feats.map { case (f, _) => s"SELECT * FROM g${t}_$f" }
        .mkString(" UNION ALL ")
      s"""$perFeat,
         |best$t AS MATERIALIZED (SELECT * FROM (
         |    SELECT *, (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))
         |        / CAST(nl AS DOUBLE)
         |      + (CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
         |        / CAST(nr AS DOUBLE) AS gain
         |    FROM ($union)) t
         |  QUALIFY row_number() OVER (
         |    ORDER BY gain DESC, fidx ASC, thr ASC) = 1),
         |leaf$t AS MATERIALIZED (SELECT feature, thr, gain,
         |    CAST((sl - ((sl % ($boostLrDen * nl) + ($boostLrDen * nl))
         |        % ($boostLrDen * nl))) / ($boostLrDen * nl) AS BIGINT)
         |      AS lf,
         |    CAST((sr - ((sr % ($boostLrDen * nr) + ($boostLrDen * nr))
         |        % ($boostLrDen * nr))) / ($boostLrDen * nr) AS BIGINT)
         |      AS rf
         |  FROM best$t),
         |b$t AS MATERIALIZED (SELECT l_orderkey, l_linenumber, pk, sk,
         |    ql, r - (CASE WHEN (SELECT feature FROM leaf$t) = 'pk'
         |      THEN CASE WHEN pk <= (SELECT thr FROM leaf$t)
         |        THEN (SELECT lf FROM leaf$t)
         |        ELSE (SELECT rf FROM leaf$t) END
         |      ELSE CASE WHEN sk <= (SELECT thr FROM leaf$t)
         |        THEN (SELECT lf FROM leaf$t)
         |        ELSE (SELECT rf FROM leaf$t) END END) AS r
         |  FROM b${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""b0 AS MATERIALIZED (SELECT l_orderkey, l_linenumber,
       |    CAST(l_partkey % 32 AS BIGINT) AS pk,
       |    CAST(l_suppkey % 16 AS BIGINT) AS sk,
       |    CAST(l_quantity AS BIGINT) AS ql,
       |    CAST(l_quantity AS BIGINT) * $boostScale AS r
       |  FROM lineitem),
       |$rounds""".stripMargin
  }

  def entries: Seq[Query] = Seq(
    // smoothed target encoding of order priority against price: the
    // categorical→numeric encoder artifact, exact-decimal statistics,
    // m=20 shrinkage toward the global mean
    Query("q_ml_target_encode", (s, dir) =>
      graft.operators.Classify.targetEncode(Tables.orders(s, dir),
          col("o_orderpriority"), dec2(col("o_totalprice")),
          smoothing = targetEncodeSmoothing.toDouble)
        .orderBy("o_orderpriority"),
      // target encoding: exact-decimal stats, one shrinkage expression
      s"""WITH b AS (SELECT o_orderpriority AS c,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,6))
        |      AS y
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |g AS (SELECT sum(y) AS gs, CAST(count(*) AS BIGINT) AS gn
        |  FROM b)
        |SELECT c AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS DOUBLE) AS sum_y,
        |  (CAST(sum(y) AS DOUBLE) + CAST($targetEncodeSmoothing AS DOUBLE) *
        |      ((SELECT CAST(gs AS DOUBLE) FROM g)
        |        / (SELECT CAST(gn AS DOUBLE) FROM g)))
        |    / (CAST(count(*) AS DOUBLE) + CAST($targetEncodeSmoothing AS DOUBLE)) AS enc,
        |  (SELECT CAST(gs AS DOUBLE) FROM g)
        |    / (SELECT CAST(gn AS DOUBLE) FROM g) AS prior
        |FROM b GROUP BY c ORDER BY c""".stripMargin),

    // gradient-boosted stumps, integer-exact: quantity regressed on
    // two binned keys; the model (3 stumps: split + scaled integer
    // leaves + selection gain) IS the output — the entire training
    // trajectory replayed by the unrolled oracle
    Query("q_ml_boost", (s, dir) => {
      import s.implicits._
      graft.operators.Classify.boostedStumpsTrain(
          Tables.lineitem(s, dir), col("l_quantity"),
          Seq(("pk", col("l_partkey") % 32),
            ("sk", col("l_suppkey") % 16)),
          rounds = boostRounds, lrDen = boostLrDen, scale = boostScale)
        .map(st => (st.round, st.feature, st.thr, st.leafLeft,
          st.leafRight, st.gain))
        .toDF("round", "feature", "thr", "leaf_left", "leaf_right",
          "gain")
        .orderBy("round")
    },
      // boosted stumps: the full integer-exact training trajectory
      {
        val sel = (1 to boostRounds).map(t =>
          s"""SELECT $t AS round, feature, thr, lf AS leaf_left,
             |  rf AS leaf_right, gain FROM leaf$t""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH $boostCteChain
           |$sel
           |ORDER BY round""".stripMargin
      }),

    // the apply side: one fused integer CASE chain per row + a single
    // division back to label units, on the %100 order slice
    Query("q_ml_boost_score", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val model = graft.operators.Classify.boostedStumpsTrain(
        li, col("l_quantity"),
        Seq(("pk", col("l_partkey") % 32),
          ("sk", col("l_suppkey") % 16)),
        rounds = boostRounds, lrDen = boostLrDen, scale = boostScale)
      graft.operators.Classify.boostedStumpsScore(
          li.select(col("l_orderkey"), col("l_linenumber"),
            (col("l_partkey") % 32).as("pk"),
            (col("l_suppkey") % 16).as("sk"),
            col("l_quantity").cast("long").as("label")),
          model, scale = boostScale)
        .where(col("l_orderkey") % 100 === 0)
        .select("l_orderkey", "l_linenumber", "label", "score_scaled",
          "pred")
        .orderBy("l_orderkey", "l_linenumber")
    },
      s"""WITH $boostCteChain
         |SELECT l_orderkey, l_linenumber, ql AS label,
         |  ql * $boostScale - r AS score_scaled,
         |  CAST(ql * $boostScale - r AS DOUBLE)
         |    / CAST($boostScale AS DOUBLE) AS pred
         |FROM b$boostRounds
         |WHERE l_orderkey % 100 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // fasttext-shaped sparse TEXT perceptron: hashed-bigram features,
    // all-integer weights (lr=1, labels ±1), trained 2 epochs on a
    // bounded slice and scored over the same slice — margins hash
    // exactly because no float ever enters training; the oracle unrolls
    // the epoch chain (margins → misclassified → gradient → weights) in
    // generated SQL, the q_embed_classify pattern on the text side
    Query("q_text_classify", (s, dir) => {
      val slice = Tables.documents(s, dir).where(col("doc_id") < 300)
      val w = Classify.textPerceptronTrain(slice, "doc_id", "text",
        col("lang") === "en", epochs = perceptronEpochs)
      Classify.textPerceptronScore(slice, "doc_id", "text", w)
        .orderBy("doc_id")
    },
      textPerceptronOracleSql(perceptronEpochs)),

    // trainable quality classifier (fasttext-style scoring, reduced to a
    // batch perceptron — comparisons/mults/adds only, so training is
    // bit-reproducible in SQL): 2 epoch-synchronous updates on the
    // embeddings' label, then one scoring pass. Oracle: epochs unrolled
    // in generated SQL, prediction signs compared.
    Query("q_embed_classify", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(emb, "vec_id", "embedding",
        positive = col("label") < 5, epochs = perceptronEpochs,
        deterministic = true)
      Classify.perceptronScore(emb, "vec_id", "embedding", w)
        .select(col("vec_id"), col("predicted"))
        .orderBy("vec_id")
    },
      // batch-perceptron epochs unrolled, prediction signs compared
      // the chain trained on every usable row, every row re-scored
      s"""WITH ${perceptronCteChain(perceptronEpochs)}
         |SELECT e.vec_id, ${marginSql("e")} > 0 AS predicted
         |FROM e, w$perceptronEpochs w ORDER BY e.vec_id""".stripMargin),

    // classifier evaluation harness: train on the labeled slice
    // (vec_id % 5 == 0), score the HELD-OUT rows, and read back exact
    // AUC (rank-sum, average-rank ties), the threshold-0 confusion
    // matrix and precision/recall/F1 in one row — every value integer
    // until a single IEEE division, so the whole row hash-matches
    Query("q_classify_eval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        positive = col("label") < 5, epochs = classifyEvalEpochs,
        deterministic = true)
      val scored = Classify.perceptronScore(
          emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding", w)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      Classify.evaluateBinary(scored, col("label") < 5, col("margin"))
    },
      // exact rank-sum AUC over score groups plus the threshold-0
      // confusion row — integer numerators, one IEEE division per
      // emitted ratio (mirrors `Classify.evaluateBinary`)
      s"""WITH $heldOutScoredCte,
         |grp AS (SELECT s, CAST(sum(ip) AS BIGINT) AS p,
         |    CAST(count(*) - sum(ip) AS BIGINT) AS n
         |  FROM sc GROUP BY s),
         |cum AS (SELECT s, p, n, CAST(sum(n) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cn
         |  FROM grp),
         |agg AS (SELECT
         |    CAST(sum(p) AS BIGINT) AS np, CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(2 * p * (cn - n) + p * n) AS BIGINT) AS num,
         |    CAST(sum(CASE WHEN s > 0 THEN p ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN s > 0 THEN n ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN s <= 0 THEN n ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN s <= 0 THEN p ELSE 0 END) AS BIGINT) AS fn
         |  FROM cum)
         |SELECT np AS n_pos, nn AS n_neg,
         |  CAST(num AS DOUBLE) / nullif(CAST(2 * np * nn AS DOUBLE), 0.0)
         |    AS auc,
         |  tp, fp, tn, fn,
         |  CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
         |    AS precision,
         |  CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
         |    AS recall,
         |  CAST(2 * tp AS DOUBLE)
         |    / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS f1
         |FROM agg""".stripMargin),

    // calibration readout over the same held-out margins: 8 equal-width
    // bins with a complete spine, each bin's exact positive fraction —
    // the window-free evaluation shape for score columns too distinct
    // for the exact rank frame
    Query("q_classify_calibration", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        positive = col("label") < 5, epochs = classifyEvalEpochs,
        deterministic = true)
      val scored = Classify.perceptronScore(
          emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding", w)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      Classify.calibrationBins(scored, col("label") < 5, col("margin"),
          nBins = calibrationBinCount)
        .orderBy("bucket")
    },
      // the q_profile_histogram span/bucket arithmetic over the
      // held-out margins, with per-bin positive fractions (mirrors
      // `Classify.calibrationBins`)
      {
        val nBins = calibrationBinCount
        s"""WITH $heldOutScoredCte,
           |span AS (SELECT min(s) AS lo, max(s) AS hi FROM sc),
           |b AS (SELECT CAST(least(greatest(
           |      floor((s - lo) / ((hi - lo) / $nBins)), 0), ${nBins - 1})
           |      AS BIGINT) AS bucket, ip
           |  FROM sc CROSS JOIN span),
           |counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(ip) AS BIGINT) AS n_pos
           |  FROM b GROUP BY bucket),
           |spine AS (SELECT unnest(range(0, $nBins)) AS bucket)
           |SELECT sp.bucket,
           |  lo + sp.bucket * ((hi - lo) / $nBins) AS bucket_lo,
           |  lo + (sp.bucket + 1) * ((hi - lo) / $nBins) AS bucket_hi,
           |  coalesce(n, 0) AS n, coalesce(n_pos, 0) AS n_pos,
           |  CAST(n_pos AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0)
           |    AS frac_pos
           |FROM spine sp CROSS JOIN span LEFT JOIN counts USING (bucket)
           |ORDER BY sp.bucket""".stripMargin
      }),

    // uncertainty sampling (the active-learning batch the data flywheel
    // labels next): train on the current labeled slice, score the
    // UNLABELED pool, and pull the `qualityQuota` lowest-|margin| docs
    // per language — most-informative-first labeling, the complement of
    // q_pipeline_quality's top-by-margin KEEP gate. Same WindowGroupLimit
    // partial top-k shape; |margin| is one IEEE abs, hash-stable
    Query("q_classify_uncertain", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        positive = col("label") < 5, epochs = classifyEvalEpochs,
        deterministic = true)
      val scored = Classify.perceptronScore(
        emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding", w)
      val wn = Window.partitionBy(col("lang"))
        .orderBy(abs(col("margin")).asc, col("doc_id").asc)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(scored, col("doc_id") === col("vec_id"))
        .withColumn("rk", row_number().over(wn))
        .where(col("rk") <= qualityQuota)
        .select(col("doc_id"), col("lang"), col("margin"))
        .orderBy("lang", "doc_id")
    },
      // the held-out margins ranked by |margin| ascending per language,
      // quota'd (mirrors the uncertainty-sampling Spark composition)
      s"""WITH $heldOutScoredCte
         |SELECT doc_id, lang, margin FROM (
         |  SELECT d.doc_id, d.lang, s.s AS margin, row_number() OVER (
         |      PARTITION BY d.lang ORDER BY abs(s.s) ASC, d.doc_id ASC)
         |      AS rk
         |  FROM sc s JOIN documents d ON d.doc_id = s.vec_id)
         |WHERE rk <= $qualityQuota
         |ORDER BY lang, doc_id""".stripMargin),

    // the classifier AS A PIPELINE STAGE (margin-calibrated quality
    // gating, the fasttext-style shape a pretrain pipeline actually
    // runs): train the perceptron on the LABELED slice only
    // (vec_id % 5 == 0 — the "human-rated" subset), score the whole
    // corpus in one projection pass, then keep the top-`qualityQuota`
    // documents BY MARGIN per language — the stratified-quota sampler
    // with the hash order replaced by the learned quality order. At
    // scale: train cost tracks the labeled slice, scoring is one
    // codegen'd pass, the gate is one partial top-k window
    // (WindowGroupLimit) per language.
    Query("q_pipeline_quality", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        positive = col("label") < 5, epochs = perceptronEpochs,
        deterministic = true)
      val scored = Classify.perceptronScore(emb, "vec_id", "embedding", w)
      val wn = Window.partitionBy(col("lang"))
        .orderBy(col("margin").desc, col("doc_id").asc)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(scored, col("doc_id") === col("vec_id"))
        .withColumn("rk", row_number().over(wn))
        .where(col("rk") <= qualityQuota)
        .select(col("doc_id"), col("lang"), col("margin"))
        .orderBy("lang", "doc_id")
    },
      // perceptron trained on the labeled slice only, the WHOLE corpus
      // scored, then the stratified top-quota by margin per language —
      // the SQL mirror of train → score → gate
      s"""WITH ${perceptronCteChain(perceptronEpochs, "WHERE vec_id % 5 = 0")}
         |SELECT doc_id, lang, margin FROM (
         |  SELECT d.doc_id, d.lang, s.margin, row_number() OVER (
         |      PARTITION BY d.lang ORDER BY s.margin DESC, d.doc_id ASC)
         |      AS rk
         |  FROM (SELECT e.vec_id, ${marginSql("e")} AS margin
         |    FROM e, w$perceptronEpochs w) s
         |  JOIN documents d ON d.doc_id = s.vec_id)
         |WHERE rk <= $qualityQuota
         |ORDER BY lang, doc_id""".stripMargin),

    // classifier-margin-WEIGHTED selection: the quality pipeline's
    // other ending — instead of a hard top-p cut, every doc's sampling
    // weight is its (micro-unit-quantized, floor-clamped) margin and
    // the systematic PPS grid draws exactly 120 with inclusion
    // proportional to quality. Soft selection keeps tail diversity the
    // quota cut discards; the margin→weight quantization is one IEEE
    // multiply + floor, so the composition stays hash-exact
    Query("q_pipeline_select_weighted", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = Classify.perceptronTrain(
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        positive = col("label") < 5, epochs = perceptronEpochs,
        deterministic = true)
      val weighted = Classify
        .perceptronScore(emb, "vec_id", "embedding", w)
        .select(col("vec_id").as("doc_id"),
          greatest(floor(col("margin") * lit(1000000.0)).cast("long"),
            lit(1L)).as("wq"))
      Shard.systematicPps(weighted, n = 120, weight = col("wq"),
          seed = "sel0")
        .join(Tables.documents(s, dir).select(col("doc_id"),
          col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("w"), col("mult"))
        .orderBy("doc_id")
    },
      // the slice-trained chain scores every usable row, margins
      // quantize to clamped micro-units, and the global Madow grid (seed
      // "sel0") draws 120
      s"""WITH ${perceptronCteChain(perceptronEpochs, "WHERE vec_id % 5 = 0")},
         |sc AS (SELECT e.vec_id, ${marginSql("e")} AS margin
         |  FROM e, w$perceptronEpochs w),
         |wt AS (SELECT s.vec_id AS doc_id,
         |    greatest(CAST(floor(s.margin * CAST(1000000 AS DOUBLE))
         |      AS BIGINT), 1) AS w,
         |    md5('sel0:' || CAST(s.vec_id AS VARCHAR)) AS k
         |  FROM sc s),
         |c AS (SELECT doc_id, w,
         |    sum(w) OVER (ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(w) OVER () AS wtot FROM wt),
         |g AS (SELECT doc_id, w, cum, wtot,
         |    CAST(('0x' || substr(md5('sel0'), 1, 15))::UBIGINT
         |      AS HUGEINT) % wtot + 1 AS strt
         |  FROM c)
         |SELECT g.doc_id, d.source, g.w,
         |  CAST((cum * 120 - strt + wtot) // wtot
         |    - ((cum - w) * 120 - strt + wtot) // wtot AS BIGINT) AS mult
         |FROM g JOIN documents d ON d.doc_id = g.doc_id
         |WHERE (cum * 120 - strt + wtot) // wtot
         |  - ((cum - w) * 120 - strt + wtot) // wtot >= 1
         |ORDER BY g.doc_id""".stripMargin)
  )
}
