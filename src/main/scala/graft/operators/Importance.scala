package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{sequentialSumByKey, spreadBy}

/** DSIR-shaped data selection via importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much more likely its
  * hashed n-gram features are under a TARGET distribution (the
  * high-quality slice you want more of) than under the RAW corpus
  * distribution, then draw a without-replacement sample weighted by
  * those importance ratios (Gumbel top-k). The reference has no
  * selection operator; this extends the engine's training-data family
  * next to dedup/quality-gating.
  *
  * Feature space: whitespace n-grams over the `TextAnalysis.normText`
  * token stream, hashed into `buckets` cells with the engine's
  * deterministic md5-hex-prefix draw (the `Shard.trainingOrder` trick,
  * so every engine reproduces the same bucketing bit-for-bit). Both
  * distributions come from ONE pass over the corpus: the per-bucket
  * aggregate carries (raw count, target count) side by side, so the
  * target slice is never re-scanned.
  *
  * Scale posture: the only corpus-sized shuffles are the
  * (doc, bucket) partial+final count (high-cardinality key) and the
  * per-doc fold (keyed on doc_id). The bucket→LLR table is ≤ `buckets`
  * rows — broadcast back, never shuffled on. Driver state is zero;
  * totals ride a one-row broadcast cross join.
  *
  * Determinism: bucketing/counts are integer-exact on any engine. The
  * log-likelihood ratios ride on libm `ln`, which is engine-exact only
  * to the ulp — fine WITHIN an engine (selection is a deterministic
  * function of the corpus + seed) and stable across engines except for
  * documents whose scores differ by < 1 ulp at the exact quota
  * boundary; cross-engine oracles should therefore hash the integer
  * feature frame and the selected MEMBERSHIP, not the double scores
  * (`q_importance_features` / `q_importance_resample` do exactly
  * that).
  *
  * Documents with fewer than `n` tokens have no features, hence no
  * estimable ratio — they are excluded from weights and resampling
  * (gate them separately; a length floor is already part of any
  * quality gate worth running).
  */
object Importance {

  // the ONE md5-hex-prefix draw, shared with the sharder (see the
  // Shard.hexPrefix4 scaladoc for the uniformity argument)
  private def hexPrefix4(h: Column): Column = Shard.hexPrefix4(h)

  private def hexPrefix8(h: Column): Column = Shard.hexPrefix8(h)

  /** (doc_id, bucket, cnt): hashed n-gram bucket counts per document —
    * the integer-exact feature frame behind the weights (public so the
    * feature hashing itself is oracle-checkable). */
  def hashedNgramCounts(docs: DataFrame, id: Column, text: Column,
                        n: Int = 2, buckets: Int = 4096): DataFrame =
    gramCounts(docs, id, text, lit(false), n, buckets)
      .select("doc_id", "bucket", "cnt")

  /** The shared count pass, carrying the target flag through the
    * explode so `importanceWeights` never joins back on doc_id.
    *
    * Grams are assembled RELATIONALLY (posexplode the token stream,
    * lead() windows over (doc, pos) — the `Dedup.shinglePostings`
    * shape): a lambda-transform over an inline split() gets re-inlined
    * by CollapseProject into every element reference, re-running the
    * normalize regex per gram element — measured 2-4x wall on the
    * sf0.1 battery / 50k probe before this rewrite, growing with doc
    * length. The generator evaluates its
    * split input exactly once per document, and everything downstream
    * is skinny posting rows through high-cardinality exchanges. */
  private def gramCounts(docs: DataFrame, id: Column, text: Column,
                         targetPred: Column, n: Int,
                         buckets: Int): DataFrame = {
    require(n >= 1 && n <= 8, s"hashedNgramCounts: n=$n out of [1,8]")
    require(buckets >= 2 && buckets <= 65536,
      s"hashedNgramCounts: buckets=$buckets out of [2,65536] — four md5 " +
        "hex digits drive the bucket draw; widen hexPrefix4 to raise it")
    val posted = spreadBy(docs.select(id.as("doc_id"),
        targetPred.as("__tgt"), text.as("__text")), col("doc_id"))
      .select(col("doc_id"), col("__tgt"),
        posexplode(split(graft.functions.TextAnalysis
          .normText(col("__text")), " ")).as(Seq("pos", "w")))
      // an EMPTY normalized text must contribute ZERO tokens — split("")
      // yields [""], and at n=1 that minted a phantom md5("") gram for
      // every empty/punctuation-only document. A "" token can ONLY come
      // from empty text (normText never emits interior empties), so this
      // filter is exactly the zero-token rule
      .where(col("w") =!= "")
    val ordered = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val unordered = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
    posted
      .select(col("doc_id"), col("__tgt"), col("pos"),
        concat_ws(" ", col("w") +:
          (1 until n).map(j => lead(col("w"), j).over(ordered)): _*)
          .as("gram"),
        count(lit(1)).over(unordered).as("n_words"))
      .where(col("n_words") >= n && col("pos") <= col("n_words") - n)
      .select(col("doc_id"), col("__tgt"),
        (hexPrefix4(md5(col("gram"))) % buckets).as("bucket"))
      .groupBy("doc_id", "__tgt", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** (doc_id, n_grams, logw): per-document importance log-weight
    *   logw(d) = Σ_b c_db · [ln p̂_tgt(b) − ln p̂_raw(b)]
    * under add-1-smoothed hashed-n-gram unigram models fit to the
    * target slice (`targetPred` rows) and the whole input.
    *
    * One explode pass: the per-bucket model counts ride a sum WINDOW
    * keyed on the bucket over the (doc, bucket) count frame (the
    * `tfidfTopK` df trick — an aggregate+join-back would re-run the
    * explode+count lineage a second time), and the two global totals
    * come from a separate NON-exploded scan (Σ max(dl−n+1, 0), exactly
    * the corpus gram count, integer-identical to summing the heavy
    * frame) broadcast as one row. Three exchanges total: (doc, bucket)
    * count, bucket window, doc fold. */
  def importanceWeights(docs: DataFrame, id: Column, text: Column,
                        targetPred: Column, n: Int = 2,
                        buckets: Int = 4096): DataFrame = {
    val counts = gramCounts(docs, id, text, targetPred, n, buckets)
    val totals = gramTotals(docs, id, text, targetPred, n)
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    counts
      // one select, one Window node: chained withColumns interpose a
      // Project that defeats CollapseWindow, leaving two same-spec
      // Window passes in the plan
      .select(col("doc_id"), col("bucket"), col("cnt"),
        sum(col("cnt")).over(wB).as("raw_n"),
        sum(when(col("__tgt"), col("cnt")).otherwise(0L)).over(wB)
          .as("tgt_n"))
      .crossJoin(broadcast(totals))
      .withColumn("llr", llrCol(buckets))
      .select(col("doc_id"), col("cnt"), col("bucket"),
        (col("cnt") * col("llr")).as("x"))
      // bucket-ordered fold through sequentialSumByKey (identical
      // struct-sort-fold, identical struct field order/comparator) for
      // its pinned keyed spread — the inline fold's state sat on
      // whatever AQE left of the upstream exchange (r13, guide §2.5/§5)
      .transform(cells => sequentialSumByKey(cells,
        Seq("doc_id"), "bucket", "x",
        extraAggs = Seq(sum(col("cnt")).as("n_grams"))))
      .select(col("doc_id"), col("n_grams"), col("__sum").as("logw"))
  }

  /** ln p̂_tgt − ln p̂_raw over (tgt_n, raw_n, tgt_t, raw_t) columns —
    * ONE definition shared by the in-query window path and the
    * persisted-model table so the two can never drift. */
  private def llrCol(buckets: Int): Column =
    log((col("tgt_n") + lit(1L)).cast("double") /
        (col("tgt_t") + lit(buckets.toLong)).cast("double")) -
      log((col("raw_n") + lit(1L)).cast("double") /
        (col("raw_t") + lit(buckets.toLong)).cast("double"))

  /** Gumbel top-`quota` importance resample: draw `quota` documents
    * without replacement with P(d) ∝ exp(logw(d) / temperature), using
    * the md5-derived uniform u(d) = (hex8(md5(seed:id)) + 1) / (2³²+1)
    * so the "randomness" is an engine-reproducible function of
    * (seed, doc_id) — same seed replays the same sample anywhere, a new
    * seed is an independent draw. temperature → 0 approaches greedy
    * top-logw; large temperature approaches a uniform sample. Output:
    * (doc_id, n_grams, logw, skey), one row per selected document. */
  def importanceResample(docs: DataFrame, id: Column, text: Column,
                         targetPred: Column, quota: Int,
                         n: Int = 2, buckets: Int = 4096,
                         temperature: Double = 1.0,
                         seed: String = "dsir"): DataFrame = {
    require(quota > 0, s"importanceResample: quota=$quota")
    require(temperature > 0.0,
      s"importanceResample: temperature=$temperature")
    importanceWeights(docs, id, text, targetPred, n, buckets)
      .withColumn("__u",
        (hexPrefix8(md5(concat(lit(s"$seed:"),
          col("doc_id").cast("string")))) + lit(1L)) / lit(4294967297.0))
      .withColumn("skey",
        col("logw") / lit(temperature) - log(-log(col("__u"))))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(quota)
      .select("doc_id", "n_grams", "logw", "skey")
  }

  // ---- persisted LLR model + continuous gate -------------------------------

  /** The explicit (bucket, llr) model table — the aggregate form of
    * the distributions `importanceWeights` computes inline (identical
    * `llrCol` arithmetic), for freezing to parquet. ≤ `buckets` rows. */
  def llrModel(docs: DataFrame, id: Column, text: Column,
               targetPred: Column, n: Int = 2,
               buckets: Int = 4096): DataFrame = {
    val counts = gramCounts(docs, id, text, targetPred, n, buckets)
    val perBucket = counts.groupBy("bucket")
      .agg(sum(col("cnt")).as("raw_n"),
        sum(when(col("__tgt"), col("cnt")).otherwise(0L)).as("tgt_n"))
    // totals from the cheap NON-exploded scan (integer-identical to
    // summing perBucket — see importanceWeights), so the heavy count
    // lineage runs once, not once per aggregate
    perBucket.crossJoin(broadcast(
        gramTotals(docs, id, text, targetPred, n)))
      .withColumn("llr", llrCol(buckets))
      .select(col("bucket"), col("llr"), col("raw_t"), col("tgt_t"))
  }

  /** (raw_t, tgt_t) as one row, from a scan that never explodes:
    * Σ max(dl − n + 1, 0) IS the corpus gram count. */
  private def gramTotals(docs: DataFrame, id: Column, text: Column,
                         targetPred: Column, n: Int): DataFrame = {
    val t = graft.functions.TextAnalysis.normText(text)
    val dl = when(length(t) === 0, lit(0))
      .otherwise(size(split(t, " "))) // empty text = ZERO tokens
    val perDoc = when(dl >= n, (dl - lit(n - 1)).cast("long"))
      .otherwise(0L)
    docs.agg(sum(perDoc).as("raw_t"),
      sum(when(targetPred, perDoc).otherwise(0L)).as("tgt_t"))
  }

  /** Freeze the LLR model: `$path/llr` (bucket, llr) then `$path/meta`
    * (n, buckets, raw_t, tgt_t), committed by
    * [[graft.exec.Artifact.persist]] — meta presence is what the gate
    * checks; the totals let the gate price UNSEEN buckets with the same
    * add-1 mass: llr_unseen = ln(1/(tgt_t+B)) − ln(1/(raw_t+B)). */
  def persistLlrModel(docs: DataFrame, id: Column, text: Column,
                      targetPred: Column, path: String, n: Int = 2,
                      buckets: Int = 4096): Unit = {
    // retract-then-overwrite, NOT mode("error"): a crash between the
    // llr and meta writes would otherwise wedge every rerun on the
    // surviving llr/ directory — replays must self-heal. Meta rides the
    // light totals pass — re-selecting from the llr frame would re-run
    // the heavy count lineage a second time.
    Artifact.persist(docs.sparkSession, path,
        gramTotals(docs, id, text, targetPred, n)
          .select(lit(n).as("n"), lit(buckets).as("buckets"),
            col("raw_t"), col("tgt_t"))) {
      llrModel(docs, id, text, targetPred, n, buckets)
        .select("bucket", "llr").write.mode("overwrite")
        .parquet(s"$path/llr")
    }
  }

  /** Continuous importance gate: score one microbatch against the
    * PERSISTED LLR table (≤ `buckets` rows — always broadcastable, so
    * the model side never shuffles) and admit rows with
    * logw ≥ `minLogw`, appended under this epoch's `ingest_batch`
    * partition with dynamic overwrite (at-least-once replay ×
    * idempotent rewrite = exactly-once admitted state). Featureless
    * documents (< n tokens) have no estimable weight and are not
    * admitted. Reading `$path/meta` first doubles as the commit
    * check. */
  def importanceGateBatch(modelPath: String, outPath: String,
                          minLogw: Double, idCol: String = "doc_id",
                          textCol: String = "text")
                         (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val meta = Artifact.readMeta(spark, modelPath)
    val (n, buckets) = (meta.getAs[Int]("n"), meta.getAs[Int]("buckets"))
    val (rawT, tgtT) =
      (meta.getAs[Long]("raw_t"), meta.getAs[Long]("tgt_t"))
    val unseenLlr = math.log(1.0 / (tgtT + buckets).toDouble) -
      math.log(1.0 / (rawT + buckets).toDouble)
    val llr = spark.read.parquet(s"$modelPath/llr")
    val keep = gramCounts(batch, col(idCol), col(textCol), lit(false),
        n, buckets)
      .join(broadcast(llr), Seq("bucket"), "left")
      .select(col("doc_id"), col("bucket"),
        (col("cnt") * coalesce(col("llr"), lit(unseenLlr))).as("x"))
      // same fold, same order — routed for the pinned spread (r13)
      .transform(cells => sequentialSumByKey(cells,
        Seq("doc_id"), "bucket", "x"))
      .select(col("doc_id"), col("__sum").as("logw"))
      .where(col("logw") >= minLogw)
      .select(col("doc_id").as(idCol))
    Artifact.writeEpoch(batch.join(keep, Seq(idCol)), batchId, outPath)
  }
}
