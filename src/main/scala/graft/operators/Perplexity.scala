package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{sequentialSumByKeyOrdered, spreadBy}

/** CCNet-style language-model quality filtering (Wenzek et al. 2020):
  * fit a small LM to a clean reference slice, score every raw document
  * by its per-token perplexity under that model, and keep the
  * low-perplexity head of the corpus. CCNet uses a KenLM 5-gram; the
  * honest in-engine equivalent is an add-one-smoothed BIGRAM model —
  * no external artifacts, everything derived from the frames the
  * engine already reads, and every count relational:
  *
  *   P(w₂|w₁) = (c_ref(w₁w₂) + 1) / (c_ref(w₁·) + V)
  *
  * with c_ref(w₁·) the count of reference bigrams STARTING at w₁ (a
  * sum window over the bigram table keyed on w₁ — not a second
  * unigram pass) and V = |distinct second tokens in the reference| + 1
  * (one unseen-mass slot). Unknown contexts fall back to 1/V.
  *
  * Scale posture: the model IS a DataFrame — never collected, never
  * broadcast by assumption (reference vocabulary² can be huge). The
  * score join runs on the (w₁, w₂) key: high cardinality, partial+final
  * counted on both sides before the join, so the shuffled rows are
  * distinct-bigram-sized, not token-stream-sized. Per-doc totals ride
  * the usual doc-keyed fold. Driver state: one row (V).
  *
  * Determinism: counts and membership are integer-exact; log-prob /
  * perplexity ride libm ln/exp — deterministic within an engine, equal
  * across engines to the ulp — so cross-engine oracles hash the MODEL
  * COUNTS (`q_perplexity_model`) and the gated MEMBERSHIP
  * (`q_perplexity_gate`), never the double scores (the Importance
  * policy). Documents with fewer than 2 tokens have no bigrams, hence
  * no perplexity — excluded from scoring and gating, like every other
  * length-floored quality signal.
  */
object Perplexity {

  /** (doc_id, w1, w2, cnt) distinct-bigram counts per document over the
    * `TextAnalysis.normText` token stream — assembled relationally
    * (posexplode + lead window, the `Dedup.shinglePostings` shape) so
    * the normalize/split runs once per document, not once per gram
    * element (the CollapseProject inline-split trap). */
  private def bigramCounts(docs: DataFrame, id: Column,
                           text: Column): DataFrame = {
    val posted = spreadBy(docs.select(id.as("doc_id"),
        text.as("__text")), col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(graft.functions.TextAnalysis
          .normText(col("__text")), " ")).as(Seq("pos", "w1")))
    val ordered = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val unordered = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
    posted
      .select(col("doc_id"), col("pos"), col("w1"),
        lead(col("w1"), 1).over(ordered).as("w2"),
        count(lit(1)).over(unordered).as("n_words"))
      .where(col("pos") <= col("n_words") - 2)
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("cnt"))
  }

  /** The reference bigram model: (w1, w2, c_big, c_ctx) — bigram count
    * and its w₁-context total (sum window, the one-pass trick). */
  def bigramModel(docs: DataFrame, id: Column, text: Column,
                  refPred: Column): DataFrame = {
    val wCtx = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    bigramCounts(docs.where(refPred), id, text)
      .groupBy("w1", "w2").agg(sum(col("cnt")).as("c_big"))
      .select(col("w1"), col("w2"), col("c_big"),
        sum(col("c_big")).over(wCtx).as("c_ctx"))
  }

  /** (doc_id, n_bigrams, logprob, ppl): per-document add-one bigram
    * log-likelihood and per-bigram perplexity exp(−logprob/n) under the
    * model fit to `refPred` rows. Lower ppl = more reference-like. */
  def perplexityScores(docs: DataFrame, id: Column, text: Column,
                       refPred: Column): DataFrame = {
    val model = bigramModel(docs, id, text, refPred)
    // V as a one-row broadcast: |distinct reference w2| + 1 unseen slot
    val v = model.agg((countDistinct(col("w2")) + lit(1L)).as("v"))
    scoresAgainstModel(docs, id, text, model, v)
  }

  /** Score a frame against an EXPLICIT model — the shared kernel of
    * the in-query operator (model fit in the same plan) and the frozen
    * persisted-model gate (`perplexityGateBatch`). Add-one smoothing
    * uses the CONTEXT total whenever the context w1 is in the model:
    * an unseen pair under a seen context scores (0+1)/(c_ctx(w1)+V),
    * and only a fully unseen context falls to 1/V. The context total
    * therefore joins on w1 ALONE — joining it through the (w1, w2)
    * pair join would null c_ctx for every unseen pair, scoring an
    * off-model continuation 1/V, which for any context with
    * c_ctx > V is HIGHER than a seen-once continuation's
    * 2/(c_ctx+V) — inverting exactly the ranking a perplexity gate
    * exists to provide. */
  def scoresAgainstModel(docs: DataFrame, id: Column, text: Column,
                         model: DataFrame, v: DataFrame): DataFrame = {
    val cells = bigramCounts(docs, id, text)
      .join(model.select("w1", "w2", "c_big"),
        Seq("w1", "w2"), "left")
      .join(model.groupBy("w1").agg(max(col("c_ctx")).as("c_ctx")),
        Seq("w1"), "left")
      .crossJoin(broadcast(v.select(col("v"))))
      .select(col("doc_id"), col("cnt"), col("w1"), col("w2"),
        (col("cnt") * log(
          (coalesce(col("c_big"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c_ctx"), lit(0L)) + col("v")).cast("double")))
          .as("x"))
    // the (w1, w2)-ordered fold routes through sequentialSumByKeyOrdered
    // (identical struct-sort-fold — the struct field order and comparator
    // are unchanged) for its pinned keyed spread: inlined, the
    // interpreted fold sat on whatever AQE's byte-blind sizing left of
    // the join's exchange, with every doc's bigram structs buffered in
    // however few tasks that was (r13; guide §2.5/§5)
    sequentialSumByKeyOrdered(cells, Seq("doc_id"),
        Seq("w1", "w2"), "x",
        extraAggs = Seq(sum(col("cnt")).as("n_bigrams")))
      .select(col("doc_id"), col("n_bigrams"),
        col("__sum").as("logprob"))
      .withColumn("ppl", exp(-col("logprob") / col("n_bigrams")))
  }

  /** Keep the `quota` most reference-like documents (lowest ppl, ties
    * to the lower doc_id) — the CCNet "head" cut with an explicit
    * budget instead of a percentile, so selection is exact and the
    * plan is a TakeOrderedAndProject, not a global sort. Output:
    * (doc_id, n_bigrams, logprob, ppl). */
  def perplexityGate(docs: DataFrame, id: Column, text: Column,
                     refPred: Column, quota: Int): DataFrame = {
    require(quota > 0, s"perplexityGate: quota=$quota")
    perplexityScores(docs, id, text, refPred)
      .orderBy(col("ppl").asc, col("doc_id").asc)
      .limit(quota)
  }

  // ---- persisted model + continuous gate -----------------------------------

  /** Fit the bigram model once and write it frozen: `$path/model`
    * (w1, w2, c_big, c_ctx) then `$path/meta` (v), committed by
    * [[graft.exec.Artifact.persist]] — meta presence is what the gate
    * checks. A torn write leaves no meta: the next run retracts the
    * orphaned model/ and refits (self-healing); a COMMITTED artifact is
    * refused loudly instead of silently refitting. */
  def persistModel(docs: DataFrame, id: Column, text: Column,
                   refPred: Column, path: String): Unit = {
    // an UNCOMMITTED leftover is retracted and rewritten: a crash
    // between the model and meta writes would otherwise wedge every
    // rerun on the surviving model/ directory — replays must self-heal.
    // A COMMITTED artifact (meta marker present) still fails loudly
    // rather than silently refitting; a torn meta/ alone does not.
    val spark = docs.sparkSession
    val fs = Artifact.fs(spark, path)
    require(!Artifact.committedOrLegacy(spark, s"$path/meta"),
      s"persistModel: a committed model already exists at $path — " +
        "remove it explicitly to refit")
    // v from the WRITTEN bytes, not the model lineage: re-aggregating
    // the model would re-run the whole reference explode a second time,
    // and deriving meta from the committed file also ties it to
    // exactly what the gate will read
    Artifact.persist(spark, path, spark.read.parquet(s"$path/model")
        .agg((countDistinct(col("w2")) + lit(1L)).as("v"))) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/model"), true)
      bigramModel(docs, id, text, refPred)
        .write.mode("error").parquet(s"$path/model")
    }
  }

  /** The continuous quality gate: score one microbatch of documents
    * against the PERSISTED model (never refit per batch — the CCNet
    * contract is a frozen reference LM), keep rows with
    * ppl ≤ `maxPpl`, and append them (full payload) under this epoch's
    * `ingest_batch` partition with dynamic overwrite — at-least-once
    * replay × idempotent partition rewrite = exactly-once admitted
    * state (the `windowSinkBatch` argument). Documents without bigrams
    * (< 2 tokens / null text) have no perplexity and are NOT admitted —
    * gate them with a separate length floor, as in the batch operator.
    *
    * Reading `$path/meta` first doubles as the commit check: a torn
    * `persistModel` leaves no meta and the batch fails loudly. */
  def perplexityGateBatch(modelPath: String, outPath: String,
                          maxPpl: Double, idCol: String = "doc_id",
                          textCol: String = "text")
                         (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val v = spark.read.parquet(s"$modelPath/meta")
    val model = spark.read.parquet(s"$modelPath/model")
    val keep = scoresAgainstModel(batch, col(idCol), col(textCol),
        model, v)
      .where(col("ppl") <= maxPpl)
      .select(col("doc_id").as(idCol))
    Artifact.writeEpoch(batch.join(keep, Seq(idCol)), batchId, outPath)
  }
}
