package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec.{materialize, scoped, spreadBy}
import graft.functions.TextAnalysis

/** Sliding-window token co-occurrence + association scoring — the counting
  * pass behind PMI association mining, GloVe-style co-occurrence matrices,
  * and keyword co-occurrence maps (the bibliometric "co-word analysis" the
  * scholarly-analytics domain runs over title/keyword fields).
  *
  * Semantics: over the normalized token stream of each document, every
  * unordered token pair whose positions are within `window` of each other
  * co-occurs once per position pair. Counts are exact integers; the
  * association strength is emitted as `pmi_ratio` =
  * (n_pair · n_slots) / (n_w1 · n_w2) — the PMI argument BEFORE the log.
  * The log is deliberately left out of the hashed surface: `ln` is the one
  * step whose last ULP depends on the engine's libm, while products and
  * one division of exactly-representable counts are IEEE-exactly-rounded
  * and therefore bit-identical across engines. `ln` is monotone, so every
  * ranking/thresholding decision over `pmi_ratio` equals the decision over
  * true PMI; `pmiCol` exposes the log form for callers who want nats.
  *
  * Scale shape (the reason this is NOT a tokens⋈tokens self-join):
  *  - ONE exchange on doc id (high-cardinality) carries the skinny
  *    (id, pos, word) posting stream into a single window pass that
  *    computes all `window` neighbor slots as `lead(word, k)` columns —
  *    one WindowExec, no position-range join, output linear in
  *    tokens × window.
  *  - The pair count is a hash aggregate keyed on (w1, w2): hot pairs
  *    (stopword–stopword) are collapsed by partial (map-side) aggregation
  *    before the shuffle, so a skewed pair distribution costs merged
  *    counters, not a hot reducer.
  *  - Marginals are a second skinny aggregate over the pair table's
  *    endpoint slots (each pair contributes its count to both endpoints;
  *    an (a,a) pair counts a twice) — vocabulary-sized output.
  *  - `minCount` prunes the long tail AFTER marginals are taken (so
  *    marginal mass is exact) but BEFORE the two enrichment joins, which
  *    is where the tail would otherwise dominate. The joins key on single
  *    words; vocabulary tables at corpus scale are NOT assumed
  *    broadcastable — they shuffle, and AQE may still elect broadcast at
  *    small scale.
  *
  * Normalization matches the dedup family: `TextAnalysis.normText`
  * (lower/trim/collapse-whitespace), so split never produces interior
  * empty tokens; the lone ""-token of an empty document is dropped.
  */
object Cooccur {

  /** Positioned token stream (id, pos, word) — one row per token. */
  private def postings(docs: DataFrame, id: Column, text: Column): DataFrame =
    spreadBy(docs.select(id.as("id"), text.as("text")), col("id"))
      .select(col("id"),
        posexplode(split(TextAnalysis.normText(col("text")), " "))
          .as(Seq("pos", "word")))
      .where(length(col("word")) > 0)

  /** Unordered within-`window` pair counts with marginals and the exact
    * PMI ratio. Output columns: w1, w2, n_pair, n_w1, n_w2, n_slots,
    * pmi_ratio — w1 <= w2 lexically.
    */
  def windowCooccur(docs: DataFrame, id: Column, text: Column,
                    window: Int = 2, minCount: Long = 1L): DataFrame = scoped {
    require(window >= 1, s"windowCooccur: window=$window must be >= 1")
    val toks = postings(docs, id, text)
    val ordered = Window.partitionBy("id").orderBy("pos")
    // all k-step neighbors in ONE WindowExec; nulls mark the doc tail
    val nbrs = toks.select(col("word"),
      array((1 to window).map(k => lead(col("word"), k).over(ordered)): _*)
        .as("nbrs"))
    // materialize the skinny (w1, w2, n_pair) aggregate ONCE: three
    // consumers (marginals, total, output join) would otherwise each
    // re-run the corpus scan + window pass — measured 4 parquet scans /
    // 4 WindowExecs in the unmaterialized plan (Spark only reuses
    // exchanges inside one action). The pair table is vocabulary²-bounded
    // and count-collapsed, orders of magnitude below the corpus; it
    // escapes to the caller's scope with the lazy result.
    val pairs = materialize(nbrs
      .select(col("word"), explode(col("nbrs")).as("nbr"))
      .where(col("nbr").isNotNull)
      .select(least(col("word"), col("nbr")).as("w1"),
        greatest(col("word"), col("nbr")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")))
    // endpoint-slot marginals: c(w) = Σ over pairs touching w of n_pair,
    // (a,a) counted twice — keeps Σ_w c(w) = 2 Σ n_pair = n_slots exactly
    val marg = pairs
      .select(explode(array(col("w1"), col("w2"))).as("w"), col("n_pair"))
      .groupBy("w").agg(sum(col("n_pair")).as("n_w"))
    val totals = pairs.agg((sum(col("n_pair")) * 2).as("n_slots"))
    // counts can individually approach 2^63 at corpus scale; the ratio is
    // taken in double space (each cast exact below 2^53, products/division
    // exactly rounded → engine-bit-identical given the same tree shape)
    val ratio =
      (col("n_pair").cast("double") * col("n_slots").cast("double")) /
        (col("n_w1").cast("double") * col("n_w2").cast("double"))
    pairs
      .where(col("n_pair") >= minCount)
      .join(marg.withColumnRenamed("w", "w1")
        .withColumnRenamed("n_w", "n_w1"), "w1")
      .join(marg.withColumnRenamed("w", "w2")
        .withColumnRenamed("n_w", "n_w2"), "w2")
      .crossJoin(broadcast(totals)) // 1-row scalar
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        col("n_slots"), ratio.as("pmi_ratio"))
  }
}
