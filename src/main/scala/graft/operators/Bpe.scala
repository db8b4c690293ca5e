package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Exec.{advance, materialize, scoped}

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
  * trainable half of the token-counting surface (SURVEY.md §2.11
  * text-analysis family: `TextAnalysis.tokenCount` counts by a fixed
  * regex; this learns the subword vocabulary a real pretrain pipeline
  * tokenizes with).
  *
  * Scale shape — the whole reason BPE trains at 100 TB: the corpus is
  * read ONCE, reduced to the word-frequency VOCABULARY (one partial-agg
  * groupBy; Heaps' law keeps distinct words orders of magnitude below
  * corpus bytes). Every merge round then runs over the vocab only:
  * adjacent-pair counts are an arrays_zip over the materialized symbol
  * arrays (no window, no re-split — the round-9 lesson that inline
  * re-computation under CollapseProject is 2-4× wall), the winning pair
  * is ONE argmax collect (driver holds one row per round), and the
  * merge rewrite is a sequential HOF fold over each word's symbols.
  * Rounds are `materialize`d and the superseded round's storage is
  * released, the same iterate-many-rounds discipline as
  * `connectedComponents`.
  *
  * Determinism: ties on pair count break to the lexicographically
  * smaller (left, right) — the result is a pure function of the corpus.
  * No end-of-word marker is appended (the marker-free variant; callers
  * wanting Sennrich's `</w>` can append it to `word` upstream).
  */
object Bpe {

  /** The corpus→vocab reduction: whitespace words with counts. The only
    * corpus-scale pass in BPE training. */
  def wordFreqs(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(split(textCol, "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol decomposition: one single-character symbol per
    * codepoint (split-empty keeps surrogate pairs whole in Spark and
    * DuckDB alike on this corpus's ASCII-ish text). */
  private def charSymbols(word: Column): Column =
    filter(split(word, ""), x => length(x) > 0)

  /** Frequency-weighted adjacent-pair counts over a (symbols, freq)
    * vocab frame — the per-round counting step, exposed for the oracle
    * query (round 1: symbols are single characters). Columns:
    * (left, right, cnt). */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val n = size(col("symbols"))
    vocab.where(n >= 2)
      .select(col("freq"),
        explode(arrays_zip(
          slice(col("symbols"), lit(1), n - 1).as("l"),
          slice(col("symbols"), lit(2), n - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Round-1 pair counts straight from a corpus — the oracle surface
    * (`q_text_bpe_pairs`). */
  def initialPairCounts(docs: DataFrame, textCol: Column): DataFrame =
    pairCounts(wordFreqs(docs, textCol)
      .select(charSymbols(col("word")).as("symbols"), col("freq")))

  /** One merge applied to a symbol array: leftmost-first,
    * non-overlapping — the sequential fold. A symbol produced by THIS
    * fold can never re-trigger as the left partner (that would need
    * left+right == left), so the fold is exactly Sennrich's
    * left-to-right replace. */
  private def mergeFold(symbols: Column, l: String, r: String): Column =
    aggregate(symbols,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Train `numMerges` merges; returns the driver-side merge table in
    * rank order. Stops early when no adjacent pair remains (every word
    * fully merged). */
  def train(docs: DataFrame, textCol: Column, numMerges: Int)
      : Array[(String, String)] = scoped {
    require(numMerges >= 0, s"Bpe.train: numMerges=$numMerges")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var vocab = materialize(
      wordFreqs(docs, textCol)
        .select(charSymbols(col("word")).as("symbols"), col("freq")))
    var m = 0
    var dry = false
    while (m < numMerges && !dry) {
      val top = pairCounts(vocab)
        .orderBy(desc("cnt"), asc("left"), asc("right")).limit(1)
        .collect()
      if (top.isEmpty) dry = true
      else {
        val (l, r) = (top.head.getString(0), top.head.getString(1))
        merges += ((l, r))
        vocab = advance(vocab,
          vocab.select(mergeFold(col("symbols"), l, r).as("symbols"),
            col("freq")))
        m += 1
      }
    }
    merges.toArray
  }

  /** The trained merge table as a DataFrame (rank, left, right) — the
    * persistable artifact a tokenizer ships. */
  def trainTable(docs: DataFrame, textCol: Column, numMerges: Int)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, numMerges).zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }.toSeq
      .toDF("rank", "left", "right")
  }

  /** Tokenize with a trained merge table: whitespace words, each
    * greedily merged lowest-rank-first (the standard BPE encode), token
    * streams concatenated across words. ONE fused expression — the plan
    * stays constant-size in the merge count (see
    * [[graft.functions.BpeEncode]]), where a per-merge fold chain would
    * grow the tree linear in `merges.length` and land on both sides of
    * any later join. */
  def encode(text: Column, merges: Array[(String, String)]): Column =
    graft.functions.BpeExpressions.bpeEncode(text, merges)
}
