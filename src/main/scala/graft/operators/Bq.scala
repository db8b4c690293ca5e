package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Artifact

/** Binary (1-bit-per-dimension) quantization — the 32× compression tier
  * of the ANN family, below `Sq`'s int8 (4×) and `Pq`'s codebooks:
  * bit i = [x_i ≥ 0], packed 32 dimensions per long word, searched by
  * HAMMING distance (XOR + popcount — integer-only, engine-exact), then
  * re-ranked by exact cosine over a `rerank`-sized candidate set. Sign
  * quantization is the standard serving trick for roughly zero-centered
  * embedding spaces (Charikar hyperplanes with the identity basis); the
  * rerank stage restores exact top-k whenever the true neighbors sit in
  * the Hamming-candidate set, and `rerank = |corpus|` degenerates to
  * brute force (spec-pinned).
  *
  * Packing uses 32-bit words (not 64) so every engine's signed-BIGINT
  * arithmetic stays overflow-free: word w = Σ_j bit_{32w+j} · 2^(31−j),
  * MSB-first, dims past the end contribute 0. All integer — the DuckDB
  * oracle replays it bit-for-bit.
  *
  * Scale: encode is one narrow projection (HOF fold per word — interpret
  * cost paid once per vector; a pipeline PERSISTS `encoded` and pays it
  * once per corpus build). Search is the `bruteForceTopK` posture with
  * 32× less candidate payload: probes broadcast, corpus streams, the
  * Hamming pre-rank cuts the exact-cosine work to `rerank` per probe.
  */
object Bq {

  private def nWords(dim: Int): Int = (dim + 31) / 32

  /** Packed sign-bit words for one embedding column. */
  private[operators] def wordsExpr(emb: Column, dim: Int): Column = {
    val bits = transform(emb, x => when(x >= 0, 1L).otherwise(0L))
    array((0 until nWords(dim)).map { w =>
      // MSB-first fold: acc·2 + bit, 32 slots, out-of-range dims = 0
      // (try_element_at: ANSI element_at THROWS past the end)
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, j) => acc * 2 +
          coalesce(try_element_at(bits, lit(w * 32) + j + 1), lit(0L)))
    }.toIndexedSeq: _*)
  }

  /** `(idCol, words)` — the 32×-compressed form a pipeline persists. */
  def encoded(corpus: DataFrame, dim: Int, idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame =
    corpus.where(Similarity.wellFormed(col(embCol), dim))
      .select(col(idCol), wordsExpr(col(embCol), dim).as("words"))

  /** Hamming distance between two packed-word arrays (long) — the
    * codegen'd `HammingWords` expression (the interpreted HOF form
    * measured slower than the fused dot product it pre-filters; see the
    * expression's scaladoc). */
  def hamming(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.hammingWords(a, b)

  /** Top-k by Hamming pre-rank + exact-cosine rerank. Candidate cut:
    * `rerank` lowest-Hamming neighbors per probe (id tiebreak); final
    * rank by exact cosine desc (id tiebreak). Output: (probe_id, rank,
    * nbr_id, hamming, cos).
    *
    * Plan shape (the melted-verify pattern of `minhashLshPairs`): the
    * pre-rank window shuffles ONLY (probe_id, nbr_id, hamming) — the
    * 32×-compressed words never ride past the scan, and the full f32
    * vectors enter the plan only for the rerank·|probes| candidate
    * rows, fetched back by a semi-join-shaped id join. Carrying the
    * vectors through the pre-rank window instead (the obvious
    * composition) shuffles the whole corpus payload and erases BQ's
    * entire compression win. */
  def hammingTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                  rerank: Int, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    require(k > 0 && rerank >= k, s"hammingTopK: k=$k rerank=$rerank")
    val dim = Similarity.probeDim(corpus, embCol)
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val well = corpus.where(Similarity.wellFormed(col(embCol), dim))
    val cWords = well.repartition(par)
      .select(col(idCol).as("nbr_id"),
        wordsExpr(col(embCol), dim).as("c_words"))
    search(cWords, probeSide(probes, dim, idCol, embCol),
      vectorSide(well, idCol, embCol), k, rerank)
  }

  private def probeSide(probes: DataFrame, dim: Int, idCol: String,
                        embCol: String): DataFrame =
    probes.where(Similarity.wellFormed(col(embCol), dim))
      .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
        wordsExpr(col(embCol), dim).as("p_words"),
        Similarity.norm(col(embCol)).as("p_nrm"))

  // NO norm here: this projection sits BELOW the candidate join, so a
  // norm computed in it runs the interpreted per-row fold over the
  // WHOLE fetch tier on every query — the exact cost the melted plan
  // exists to avoid. `search` computes c_nrm AFTER the join, on the
  // rerank-sized candidate rows only.
  private def vectorSide(vectors: DataFrame, idCol: String,
                         embCol: String): DataFrame =
    vectors.select(col(idCol).as("nbr_id"), col(embCol).as("c_emb"))

  /** The shared search tail: skinny Hamming pre-rank over `cWords`
    * (ids + hamming only through the window shuffle), then the
    * rerank-sized candidate set fetches its vectors from `cVecs`. */
  private def search(cWords: DataFrame, pFull: DataFrame,
                     cVecs: DataFrame, k: Int, rerank: Int): DataFrame = {
    val cand = cWords
      .join(broadcast(pFull.select("probe_id", "p_words")),
        col("nbr_id") =!= col("probe_id"))
      .withColumn("hamming", hamming(col("c_words"), col("p_words")))
      .select("probe_id", "nbr_id", "hamming")
      .withColumn("crank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("hamming").asc, col("nbr_id").asc)))
      .where(col("crank") <= rerank)
    val scored = cand
      .join(cVecs, Seq("nbr_id"))
      .withColumn("c_nrm", Similarity.norm(col("c_emb")))
      .join(broadcast(pFull.select("probe_id", "p_emb", "p_nrm")),
        Seq("probe_id"))
      .withColumn("cos", Similarity.normedCosine(col("c_emb"),
        col("p_emb"), col("c_nrm"), col("p_nrm")))
    Similarity.cosTopK(scored, k, "hamming", "cos")
  }

  /** Persist the BQ serving index: the packed words plus a dim meta row,
    * committed by [[graft.exec.Artifact.persist]] (meta retracted first,
    * so a crash mid-re-persist never leaves the old meta vouching for a
    * half-rewritten words/). The index holds ONLY the 32×
    * form — the standard deployment splits the ANN index from a vector
    * fetch tier, which `probeBqIndex` takes as its `vectors` frame. */
  def persistBqIndex(corpus: DataFrame, path: String,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = Similarity.probeDim(corpus, embCol)
    Artifact.persist(spark, path, Seq(dim).toDF("dim")) {
      encoded(corpus, dim, idCol, embCol)
        .write.mode("overwrite").parquet(s"$path/words")
    }
  }

  /** Probe a persisted BQ index with a batch of query vectors: the
    * corpus is never re-encoded (the words parquet IS the pre-rank
    * input), probe-side packing is one projection over the batch, and
    * only the rerank-sized candidate set touches the `vectors` fetch
    * tier. Output as `hammingTopK`. */
  def probeBqIndex(batch: DataFrame, path: String, vectors: DataFrame,
                   k: Int, rerank: Int, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    require(k > 0 && rerank >= k, s"probeBqIndex: k=$k rerank=$rerank")
    val spark = batch.sparkSession
    val dim = Artifact.readMeta(spark, path).getInt(0)
    val cWords = spark.read.parquet(s"$path/words")
      .select(col(idCol).as("nbr_id"), col("words").as("c_words"))
    search(cWords, probeSide(batch, dim, idCol, embCol),
      vectorSide(vectors, idCol, embCol), k, rerank)
  }
}
