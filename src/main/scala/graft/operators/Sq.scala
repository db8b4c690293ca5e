package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization — the NEAR-LOSSLESS compression tier below
  * PQ in the quantization ladder: each dimension affine-mapped to a
  * 0..255 code against per-dimension corpus min/max. 4× smaller than
  * float32 at recall that is ~exact for ranking (the per-element error
  * is ≤ range/510), where PQ's 32× trades real recall; a 100 TB pipeline
  * typically stores SQ for re-ranking and PQ codes for the first-stage
  * scan.
  *
  * Everything here is exactly reproducible across engines — the reason
  * this operator can sit under the hash oracle while approximate-ANN
  * recall cannot: per-dim min/max are ORDER-INDEPENDENT aggregates
  * (no float-summation nondeterminism), and the quantize/dequantize maps
  * are fixed-structure double arithmetic mirrored term-for-term in the
  * generated SQL (`floor` + clamp, never a rounding-mode-dependent
  * `round`; reconstruction casts to float once, the double-rounding-safe
  * REAL cast).
  *
  * Execution shape: training is one posexplode + (dim)-group partial
  * aggregate (dim rows to the driver); encode/decode are per-row HOF
  * projections — fine for a once-per-corpus pass (unlike the per-PAIR
  * join kernels that justified the fused expressions in
  * `VectorExpressions`, nothing here sits inside a join).
  */
object Sq {

  /** Per-dimension affine parameters: code = clamp(floor((x − min) /
    * scale · 255 + 0.5)), recon = min + code · scale/255. A constant
    * dimension (scale 0) codes as 0 and reconstructs to its min. */
  final case class SqParams(mins: Array[Double], maxs: Array[Double]) {
    require(mins.length == maxs.length && mins.nonEmpty,
      s"SqParams: ${mins.length} mins vs ${maxs.length} maxs")
    def dim: Int = mins.length
  }

  /** Per-dimension min/max over the corpus — dim rows to the driver,
    * order-independent, so exact on any engine/partitioning. */
  def sqTrain(emb: DataFrame, embCol: String = "embedding"): SqParams = {
    val dim = Similarity.probeDim(emb, embCol)
    val rows = emb.select(col(embCol).as("emb"))
      .where(Similarity.wellFormed(col("emb"), dim))
      .select(posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("i").collect()
    require(rows.length == dim, s"sqTrain: no usable rows")
    SqParams(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** `(idCol, codes)` with codes(i) ∈ 0..255 — the 4×-compressed form a
    * pipeline persists. */
  def encoded(corpus: DataFrame, p: SqParams,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    val minsLit = typedlit(p.mins.toSeq)
    val maxsLit = typedlit(p.maxs.toSeq)
    corpus
      .where(Similarity.wellFormed(col(embCol), p.dim))
      .select(col(idCol),
        transform(col(embCol), (x, i) => {
          val mn = element_at(minsLit, i + 1)
          val mx = element_at(maxsLit, i + 1)
          when(mx === mn, lit(0)).otherwise(
            least(lit(255L), greatest(lit(0L),
              floor((x.cast("double") - mn) / (mx - mn) * lit(255.0)
                + lit(0.5)))))
            .cast("int")
        }).as("codes"))
  }

  /** `(idCol, embCol)` reconstructed from codes: float(min + code·step),
    * step = scale/255 in double. */
  def reconstructed(codes: DataFrame, p: SqParams,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val minsLit = typedlit(p.mins.toSeq)
    val stepsLit = typedlit(
      p.mins.indices.map(i => (p.maxs(i) - p.mins(i)) / 255.0))
    codes.select(col(idCol),
      transform(col("codes"), (c, i) =>
        (element_at(minsLit, i + 1) +
          c.cast("double") * element_at(stepsLit, i + 1)).cast("float"))
        .as(embCol))
  }

  /** Top-k over the quantized corpus (encode → decode → the exact
    * kernel), probes raw — the SQ mirror of `Pq.pqTopK`, at ~exact
    * recall. */
  def sqTopK(corpus: DataFrame, probes: DataFrame, k: Int, p: SqParams,
             idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame =
    Similarity.bruteForceTopK(
      reconstructed(encoded(corpus, p, idCol, embCol), p, idCol, embCol),
      probes, k, idCol, embCol)
}
