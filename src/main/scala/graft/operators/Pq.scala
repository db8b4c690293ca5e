package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{materialize, scoped}
import graft.functions.CentroidScan

/** Product quantization (Jégou, Douze, Schmid 2011: "Product quantization
  * for nearest neighbor search") — the COMPRESSION tier of the ANN ladder
  * (brute → LSH → IVF → PQ): split each dim-d vector into `m` contiguous
  * subvectors, vector-quantize every subspace independently against a
  * `ksub`-codeword codebook, and store each vector as m small integer
  * codes instead of d floats.
  *
  * Why this matters at 100 TB: a 64-dim float corpus is 256 bytes/vector;
  * its PQ codes at m=8 are 8 bytes — a 32× cut in what every scan,
  * shuffle, and cache level moves (real embedding dims 768–4096 give the
  * same ratio: compression is d·4 / m bytes). The codebook itself is
  * m·ksub·dsub doubles — kilobytes, a codegen reference object shipped
  * with the plan like the k-means centroid matrix, never a join side.
  *
  * Execution shape, Spark-first:
  *  - TRAIN (`pqTrain`) is driver-side Lloyd per subspace over a
  *    hash-ordered bounded sample (the IVF coarse-quantizer pattern at
  *    `Similarity.ivfTopK`): deterministic — sample order is
  *    `(md5(id), id)`, seeds are the first `ksub` sample rows, update
  *    folds run in ascending `id` order — so the generated SQL oracle
  *    reproduces training bit-for-bit. Driver state is m·ksub·dsub
  *    doubles, independent of corpus size.
  *  - ENCODE (`encoded`) is ONE codegen'd projection pass
  *    (`PqEncodeL2`): no shuffle, no join — the pass a pipeline runs
  *    once and persists, after which every ANN query scans codes.
  *  - SEARCH (`pqTopK`) is asymmetric distance computation in its
  *    decode-then-dot form: reconstruct each corpus vector from its
  *    codes (`PqDecodeF32`, one codegen'd projection — the probe side
  *    stays raw/uncompressed, hence "asymmetric"), then the exact
  *    brute-force top-k kernel over reconstructions. Same
  *    broadcast-probes / stream-corpus / partial-TakeOrdered plan as
  *    `Similarity.bruteForceTopK` — recall is the quantization's, the
  *    plan is the exact kernel's.
  */
object Pq {

  /** A trained codebook: `cents(s)(j)` = codeword `j` of subspace `s`,
    * each of length `dsub = dim / m`. */
  final case class Codebook(cents: Array[Array[Array[Double]]]) {
    def m: Int = cents.length
    def ksub: Int = cents.head.length
    def dsub: Int = cents.head.head.length
    def dim: Int = m * dsub
  }

  /** Train per-subspace codebooks with Lloyd's algorithm on a
    * hash-ordered sample (≤ `sampleN` rows collected — bounded driver
    * state, same budget as the IVF sample trainer). Fully deterministic:
    * no RNG anywhere, so the SQL oracle can replay training exactly.
    *
    * `dim` must divide into `m` equal subspaces; rows whose embedding is
    * null, carries a null element, or has a different length are
    * excluded from training (and from every PQ query — they have no
    * meaningful code).
    */
  def pqTrain(emb: DataFrame, m: Int, ksub: Int, iters: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              sampleN: Int = 4096): Codebook = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"pqTrain: m=$m, ksub=$ksub, iters=$iters")
    val dim = Similarity.probeDim(emb, embCol)
    require(dim % m == 0, s"pqTrain: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val sample = emb
      .select(when(col(idCol).cast("long").isNull,
          raise_error(lit("pqTrain: id must be numeric (castable to " +
            "long) — map string ids to longs first")))
        .otherwise(col(idCol).cast("long")).as("id"),
        col(embCol).as("emb"))
      .where(Similarity.wellFormed(col("emb"), dim))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(sample.nonEmpty, "pqTrain: no usable embedding rows")
    require(sample.length >= ksub,
      s"pqTrain: sample has ${sample.length} rows < ksub=$ksub")
    // update folds run in ascending id order (the SQL oracle's
    // `list_sum(list(x ORDER BY vec_id))`); seeds use the hash order
    val byId = sample.sortBy(_._1).map(_._2)
    val cents = Array.tabulate(m) { s =>
      val off = s * dsub
      val seeds = sample.take(ksub)
        .map(_._2.slice(off, off + dsub).map(_.toDouble))
      CentroidScan.lloyd(byId, off, dsub, seeds, iters) { cs =>
        p => nearestCode(byId(p), off, dsub, cs)
      }
    }
    Codebook(cents)
  }

  /** Sample-row assignment during training — delegates to the ONE
    * shared argmin (`PqEncodeL2.nearestCode`, the arithmetic the corpus
    * encoder runs per row) so the two can never drift. */
  private def nearestCode(v: Array[Float], off: Int, dsub: Int,
                          cs: Array[Array[Double]]): Int = {
    val sub = new Array[Double](dsub)
    var i = 0
    while (i < dsub) { sub(i) = v(off + i).toDouble; i += 1 }
    graft.functions.PqEncodeL2.nearestCode(sub, cs)
  }

  /** The corpus with its PQ code array: `(idCol, codes)` — one codegen'd
    * projection pass, the form a pipeline persists.
    *
    * Codes ride as INT deliberately: a controlled at-rest probe (100k
    * rows × 8 codes, BASELINE.md round 12) measured byte-typed
    * (TINYINT, shifted −128) storage at 1,222,226 bytes vs 1,222,177
    * for INT — parquet's dictionary/bit-packing already stores a
    * ksub≤256 code at ~1 byte regardless of the logical int width, and
    * a chr()-packed binary column came out 52% LARGER (UTF-8 doubles
    * bytes ≥ 0x80). The residual between the measured ~20× at-rest win
    * and the 32× payload theory is the id column and the array
    * repetition levels, not the code type. */
  def encoded(corpus: DataFrame, cb: Codebook,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame =
    corpus
      .where(Similarity.wellFormed(col(embCol), cb.dim))
      .select(col(idCol),
        graft.functions.VectorExpressions.pqEncode(col(embCol), cb.cents)
          .as("codes"))

  /** Reconstruct `(idCol, embCol)` from a coded frame — the decode half
    * of ADC; elements are the codeword floats. */
  def reconstructed(codes: DataFrame, cb: Codebook,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame =
    codes.select(col(idCol),
      graft.functions.VectorExpressions.pqDecode(col("codes"), cb.cents)
        .as(embCol))

  /** PQ approximate top-k (asymmetric distance): corpus encoded then
    * reconstructed (both single codegen'd projections, fused into one
    * pass here), probes RAW, exact top-k kernel over the pair. Output
    * schema matches `Similarity.bruteForceTopK`; recall is the
    * quantizer's — ksub^m cells must separate what the corpus
    * distinguishes (the spec pins exactness on a corpus drawn FROM the
    * codebook's cells, and measures recall on the synthetic corpus).
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, k: Int, cb: Codebook,
             idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame = {
    val rec = corpus
      .where(Similarity.wellFormed(col(embCol), cb.dim))
      .select(col(idCol),
        graft.functions.VectorExpressions.pqDecode(
          graft.functions.VectorExpressions.pqEncode(col(embCol), cb.cents),
          cb.cents).as(embCol))
    Similarity.bruteForceTopK(rec, probes, k, idCol, embCol)
  }

  /** IVF-PQ: the canonical billion-scale ANN index (Jégou et al. 2011
    * §V; what FAISS calls `IVFx,PQy`) — the IVF coarse quantizer routes
    * the search, and PQ codes compress what each inverted list stores.
    * Crucially PQ encodes the RESIDUAL (vector − its coarse centroid),
    * not the raw vector: within a list every member shares the centroid
    * direction, and quantizing what's LEFT spends the codebook's
    * resolution on what distinguishes list members (the same residual
    * insight as `Similarity.lshWithinClusterPairs`' hyperplane fix).
    *
    * Pipeline (train + index once, per-query cost is the probed lists):
    *   1. coarse k-means (`Similarity.kMeansCentroids` — full-corpus
    *      distributed Lloyd), corpus assigned in one fused
    *      `NearestCentroid` pass;
    *   2. residual = emb − centroid[cluster], float arithmetic, one
    *      `zip_with` projection;
    *   3. PQ codebook trained on residual samples, residuals encoded —
    *      the stored index is (id, cluster, m codes): cluster is the
    *      shuffle/join key, codes the d·4/m-byte payload;
    *   4. search: probes ranked against the coarse centroids
    *      (`centroidRanking`), routed to their `nProbe` nearest lists
    *      (broadcast — probes are tiny), each candidate scored by ADC:
    *      reconstruct centroid + decoded residual, exact cosine against
    *      the raw probe, per-probe top-k window.
    *
    * Recall has two independent dials: `nProbe`/`nCentroids` (routing
    * recall — a true neighbor in an unprobed list is never seen) and
    * `m`/`ksub` (quantization recall within probed lists); the oracle
    * replays BOTH exactly, so approximation never diverges from it.
    * Output schema matches `bruteForceTopK` minus the cos column
    * (reconstructed cosines are approximations; ranks are the
    * contract). */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                nCentroids: Int, nProbe: Int, coarseIters: Int,
                m: Int, ksub: Int, pqIters: Int,
                idCol: String = "vec_id", embCol: String = "embedding",
                deterministic: Boolean = false): DataFrame = scoped {
    val cents = Similarity.kMeansCentroids(corpus, nCentroids, coarseIters,
      idCol, embCol, deterministic)
    // the materialized residual frame escapes with the lazy result,
    // which reads the index projection
    val (index, cb) = buildIvfPqIndex(corpus, cents, m, ksub, pqIters,
      idCol, embCol)
    adcSearch(index, probes, k, nProbe, cents, cb, idCol, embCol)
  }

  /** The IVF-PQ index frame (id, cluster, codes) plus its residual
    * codebook, under the given coarse centroids. The index projects from
    * a MATERIALIZED (id, cluster, resid) base, which joins the caller's
    * scope — the codebook sample collect and the encode pass are
    * separate actions, so a lazy frame would run the corpus scan +
    * nearest-centroid assignment + residual arithmetic twice (r13;
    * measured as one full extra corpus pass per probe build). */
  private def buildIvfPqIndex(corpus: DataFrame,
                              cents: Array[Array[Double]],
                              m: Int, ksub: Int, pqIters: Int,
                              idCol: String, embCol: String)
      : (DataFrame, Codebook) = {
    val dim = cents.head.length
    val centLit = typedlit(cents.map(_.map(_.toFloat).toSeq).toSeq)
    // float residual: float(emb) - float(centroid), elementwise FloatType
    // arithmetic (the SQL oracle mirrors it with the REAL-cast /
    // double-rounding-safe form). The raw emb column is dropped before
    // the checkpoint — neither the codebook trainer (resid) nor the
    // encode pass (resid, cluster) reads it.
    val assigned = materialize(corpus
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .where(Similarity.wellFormed(col("emb"), dim))
      .select(col("id"), col("emb"),
        graft.functions.VectorExpressions
          .nearestCentroid(col("emb"), cents).as("cluster"))
      .withColumn("resid", zip_with(col("emb"),
        element_at(centLit, col("cluster") + 1), (x, c) => x - c))
      .select(col("id"), col("cluster"), col("resid")))
    val cb = pqTrain(assigned, m, ksub, pqIters, idCol = "id",
      embCol = "resid")
    // the stored index shape: (id, cluster, codes) — emb/resid dropped
    (assigned.select(col("id"), col("cluster"),
      graft.functions.VectorExpressions.pqEncode(col("resid"), cb.cents)
        .as("codes")), cb)
  }

  /** ADC search over an IVF-PQ index frame (id, cluster, codes): probes
    * routed to their `nProbe` nearest coarse lists, candidates scored on
    * centroid + decoded residual, per-probe top-k. */
  private def adcSearch(index: DataFrame, probes: DataFrame, k: Int,
                        nProbe: Int, cents: Array[Array[Double]],
                        cb: Codebook, idCol: String, embCol: String)
      : DataFrame = {
    val centLit = typedlit(cents.map(_.map(_.toFloat).toSeq).toSeq)
    // ADC reconstruction at scan time: centroid + decoded residual
    val recon = zip_with(element_at(centLit, col("cluster") + 1),
      graft.functions.VectorExpressions.pqDecode(col("codes"), cb.cents),
      (c, r) => c + r)
    val cSide = index
      .withColumn("c_emb", recon)
      .select(col("id").as("nbr_id"), col("cluster"),
        col("c_emb"), Similarity.norm(col("c_emb")).as("c_nrm"))
    val pSide = probes
      .withColumn("__ranked", Similarity.centroidRanking(col(embCol), cents))
      .withColumn("cluster", explode(transform(
        slice(col("__ranked"), 1, nProbe), s => s.getField("cid"))))
      .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
        Similarity.norm(col(embCol)).as("p_nrm"), col("cluster"))
    val scored = cSide.join(broadcast(pSide), Seq("cluster"))
      .where(col("nbr_id") =!= col("probe_id"))
      .withColumn("cos", Similarity.normedCosine(col("c_emb"),
        col("p_emb"), col("c_nrm"), col("p_nrm")))
    Similarity.cosTopK(scored, k)
  }

  // ---- persisted IVF-PQ index (ANN serving tier) -----------------------

  /** Persist the IVF-PQ index: train ONCE per corpus build, probe
    * forever — the ANN-serving mirror of `Similarity
    * .persistSemanticIndex` (same data-before-meta commit order), laid
    * out the way a 100 TB serving scan wants it:
    *
    *  - `vectors/cluster=N/` — (id, codes): the inverted lists,
    *    PARTITIONED BY cluster, holding m int codes per vector instead
    *    of dim floats. A probe touching `nProbe` lists reads only those
    *    directories — the broadcast-hash join on the partition column
    *    gives Spark's dynamic partition pruning exactly the shape it
    *    fires on, so unprobed lists are never scanned, and what IS
    *    scanned is the d·4/m-compressed codes;
    *  - `coarse/`   — (cluster, cent): the routing quantizer;
    *  - `codebook/` — (sub, code, cent): the residual PQ codebook;
    *  - `meta/`     — (dim, k, m, ksub), committed by
    *    [[graft.exec.Artifact.persist]].
    */
  def persistIvfPqIndex(corpus: DataFrame, path: String,
                        nCentroids: Int, coarseIters: Int,
                        m: Int, ksub: Int, pqIters: Int,
                        idCol: String = "vec_id",
                        embCol: String = "embedding",
                        deterministic: Boolean = false): Unit = scoped {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Similarity.kMeansCentroids(corpus, nCentroids, coarseIters,
      idCol, embCol, deterministic)
    val (index, cb) = buildIvfPqIndex(corpus, cents, m, ksub,
      pqIters, idCol, embCol)
    // retraction matters here: a crash mid-re-persist would otherwise
    // leave new codes readable under the old codebook/centroids —
    // silently wrong ADC
    Artifact.persist(spark, path, Seq((cb.dim, cents.length, cb.m, cb.ksub))
        .toDF("dim", "k", "m", "ksub")) {
      index.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$path/vectors")
      cents.zipWithIndex.toSeq.map { case (c, j) => (j, c.toSeq) }
        .toDF("cluster", "cent")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
      (for (s <- cb.cents.indices; j <- cb.cents(s).indices)
        yield (s, j, cb.cents(s)(j).toSeq)).toDF("sub", "code", "cent")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    }
  }

  /** Probe a persisted IVF-PQ index with a batch of query vectors: route
    * each against the PERSISTED coarse centroids (no re-training
    * anywhere), scan only the routed lists' code partitions, score by
    * ADC. Returns (probe_id, rank, nbr_id) — `ivfPqTopK`'s output over
    * `ivfPqTopK`'s arithmetic, at probe-side cost. */
  def probeIvfPqIndex(batch: DataFrame, path: String, k: Int, nProbe: Int,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    val meta = Artifact.readMeta(spark, path)
    val (mdim, mk, mm, mksub) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getInt(3))
    val cents = spark.read.parquet(s"$path/coarse")
      .orderBy("cluster").select("cent").collect()
      .map(_.getSeq[Double](0).toArray)
    require(cents.length == mk,
      s"IVF-PQ index at $path: meta says k=$mk but coarse/ has " +
        s"${cents.length} rows — torn index")
    val cbRows = spark.read.parquet(s"$path/codebook")
      .orderBy("sub", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val cb = Codebook((0 until mm).map { s =>
      val rows = cbRows.filter(_._1 == s).sortBy(_._2)
      require(rows.length == mksub,
        s"IVF-PQ index at $path: subspace $s has ${rows.length} " +
          s"codewords, meta says $mksub")
      rows.map(_._3)
    }.map(_.toArray).toArray)
    Similarity.probeDimOpt(batch, embCol).foreach(bd => require(bd == mdim,
      s"IVF-PQ index at $path holds dim-$mdim vectors but the probe " +
        s"batch is dim-$bd"))
    val index = spark.read.parquet(s"$path/vectors")
      .select(col("id"), col("cluster").cast("int").as("cluster"),
        col("codes"))
    adcSearch(index, batch, k, nProbe, cents, cb, idCol, embCol)
  }
}
