package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{keyGroups, keyPairs, materialize, scoped,
  sequentialSumByKey}
import graft.functions.CentroidScan

/** Embedding similarity search over `ARRAY<FLOAT>` columns.
  *
  * All arithmetic is done in double precision and folds over the array
  * IN INDEX ORDER — so a dot product is a deterministic sequential sum,
  * bit-identical to a sequential fold in any other engine (the DuckDB
  * oracle computes it the same way). A dot product between two vector
  * columns is the one codegen'd kernel, `VectorExpressions.dotF32`
  * (`DotProductF32`), and a pairwise cosine is `normedCosine` over norms
  * computed once per vector; the fused centroid and bucket expressions
  * and the broadcast-array kernels run the same fold in their own loops.
  * The higher-order-function forms `dot`, `norm` and `cosine`
  * (`zip_with` + `aggregate`, evaluated interpreted: per-row lambda
  * dispatch + a zip_with intermediate array) remain the general numeric
  * API and the reference the kernel is spec-pinned against.
  *
  * Three ranking decisions live here once: a zero-norm cosine is NULL
  * (`normedCosine`), a NaN cosine never ranks or pairs (`notNaN`), and
  * ties rank by ascending neighbor id (`rankByCos`).
  */
object Similarity {

  /** Sequential-fold dot product of two array<numeric> columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm (sequential fold, double). */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity; null (not an ANSI DIVIDE_BY_ZERO) when either
    * vector has zero norm — the nullif guard is mirrored verbatim in the
    * DuckDB oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Cosine of two `ARRAY<FLOAT>` vectors from their precomputed norms:
    * the codegen'd dot over the norm product, NULL (not an ANSI
    * DIVIDE_BY_ZERO) when either norm is zero — `cosine`'s arithmetic
    * with each norm computed once per vector instead of once per pair. */
  private[operators] def normedCosine(a: Column, b: Column, na: Column,
                                      nb: Column): Column =
    graft.functions.VectorExpressions.dotF32(a, b) /
      nullif(na * nb, lit(0.0))

  /** A usable embedding: non-null array with no null elements. Degenerate
    * vectors are excluded from the trainers (kMeans, the perceptron) and
    * their assignment/scoring passes alike — a null element would
    * null-poison the deterministic sequential fold (crashing the driver
    * collect) while the scale-mode partial `avg`/`sum` silently SKIPS
    * null cells, so the two modes would diverge; the SQL oracles carry
    * the same `list_filter` predicate. */
  private[graft] def wellFormed(emb: Column): Column =
    emb.isNotNull && !exists(emb, _.isNull)

  /** `wellFormed` and exactly `dim` long — the rows an operator pinned
    * to one dimension can use (a wrong-length vector has no meaningful
    * projection, code or centroid cosine). */
  private[graft] def wellFormed(emb: Column, dim: Int): Column =
    wellFormed(emb) && size(emb) === dim

  /** TRUE unless the cosine is NaN (a NaN-poisoned embedding): Spark
    * orders NaN GREATER than every double and its comparisons agree, so
    * an unguarded NaN cosine ranks 1 for every probe and passes every
    * `>= threshold` gate. Guarding the SCALAR result is free (one isnan
    * per candidate) where a per-element vector scan would tax every
    * corpus row; NULL cosines (zero norms) keep their existing
    * rank-last / fail-gate semantics. */
  private[graft] def notNaN(cos: Column): Column =
    !coalesce(isnan(cos), lit(false))

  /** `scored` (probe_id, nbr_id, cos, ...) ranked by cosine within
    * `probe_id` and the `by` columns: NaN cosines dropped first, then
    * `rank` = row_number by descending cosine, ties to the lower
    * `nbr_id` (NULL cosines rank last). */
  private def rankByCos(scored: DataFrame, by: Column*): DataFrame =
    scored.where(notNaN(col("cos")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id") +: by: _*)
          .orderBy(col("cos").desc, col("nbr_id").asc)))

  /** The per-probe top-k tail of every cosine ANN operator: `rankByCos`
    * cut at `k`, projected to (probe_id, rank, nbr_id, `keep`...). */
  private[operators] def cosTopK(scored: DataFrame, k: Int,
                                 keep: String*): DataFrame =
    rankByCos(scored).where(col("rank") <= k)
      .select((Seq("probe_id", "rank", "nbr_id") ++ keep).map(col): _*)

  /** Candidate pairs (id_a, id_b) verified by exact cosine: both sides'
    * vectors and norms fetched from `vecs` (id, emb, nrm), pairs kept at
    * `cos >= threshold` unless the cosine is NaN. Output (id_a, id_b,
    * cos). */
  private def verifiedPairs(cand: DataFrame, vecs: DataFrame,
                            threshold: Double): DataFrame = {
    def side(s: String): DataFrame = vecs.select(col("id").as(s"id_$s"),
      col("emb").as(s"emb_$s"), col("nrm").as(s"nrm_$s"))
    cand.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      .withColumn("cos", normedCosine(col("emb_a"), col("emb_b"),
        col("nrm_a"), col("nrm_b")))
      .where(col("cos") >= threshold && notNaN(col("cos")))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Vector dimension probed from the first row WITH a vector (driver-
    * side, one tiny job) — lets all-pairs operators unroll arithmetic
    * statically. Null-embedding rows are skipped (size(null) is null and
    * would NPE the probe); None when the frame has no non-null vector. */
  def probeDimOpt(df: DataFrame, embCol: String): Option[Int] =
    df.where(col(embCol).isNotNull).select(size(col(embCol)))
      .limit(1).collect().headOption.map(_.getInt(0))

  /** Probe that requires at least one vector (all-pairs operators that
    * cannot produce sensible output without one). */
  def probeDim(df: DataFrame, embCol: String): Int =
    probeDimOpt(df, embCol).getOrElse(
      throw new IllegalArgumentException(
        s"probeDim: no non-null '$embCol' row to probe the dimension from"))

  /** Brute-force exact top-k nearest neighbors (cosine) for a set of probe
    * ids. The probe side is tiny and broadcast; the corpus side streams —
    * one pass, no shuffle until the (small) per-probe top-k reduction, which
    * Catalyst plans as a partial TakeOrdered per partition.
    *
    * Scale: O(|corpus| · |probes| · dim) work but embarrassingly parallel
    * and shuffle-free on the fact side; this is the correct baseline that
    * IVF/LSH variants must beat, and the recall oracle for them.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame =
    cosTopK(scoredAgainstProbes(corpus, probes, idCol, embCol), k, "cos")

  /** Recall@k evaluation of an ANN ranking against the exact one — the
    * readout that turns "we swapped brute force for IVF/LSH/PQ" into a
    * number a curation pipeline can gate on (the ANN mirror of
    * `Classify.evaluateBinary`). Both inputs use the family's top-k
    * shape (probe_id, rank, nbr_id, ...); output is one row per EXACT
    * probe: n_exact (its exact-list size, ≤ k when the corpus is
    * smaller), n_hits = |approx ∩ exact|, and recall = n_hits/n_exact —
    * integer counts and ONE IEEE division, so the whole row sits under
    * a cross-engine hash oracle. Probes absent from `approx` (an ANN
    * route that found nothing) score recall 0, not a dropped row;
    * probes absent from `exact` are ignored (nothing to recall).
    *
    * Scale: one left-semi join + two aggregates, all keyed on the
    * high-cardinality (probe_id, nbr_id) / probe_id — evaluation cost
    * tracks the lists (probes × k), never the corpus. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("probe_id"), col("nbr_id"))
    val hits = ex
      .join(approx.select(col("probe_id"), col("nbr_id")),
        Seq("probe_id", "nbr_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    ex.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }

  /** The exact scored-pair kernel shared by `bruteForceTopK` and
    * `contrastiveMine`: every (probe, corpus) pair with its cosine, probe
    * side broadcast, corpus side streaming shuffle-free. */
  private def scoredAgainstProbes(corpus: DataFrame, probes: DataFrame,
                                  idCol: String, embCol: String): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    // norms are computed ONCE per vector on each side, not per pair;
    // corpus spread over all cores (see cosineNearDupPairs)
    val c = corpus.repartition(par)
      .select(col(idCol).as("nbr_id"), col(embCol).as("c_emb"),
        norm(col(embCol)).as("c_nrm"))
    val p = probes.select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
      norm(col(embCol)).as("p_nrm"))
    c.join(broadcast(p), col("nbr_id") =!= col("probe_id"))
      .withColumn("cos", normedCosine(col("c_emb"), col("p_emb"),
        col("c_nrm"), col("p_nrm")))
  }

  /** Contrastive training-pair mining (DPR / SimCSE-style): for each
    * anchor in `probes`, emit its top-`kPos` POSITIVES (nearest neighbors
    * at or above `posThreshold` cosine — near-duplicate paraphrase
    * candidates) and its top-`kNeg` HARD NEGATIVES (the most-similar
    * neighbors strictly BELOW the threshold — the informative negatives a
    * random sampler never finds). Output: (probe_id, kind 'pos'|'neg',
    * rank, nbr_id), rank dense from 1 within each (anchor, kind) by
    * descending cosine, ties broken by ascending neighbor id.
    *
    * The filter runs BEFORE the rank, so negatives are never crowded out
    * of the top-k by duplicates — the failure mode of mining via a plain
    * top-k-then-filter over-fetch.
    *
    * Scale: identical posture to `bruteForceTopK` — one broadcast of the
    * (small) anchor batch, one streaming pass over the corpus, per-probe
    * partial top-k under the window. Mining for ALL anchors at 100 TB
    * routes through `ivfTopK`-style coarse quantization instead (anchor
    * batches iterate; each batch is one pass), or restricts candidates to
    * k-means clusters as `semanticDedup` does.
    */
  def contrastiveMine(corpus: DataFrame, probes: DataFrame,
                      kPos: Int, kNeg: Int, posThreshold: Double,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    require(kPos >= 0 && kNeg >= 0 && (kPos > 0 || kNeg > 0),
      s"contrastiveMine: kPos=$kPos kNeg=$kNeg")
    mineRanks(scoredAgainstProbes(corpus, probes, idCol, embCol),
      kPos, kNeg, posThreshold)
  }

  /** The kind/rank/cap tail shared by both mining shapes: label each
    * scored (probe, nbr, cos) pair pos/neg by `posThreshold`, rank
    * within (probe, kind) by descending cosine (nbr id tiebreak), keep
    * the per-kind caps. Filter-before-rank is the whole contract. */
  private def mineRanks(scored: DataFrame, kPos: Int, kNeg: Int,
                        posThreshold: Double): DataFrame =
    rankByCos(scored.withColumn("kind",
        when(col("cos") >= posThreshold, lit("pos")).otherwise(lit("neg"))),
        col("kind"))
      .where((col("kind") === "pos" && col("rank") <= kPos) ||
        (col("kind") === "neg" && col("rank") <= kNeg))
      .select(col("probe_id"), col("kind"), col("rank"), col("nbr_id"),
        col("cos"))

  /** Cluster-restricted contrastive mining — `contrastiveMine`'s
    * full-corpus scale path, where EVERY vector is an anchor: candidates
    * are the anchor's k-means cluster peers, so the pair search shuffles
    * once on the cluster id (the `semanticDedup` posture) instead of
    * broadcasting an anchor batch against the corpus. Restricting hard
    * negatives to the anchor's own cluster keeps the informative
    * similar-but-not-duplicate negatives when the space is lumpy (real
    * embedding corpora), but it IS a recall trade against global brute
    * force, steered by `kClusters`: BASELINE's emb-mine probe measures
    * 14% (k=64) vs 36% (k=8) global-top-5 retention on a near-UNIFORM
    * synthetic space — the worst case for cluster routing, the same
    * reason IVF probes more than one list. Anchors needing
    * global-exact negatives at bounded cost route through `ivfTopK`
    * with nProbe > 1 instead. The positive (near-dup) tier is immune:
    * near-identical vectors co-cluster by construction. Output and
    * caps as `contrastiveMine`; `deterministic` pins the k-means fold
    * for oracle replay.
    *
    * Scale: the within-cluster self-join is O(m²) in the cluster size
    * m, and real embedding spaces are lumpy — so the kernel is GUARDED
    * the way `cosineNearDupPairs` guards its broadcast: cluster sizes
    * are probed (one partial-agg count, ≤ kClusters rows to the
    * driver) and the operator REFUSES loudly when any cluster exceeds
    * `maxClusterSize`, naming the mitigations (raise `kClusters` so
    * clusters stay bounded — 10k-100k at corpus scale — or pre-split
    * hot clusters, the `semanticDedup` guard pattern) instead of
    * silently running a quadratic that will not finish.
    */
  def contrastiveMineClustered(emb: DataFrame, kPos: Int, kNeg: Int,
                               posThreshold: Double, kClusters: Int,
                               iters: Int, idCol: String = "vec_id",
                               embCol: String = "embedding",
                               deterministic: Boolean = false,
                               maxClusterSize: Long = 100000L): DataFrame = scoped {
    require(kPos >= 0 && kNeg >= 0 && (kPos > 0 || kNeg > 0),
      s"contrastiveMineClustered: kPos=$kPos kNeg=$kNeg")
    require(maxClusterSize > 0,
      s"contrastiveMineClustered: maxClusterSize=$maxClusterSize")
    val cents = kMeansCentroids(emb, kClusters, iters, idCol, embCol,
      deterministic)
    // materialized: the frame feeds the guard count AND both sides of
    // the self-join — unpinned, each would re-scan the corpus and
    // re-run the k x dim assignment fold. It escapes with the lazy
    // result.
    val assigned = materialize(
      emb.select(col(idCol).as("id"), col(embCol).as("emb"))
        .where(wellFormed(col("emb")))
        .select(col("id"), col("emb"), norm(col("emb")).as("nrm"),
          assignExpr(col("emb"), cents).as("cluster")))
    val fat = assigned.groupBy("cluster").count()
      .where(col("count") > maxClusterSize)
      .select(col("cluster"), col("count")).collect() // <= kClusters rows
    require(fat.isEmpty,
      s"contrastiveMineClustered: ${fat.length} cluster(s) exceed " +
        s"maxClusterSize=$maxClusterSize (largest=${
          if (fat.isEmpty) 0L else fat.map(_.getLong(1)).max}) — the " +
        "within-cluster mining join is quadratic in the cluster size. " +
        "Raise kClusters so clusters stay bounded, or pre-split hot " +
        "clusters (the semanticDedup oversized-cluster guard pattern) " +
        "before mining")
    val scored = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.id") =!= col("b.id"))
      .withColumn("cos", normedCosine(col("a.emb"), col("b.emb"),
        col("a.nrm"), col("b.nrm")))
      .select(col("a.id").as("probe_id"), col("b.id").as("nbr_id"),
        col("cos"))
    mineRanks(scored, kPos, kNeg, posThreshold)
  }

  /** All-tables banding column: `graft.functions.HyperplaneBuckets` —
    * ONE codegen'd expression computing every (table, bucket) value from
    * a driver-precomputed ±1 sign matrix (splitmix64-derived, stateless,
    * Charikar 2002 sign rounding). The composed predecessors (interpreted
    * zip_with HOFs in round 4, then nTables×nBits dot-against-literal
    * columns) were numerically identical but paid plan-compile/codegen
    * cost linear in nTables×nBits — measured ~19 s fixed cost per query
    * at nTables=8/nBits=16 before this collapsed the plan to one node.
    * Table t's seed is `seedBase + t`. */
  private def bucketsExpr(emb: Column, dim: Int, nBits: Int, nTables: Int,
                          seedBase: Int): Column =
    graft.functions.VectorExpressions.lshBuckets(emb, dim, nBits, nTables,
      seedBase)

  /** LSH-bucketed approximate top-k: candidates = corpus vectors sharing
    * the probe's bucket in ANY of `nTables` independent hash tables, then
    * exact cosine re-rank. Output schema matches `bruteForceTopK`.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nBits: Int = 8, nTables: Int = 4,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame =
    probeDimOpt(corpus, embCol) match {
      // empty/all-null corpus: no dimension and no possible neighbors —
      // empty result, same schema
      case None => corpus.select(col(idCol).as("probe_id"),
        lit(0).as("rank"), col(idCol).as("nbr_id"),
        lit(0.0).as("cos")).limit(0)
      case Some(dim) => lshTopKImpl(corpus, probes, k, nBits, nTables,
        idCol, embCol, dim)
    }

  private def lshTopKImpl(corpus: DataFrame, probes: DataFrame, k: Int,
                          nBits: Int, nTables: Int, idCol: String,
                          embCol: String, dim: Int): DataFrame = {
    // all tables' buckets in one projection + posexplode (single corpus
    // scan/bucket pass; see lshNearDupPairs) — the probe side stays tiny
    // and is broadcast; norms computed once per vector, before the fan-out
    def banded(df: DataFrame, side: String, outId: String): DataFrame =
      df.select(col(idCol).as(outId), col(embCol).as(s"${side}_emb"),
        norm(col(embCol)).as(s"${side}_nrm"),
        posexplode(bucketsExpr(col(embCol), dim, nBits, nTables,
          seedBase = 1000)).as(Seq("table", "bucket")))
    val cand = banded(corpus, "c", "nbr_id")
      .join(broadcast(banded(probes, "p", "probe_id")),
        Seq("table", "bucket"))
      .drop("table", "bucket")
      .where(col("nbr_id") =!= col("probe_id"))
      .dropDuplicates("probe_id", "nbr_id")
      .withColumn("cos", normedCosine(col("c_emb"), col("p_emb"),
        col("c_nrm"), col("p_nrm")))
    cosTopK(cand, k, "cos")
  }

  /** LSH-bucketed near-duplicate pairs — the beyond-broadcast scale path
    * for `cosineNearDupPairs`: candidates are pairs sharing a bucket in
    * ANY of `nTables` independent random-hyperplane bucketings (skinny
    * (id, bucket) rows through the [[graft.exec.Exec.keyGroups]] pair
    * generator keyed on (table, bucket)), verified with an exact
    * cosine at the end. Precision is exact; recall grows with nTables and
    * shrinks with nBits (higher-cosine pairs collide with probability
    * (1 - θ/π)^nBits per table, θ the angle).
    */
  def lshNearDupPairs(emb: DataFrame, threshold: Double,
                      nBits: Int = 8, nTables: Int = 4,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    val slim = emb.select(col(idCol).as("id"), col(embCol).as("emb"))
    // one null-skipping probe job covers both the empty/all-null-corpus
    // case and the dimension (null-embedding rows can never pair anyway —
    // HyperplaneBuckets maps them to a null bucket array and posexplode
    // drops them)
    probeDimOpt(slim, "emb") match {
      case None => slim.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).limit(0)
      case Some(dim) => lshNearDupPairsImpl(slim, dim, threshold, nBits,
        nTables)
    }
  }

  private def lshNearDupPairsImpl(slim: DataFrame, dim: Int,
                                  threshold: Double,
                                  nBits: Int, nTables: Int): DataFrame = {
    // ALL tables' buckets in one projection, exploded to skinny
    // (id, table, bucket) rows — a per-table union of self-joins re-scans
    // and re-buckets the corpus 2*nTables times (measured 34 scans in the
    // executed plan at nTables=16); the generator form pays one scan and
    // one bucket evaluation per row, and the pair generator keys the
    // band self-join on (table, bucket) — the same shape as simhash
    // banding.
    val band = Seq("table", "bucket")
    val banded = slim.select(col("id"),
      posexplode(bucketsExpr(col("emb"), dim, nBits, nTables,
        seedBase = 2000)).as(band))
    val cand = keyPairs(keyGroups(banded, band, "id"), band, "id")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifiedPairs(cand,
      slim.select(col("id"), col("emb"), norm(col("emb")).as("nrm")),
      threshold)
  }

  /** Johnson-Lindenstrauss random sign projection (Achlioptas 2003's
    * ±1 database-friendly variant): y_j = (Σ_i s_ij·x_i) / √outDim for
    * a deterministic splitmix64-derived ±1 sign matrix — the
    * dimensionality-reduction stage that makes every downstream
    * distance computation (brute-force rerank, k-means assignment,
    * bucketing) outDim/dim cheaper in flops AND bytes at a distortion
    * that concentrates like 1/√outDim, independent of the source
    * dimension (the JL lemma). Exact copies keep exactly equal
    * projections, so the dedup family's true-duplicate recall survives
    * the reduction by construction.
    *
    * Determinism: signs are a pure function of (seed, i, j) — the
    * HyperplaneBuckets formula, inlined by the SQL oracle as literals;
    * each y_j is one codegen'd `DotProductF32` ascending-index fold
    * (±1·x_i products are exact sign flips) and the √outDim division is
    * a single correctly-rounded op per element (exact when outDim is an
    * even power of two), so the raw projected doubles sit under the
    * hash oracle. Plan size is linear in outDim (one fused dot per
    * output dimension — the centroidRanking posture), constant in the
    * corpus.
    *
    * Rows are pinned to the probed dimension (a dim-mismatched vector
    * has no meaningful projection); degenerate embeddings are excluded
    * as everywhere in the family. Returns (id-named-as-input,
    * proj: array<double> of length outDim).
    */
  def randomProject(emb: DataFrame, outDim: Int, seed: Int = 7,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && outDim <= 1024,
      s"randomProject: outDim=$outDim out of [1, 1024]")
    val dim = probeDim(emb.where(wellFormed(col(embCol))), embCol)
    val rows = rpSigns(dim, outDim, seed)
    val scale = math.sqrt(outDim.toDouble)
    val projected = array((0 until outDim).map(j =>
      (graft.functions.VectorExpressions.dotF32(col(embCol),
        typedlit(rows(j).toSeq)) / lit(scale)).as(s"p$j")): _*)
    emb.where(wellFormed(col(embCol), dim))
      .select(col(idCol), projected.as("proj"))
  }

  /** The RP sign matrix, row j = the outDim-th projection's ±1 signs —
    * one definition shared by the operator and the oracle generator
    * (which inlines it as SQL literals), so they can never disagree.
    * Same splitmix64 finalizer as HyperplaneBuckets, table = j. */
  private[graft] def rpSigns(dim: Int, outDim: Int,
                             seed: Int): Array[Array[Float]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      var z = (seed.toLong << 42) + (j.toLong << 21) + i.toLong +
        0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
    }

  /** Trained PCA model: population mean, top-k principal axes (rows of
    * `components`, each a unit vector of length `dim`) and their
    * eigenvalues, from [[pcaTrain]]. */
  case class PcaModel(dim: Int, n: Long, mean: Array[Double],
                      components: Array[Array[Double]],
                      eigenvalues: Array[Double])

  /** PCA — the DATA-DEPENDENT counterpart of [[randomProject]]: top-k
    * eigenvectors of the population covariance, the standard embedding
    * post-processing step (dimension reduction, whitening, the
    * all-but-the-top anisotropy correction) of a training-data
    * pipeline.
    *
    * Split of labor, sized for 100 TB:
    *  - DISTRIBUTED: per-dimension sums (mean) and upper-triangle
    *    second-moment sums — one in-row pair generator (sequence-based,
    *    d(d+1)/2 structs per row, NO self-join) feeding one hash
    *    aggregate whose map-side combine collapses every task to d²/2
    *    cells before the shuffle; shuffle volume is tasks·d²/2,
    *    independent of N.
    *  - DRIVER: exactly d²/2 + d doubles collected (the documented
    *    bounded-collect pattern), covariance assembly, `powerIters`
    *    rounds of power iteration per component with deflation between
    *    components (Golub & Van Loan §8.2) — O(k·powerIters·d²) flops
    *    on d×d state, far below any executor's work.
    *
    * Determinism: `deterministic = true` folds mean and moment sums in
    * ascending-vec_id order (sorted-collect; per-cell cost linear in N —
    * the repro/oracle mode, production uses plain partial sums); every
    * driver-side reduction (matvec rows, norms, Rayleigh quotient,
    * deflation) runs in ascending index order with the exact IEEE op
    * sequence the generated oracle replays relationally, so loadings
    * and eigenvalues hash-match. The all-ones/√d start vector is fixed;
    * power iteration from a fixed positive start pins the sign.
    *
    * The fixed `powerIters` is the same contract as fixed-iteration
    * PageRank: a repro-able spec pin; production callers raise it (or
    * iterate to a drift tolerance outside) — each round is driver-local
    * flops, not cluster work, so over-iterating costs microseconds. */
  def pcaTrain(emb: DataFrame, k: Int, powerIters: Int,
               deterministic: Boolean = false,
               idCol: String = "vec_id",
               embCol: String = "embedding"): PcaModel = {
    require(k >= 1 && k <= 64, s"pcaTrain: k=$k out of [1, 64]")
    require(powerIters >= 1 && powerIters <= 100,
      s"pcaTrain: powerIters=$powerIters out of [1, 100]")
    val dim = probeDim(emb.where(wellFormed(col(embCol))), embCol)
    require(k <= dim, s"pcaTrain: k=$k > dim=$dim")
    val slim = emb
      .where(wellFormed(col(embCol), dim))
      .select(col(idCol).cast("long").as("id"), col(embCol).as("e"))
    val nPairs = dim * (dim + 1) / 2
    // (n, mean sums, upper-triangle moment sums) — two strategies with
    // identical per-element arithmetic, different summation order:
    val (n, meanSums, momSums) = if (deterministic) {
      // repro/oracle mode: relational ascending-vec_id folds (per-cell
      // cost linear in N — the bit-reproducibility price)
      val cells = slim
        .select(col("id"), posexplode(col("e")).as(Seq("pos", "xf")))
        .select(col("id"), col("pos"), col("xf").cast("double").as("x"))
      val meanRows = sequentialSumByKey(cells, Seq("pos"), "id", "x")
        .select(col("pos"), col("__sum"), col("__count")).collect()
      require(meanRows.nonEmpty, "pcaTrain: no well-formed vectors")
      val ms = new Array[Double](dim)
      meanRows.foreach(r => ms(r.getInt(0)) = r.getDouble(1))
      // upper-triangle products generated IN ROW (a <= b), 0-based pos
      val pairs = slim.select(col("id"), explode(flatten(
          transform(sequence(lit(0), lit(dim - 1)), a =>
            transform(sequence(a, lit(dim - 1)), b =>
              struct(a.as("a"), b.as("b"),
                (element_at(col("e"), a + 1).cast("double") *
                  element_at(col("e"), b + 1).cast("double"))
                  .as("p")))))).as("s"))
        .select(col("id"), col("s.a").as("a"), col("s.b").as("b"),
          col("s.p").as("p"))
      val ss = new Array[Double](nPairs)
      sequentialSumByKey(pairs, Seq("a", "b"), "id", "p")
        .select(col("a"), col("b"), col("__sum")).collect()
        .foreach { r =>
          val a = r.getInt(0); val b = r.getInt(1)
          // upper-triangle linear index for row a, column b >= a
          ss(a * dim - a * (a - 1) / 2 + (b - a)) = r.getDouble(2)
        }
      (meanRows.head.getLong(2), ms, ss)
    } else {
      // production mode: ONE pass, per-partition Gram accumulation in
      // a flat double array (the documented per-partition-imperative
      // case — a 2080-column relational aggregate measured 55x slower
      // and the exploded-pair generator 150x at 100k×64), reduced as
      // elementwise adds of (d²/2 + d + 1)-sized arrays; depth-2 tree
      // keeps the driver's merge fan-in bounded at cluster scale
      val sp = emb.sparkSession
      import sp.implicits._
      val accs = slim.select(col("e")).as[Array[Float]]
        .mapPartitions { it =>
          val acc = new Array[Double](nPairs + dim + 1)
          it.foreach { v =>
            var idx = 0; var a = 0
            while (a < dim) {
              val xa = v(a).toDouble
              acc(nPairs + a) += xa
              var b = a
              while (b < dim) { acc(idx) += xa * v(b).toDouble
                idx += 1; b += 1 }
              a += 1
            }
            acc(nPairs + dim) += 1.0
          }
          Iterator.single(acc)
        }
      // treeAggregate with a zero accumulator: an emptiness pre-check
      // (isEmpty = take(1)) would force partition 0's ENTIRE Gram pass
      // just to throw the result away; with a zero value the empty
      // case simply yields n = 0, caught by the require below
      val zero = new Array[Double](nPairs + dim + 1)
      def add(x: Array[Double], y: Array[Double]): Array[Double] = {
        val z = new Array[Double](x.length)
        var i = 0
        while (i < x.length) { z(i) = x(i) + y(i); i += 1 }
        z
      }
      val acc = accs.rdd.treeAggregate(zero)(add, add, depth = 2)
      (acc(nPairs + dim).toLong, acc.slice(nPairs, nPairs + dim),
        acc.take(nPairs))
    }
    require(n > 0, "pcaTrain: no well-formed vectors")
    val nD = n.toDouble
    val mean = meanSums.map(_ / nD)
    val c = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (a <- 0 until dim; b <- a until dim) {
      // s/n − μ_a·μ_b, the exact expression the oracle states; the
      // mirrored cell COPIES the value (IEEE · is commutative anyway)
      val v = momSums(idx) / nD - mean(a) * mean(b)
      c(a)(b) = v; c(b)(a) = v
      idx += 1
    }
    val comps = Array.ofDim[Double](k, dim)
    val eigs = new Array[Double](k)
    def matvec(m: Array[Array[Double]], v: Array[Double]) =
      Array.tabulate(dim) { a =>
        var acc = 0.0; var b = 0
        while (b < dim) { acc += m(a)(b) * v(b); b += 1 }
        acc
      }
    def dotAsc(x: Array[Double], y: Array[Double]) = {
      var acc = 0.0; var j = 0
      while (j < dim) { acc += x(j) * y(j); j += 1 }
      acc
    }
    for (comp <- 0 until k) {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 1 to powerIters) {
        val w = matvec(c, v)
        val nrm = math.sqrt(dotAsc(w, w))
        require(nrm > 0.0,
          s"pcaTrain: power iteration collapsed at component ${comp + 1}" +
            " (rank-deficient covariance); lower k")
        v = w.map(_ / nrm)
      }
      val wl = matvec(c, v)
      val lam = dotAsc(v, wl)
      comps(comp) = v; eigs(comp) = lam
      // deflate: C ← C − λ·v·vᵀ, left-assoc λ·v_a·v_b like the oracle
      for (a <- 0 until dim; b <- 0 until dim)
        c(a)(b) = c(a)(b) - lam * v(a) * v(b)
    }
    PcaModel(dim, n, mean, comps, eigs)
  }

  /** [[pcaTrain]]'s model as a frame: one row per (comp 1-based,
    * pos 0-based) with the loading and the component's eigenvalue. */
  def pcaComponents(emb: DataFrame, k: Int, powerIters: Int,
                    deterministic: Boolean = false,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = pcaTrain(emb, k, powerIters, deterministic, idCol, embCol)
    (for (comp <- 0 until k; pos <- 0 until m.dim)
      yield (comp + 1, pos, m.components(comp)(pos), m.eigenvalues(comp)))
      .toDF("comp", "pos", "loading", "eigenvalue")
  }

  /** Project embeddings onto a trained [[PcaModel]]: score_c =
    * Σ_j (x_j − μ_j)·v_cj as ONE literal-unrolled left-associated
    * chain per component — the [[randomProject]] plan shape (k fused
    * expressions, constant in the corpus; no join against a component
    * table, which would generate d rows per vector and shuffle them).
    * `whiten = true` divides each score by √λ_c (unit-variance
    * coordinates — the PCA-whitening the anisotropy-correction papers
    * use): one more correctly-rounded IEEE division per score, the
    * divisor computed driver-side by the same `math.sqrt` the oracle's
    * `sqrt` applies to the identical eigenvalue. Rows are pinned to
    * the model's dim. Output: (idCol, proj_1..k). */
  def pcaProject(emb: DataFrame, model: PcaModel,
                 idCol: String = "vec_id",
                 embCol: String = "embedding",
                 whiten: Boolean = false): DataFrame = {
    if (whiten) model.eigenvalues.foreach(l => require(l > 0.0,
      s"pcaProject: whitening needs positive eigenvalues, got $l"))
    val projs = model.components.zipWithIndex.map { case (v, ci) =>
      val raw = (0 until model.dim).map { j =>
        (element_at(col(embCol), j + 1).cast("double") -
          lit(model.mean(j))) * lit(v(j))
      }.reduceLeft(_ + _)
      (if (whiten) raw / lit(math.sqrt(model.eigenvalues(ci))) else raw)
        .as(s"proj_${ci + 1}")
    }
    emb.where(wellFormed(col(embCol), model.dim))
      .select(col(idCol) +: projs.toSeq: _*)
  }

  /** Persist a [[PcaModel]] as a write-once serving artifact —
    * `components/` (comp, pos, loading, eigenvalue), `mean/`
    * (pos, m), `meta/` (k, dim, n), committed by
    * [[graft.exec.Artifact.persist]] so a reader can never see a torn or
    * mixed-generation model (the whole artifact is k·d + d + 3 values —
    * driver-sized). Fit once on the bounded train slice, apply per
    * ingest batch forever. */
  def persistPcaModel(emb: DataFrame, path: String, k: Int,
                      powerIters: Int, deterministic: Boolean = false,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): PcaModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = pcaTrain(emb, k, powerIters, deterministic, idCol, embCol)
    Artifact.persist(spark, path,
        Seq((k, m.dim, m.n)).toDF("k", "dim", "n")) {
      (for (c <- 0 until k; p <- 0 until m.dim)
        yield (c + 1, p, m.components(c)(p), m.eigenvalues(c)))
        .toDF("comp", "pos", "loading", "eigenvalue")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/components")
      m.mean.zipWithIndex.map { case (v, p) => (p, v) }.toSeq
        .toDF("pos", "m")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/mean")
    }
    m
  }

  /** Load a [[persistPcaModel]] artifact (refusing uncommitted/torn
    * ones loudly) — parquet round-trips the doubles bit-exactly, so a
    * served projection equals the in-session one. */
  def readPcaModel(spark: org.apache.spark.sql.SparkSession,
                   path: String): PcaModel = {
    Artifact.requireCommitted(spark, path, "pca model")
    val meta = Artifact.readMeta(spark, path)
    val (k, dim, n) = (meta.getInt(0), meta.getInt(1), meta.getLong(2))
    val mean = new Array[Double](dim)
    val meanRows = spark.read.parquet(s"$path/mean").collect()
    require(meanRows.length == dim,
      s"pca model at $path: expected $dim mean rows, got " +
        s"${meanRows.length} — torn model")
    meanRows.foreach(r => mean(r.getInt(0)) = r.getDouble(1))
    val comps = Array.ofDim[Double](k, dim)
    val eigs = new Array[Double](k)
    val rows = spark.read.parquet(s"$path/components").collect()
    require(rows.length == k * dim,
      s"pca model at $path: expected ${k * dim} loading rows, got " +
        s"${rows.length} — torn model")
    rows.foreach { r =>
      comps(r.getInt(0) - 1)(r.getInt(1)) = r.getDouble(2)
      eigs(r.getInt(0) - 1) = r.getDouble(3)
    }
    PcaModel(dim, n, mean, comps, eigs)
  }

  /** Chunk→document mean pooling: the standard way a long document
    * gets ONE embedding from its chunk embeddings (average per
    * dimension over the group). One skinny (group, pos, x) shuffle +
    * hash aggregate, array reassembled per group — never a whole-group
    * vector collect. Repro mode folds each (group, pos) cell in
    * ascending-id order (the oracle's `list_sum(list(x ORDER BY ...))`
    * shape); production uses plain partial sums. Degenerate rows
    * (null / dim-mismatched vs the probed dim) are excluded before
    * pooling, like the rest of the family. Output: (group-named-as-
    * input, n_chunks, embedding array<double>). */
  def meanPoolEmbeddings(chunks: DataFrame, group: Column,
                         deterministic: Boolean = false,
                         idCol: String = "vec_id",
                         embCol: String = "embedding"): DataFrame = {
    val dim = probeDim(chunks.where(wellFormed(col(embCol))), embCol)
    val gname = chunks.select(group).columns.head
    val cells = chunks
      .where(wellFormed(col(embCol), dim))
      .select(group.as("__g"), col(idCol).cast("long").as("id"),
        posexplode(col(embCol)).as(Seq("pos", "xf")))
      .select(col("__g"), col("id"), col("pos"),
        col("xf").cast("double").as("x"))
    val per = (if (deterministic)
        sequentialSumByKey(cells, Seq("__g", "pos"), "id", "x")
      else cells.groupBy("__g", "pos")
        .agg(count(lit(1)).as("__count"), sum(col("x")).as("__sum")))
      .select(col("__g"), col("pos"),
        (col("__sum") / col("__count").cast("double")).as("m"),
        col("__count"))
    per.groupBy("__g")
      .agg(max(col("__count")).as("n_chunks"),
        collect_list(struct(col("pos"), col("m"))).as("xs"))
      .select(col("__g").as(gname), col("n_chunks"),
        transform(array_sort(col("xs")), s => s.getField("m"))
          .as("embedding"))
  }

  /** IVF (inverted-file) approximate top-k — the second standard ANN
    * scale path next to lshTopK: a coarse quantizer (k-means centroids
    * trained driver-side on a broadcastable sample, deterministic init +
    * fixed Lloyd iterations), corpus assigned once to its nearest
    * centroid ("inverted lists"), probes search only the nProbe nearest
    * lists with exact cosine re-rank inside.
    *
    * Scale: assignment is one codegen'd projection (nCentroids dot
    * products per row); the search join is an equi-join on centroid id —
    * each inverted list scanned only for probes routed to it. Search
    * cost ≈ nProbe/nCentroids of brute force. Recall depends on the
    * corpus actually clustering; with nProbe = nCentroids the operator
    * degenerates to exact brute force (the property the spec pins).
    */
  /** ivfTopK's built-in coarse quantizer: Lloyd's algorithm run
    * driver-side on a deterministic 4096-row sample —
    * `CentroidScan.lloyd` over the sample in hash order, each point
    * assigned by `CentroidScan.scan`, the argmax `NearestCentroid` runs
    * per corpus row.
    *
    * Sample ordered by xxhash64(id), NOT by id: the id-prefix is a biased
    * sample whenever content correlates with ingest order (it always does
    * at scale — crawl batches, per-source shards); hashing gives a
    * deterministic UNIFORM draw with the same reproducibility.
    *
    * Degenerate rows are excluded from TRAINING like every other trainer
    * in the family (pqTrain/kMeansTrain/sqTrain filter before collecting)
    * — a null or short vector in the sample would NPE/AIOOBE the
    * driver-side Lloyd loop. The canonical dim is the `probeDim` rule
    * (first well-formed row in corpus scan order), matching kMeans — NOT
    * the hash-ordered sample's first element, whose outlier sensitivity
    * was the r11 finding: a dim-mismatched row landing first in hash
    * order filtered the whole sample down to outlier-dim rows. The
    * family convention remains first-ROW-wins, so a corpus whose very
    * first scanned row is the outlier still canonicalizes to its dim —
    * mixed-dim corpora should be dim-filtered upstream; the rule here
    * only guarantees ivfTopK and kMeans pick the SAME dim for the same
    * input. */
  private[graft] def ivfSampleCentroids(corpus: DataFrame, idCol: String,
                                        embCol: String, nCentroids: Int,
                                        iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = probeDim(corpus.where(wellFormed(col(embCol))), embCol)
    val sample = corpus
      .where(wellFormed(col(embCol), dim))
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .sort(xxhash64(col(idCol)), col(idCol)).limit(4096).collect()
    require(sample.nonEmpty, "empty corpus")
    val step = math.max(1, sample.length / nCentroids)
    val seeds = (0 until math.min(nCentroids, sample.length))
      .map(i => sample((i * step) % sample.length)._2.map(_.toDouble))
      .toArray
    val vecs = sample.map(_._2)
    CentroidScan.lloyd(vecs, 0, dim, seeds, iters) { cs =>
      val flat = CentroidScan.flatten(cs, "ivfSampleCentroids")
      val cNorms = CentroidScan.norms(cs)
      p => CentroidScan.scan(vecs(p), flat, cNorms, cs.length, dim)._1
    }
  }

  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5,
              idCol: String = "vec_id",
              embCol: String = "embedding",
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // ---- coarse quantizer: caller-provided (e.g. a full-corpus `kMeans`
    // when the corpus has structure a sample misses), else trained
    // driver-side on a deterministic sample (ivfSampleCentroids) ----
    val cents: Array[Array[Double]] =
      centroids.getOrElse(
        ivfSampleCentroids(corpus, idCol, embCol, nCentroids, iters))
    // ---- expression-level assignment: centroids ranked per row by
    // (negated) dot/|c| — cosine ordering without the per-row norm ----
    val ranked = centroidRanking(col(embCol), cents)
    val cAssigned = corpus.withColumn("__ranked", ranked)
      .withColumn("cid", col("__ranked")(0).getField("cid"))
      .select(col(idCol).as("nbr_id"), col(embCol).as("c_emb"),
        norm(col(embCol)).as("c_nrm"), col("cid"))
    val pAssigned = probes.withColumn("__ranked", ranked)
      .withColumn("cid", explode(transform(
        slice(col("__ranked"), 1, nProbe), s => s.getField("cid"))))
      .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
        norm(col(embCol)).as("p_nrm"), col("cid"))
    val scored = cAssigned.join(broadcast(pAssigned), Seq("cid"))
      .where(col("nbr_id") =!= col("probe_id"))
      .withColumn("cos", normedCosine(col("c_emb"), col("p_emb"),
        col("c_nrm"), col("p_nrm")))
    cosTopK(scored, k, "cos")
  }

  /** Full centroid ranking per row as a sorted struct array
    * ((negScore, cid), ascending — ties to the lower cid): element 0 is
    * the nearest centroid, a `slice(_, 1, nProbe)` the probe routing
    * set. Rank key is dot/|c|, cosine-ordered without the per-row norm.
    * Shared by `ivfTopK` and `Pq.ivfPqTopK`; plan size is linear in the
    * centroid count — fine for coarse quantizers (≤ a few hundred), use
    * the fused `NearestCentroid` when only the argmax is needed. */
  private[operators] def centroidRanking(emb: Column,
                                         cents: Array[Array[Double]])
      : Column =
    array_sort(array(cents.zipWithIndex.map { case (cv, ci) =>
      val cNorm = CentroidScan.norm(cv)
      val score = graft.functions.VectorExpressions.dotF32(
        emb, typedlit(cv.map(_.toFloat))) /
        lit(if (cNorm == 0.0) 1.0 else cNorm)
      struct((score * lit(-1.0)).as("negScore"), lit(ci).as("cid"))
    }.toIndexedSeq: _*))

  /** Distributed k-means over an embedding column (cosine geometry) —
    * Lloyd's algorithm with the standard Spark division of labor: the
    * ASSIGNMENT pass is a single codegen'd projection over the full
    * corpus (k dot products per row against broadcast centroid
    * literals), the UPDATE pass is one partial-aggregating groupBy of
    * the posexploded (cluster, dim) cells, and only the k×dim centroid
    * matrix ever reaches the driver. This is the full-corpus trainer
    * behind semantic dedup at scale (cluster first, then near-dup only
    * within clusters — the SemDeDup shape) and a better coarse
    * quantizer for `ivfTopK` than its built-in 4096-row sample when the
    * corpus has structure the sample misses; pass the result via
    * `ivfTopK(centroids = ...)`.
    *
    * Determinism: seeds are the `k` rows first in `(md5(id), id)` order
    * — a uniform, engine-reproducible draw (same trick as
    * `q_sample_hash`); cluster j is the j-th seed, ties broken toward
    * the lower cluster id, zero-norm vectors pinned to cosine -2 so
    * they land in cluster 0 on every engine. With
    * `deterministic = true` the centroid mean is computed as a
    * SEQUENTIAL id-ordered fold (collect_list → array_sort → aggregate)
    * so every low-order bit matches a sequential engine — that is the
    * oracle/repro mode, and it holds whole clusters' cells in memory
    * per group. The default keeps the scale-correct partial-agg `avg`,
    * whose float rounding depends on merge order; the spec pins that
    * both modes produce identical ASSIGNMENTS.
    *
    * `iters` counts centroid updates; the result is the assignment
    * under the FINAL centroids. Empty clusters keep their previous
    * centroid; a corpus smaller than `k` shrinks the centroid count to
    * the row count (the spec pins both). Degenerate embeddings (null, or
    * carrying null elements — see `wellFormed`) are excluded from
    * training and assignment alike. Returns (id-named-as-input,
    * cluster).
    */
  def kMeans(emb: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", embCol: String = "embedding",
             deterministic: Boolean = false,
             tol: Double = 0.0,
             seeding: KMeansSeeding = KMeansSeeding.HashOrder): DataFrame = {
    val cents = kMeansCentroids(emb, k, iters, idCol, embCol, deterministic,
      tol, seeding)
    // degenerate (null / null-element) embeddings have no meaningful
    // nearest centroid — excluded here exactly as they are from training
    // (and from the oracle's base CTE)
    emb.where(wellFormed(col(embCol)))
      .select(col(idCol), assignExpr(col(embCol), cents).as("cluster"))
  }

  /** Seeding strategies for `kMeansCentroids`:
    *
    *  - `HashOrder` (default, the oracle mode): the `k` rows first in
    *    `(md5(id), id)` order — a uniform engine-reproducible draw, but
    *    seeds can land arbitrarily close together, and close seeds are
    *    what Lloyd then spends rounds pulling apart.
    *  - `FarthestPoint`: `CentroidScan.greedy` with unit weights
    *    (farthest-first traversal, the deterministic k-center cousin of
    *    k-means++: the ++ D² SAMPLING step is replaced by an argmax so
    *    no RNG enters the result) over the first 4096 rows in
    *    `(md5(id), id)` order; seed 0 is that order's first row. Spread
    *    seeds converge in fewer Lloyd rounds (the BASELINE 100k probe
    *    measures it) — at 100× scale wasted rounds ARE the k-means cost.
    *  - `Parallel(l, rounds)`: k-means‖ (Bahmani et al., "Scalable
    *    K-Means++", VLDB 2012) — the DISTRIBUTED seeding for k beyond
    *    what a driver sample can carry. FarthestPoint picks from a
    *    4096-row sample, so it cannot produce more than 4096 distinct
    *    seeds and sees none of the corpus structure outside the sample;
    *    the Scaladoc of `semanticDedup` recommends kClusters 10k-100k
    *    at corpus scale, which only this mode can seed. Each of
    *    `rounds` passes oversamples ~`l` candidates (default 2k)
    *    cost-weighted by `1 - bestCos` against the candidates so far —
    *    poorly-covered regions draw more seeds — then one assignment
    *    pass weights every candidate by its covered-point count and
    *    `CentroidScan.greedy` with those weights (the argmax cousin of
    *    weighted k-means++, the same greedy as FarthestPoint) reduces
    *    the ~`rounds·l` candidates to `k` on the driver. All randomness
    *    is the engine-standard hash draw (`md5(id:round)` mapped to
    *    [0,1)), so the result is a pure function of the corpus —
    *    reproducible across runs and cluster layouts. Driver state is
    *    O(rounds·l·dim), the same envelope as the k×dim centroid matrix
    *    it exists to initialize. Fewer than `k` candidates train fewer
    *    clusters only when the draw covered every point or the corpus
    *    has fewer than `k` rows; otherwise it fails naming `l`, `rounds`
    *    and `k` (raise `l` or `rounds`).
    */
  sealed trait KMeansSeeding
  object KMeansSeeding {
    case object HashOrder extends KMeansSeeding
    case object FarthestPoint extends KMeansSeeding
    /** `l` = expected candidates drawn per round (0 → `2·k`);
      * `rounds` = oversampling passes (Bahmani: O(log φ₀), ~5 in
      * practice). */
    final case class Parallel(l: Int = 0, rounds: Int = 5)
        extends KMeansSeeding
  }

  /** Centroids + the number of Lloyd rounds actually run (< `iters`
    * when `tol` stopped early) — the probe-facing result shape. */
  final case class KMeansResult(centroids: Array[Array[Double]],
                                rounds: Int)

  /** The trained centroid matrix from `kMeans` (driver-side, k×dim) —
    * feed it to `ivfTopK(centroids = ...)` to replace the sample-trained
    * coarse quantizer with the full-corpus one.
    *
    * `tol` > 0 enables EARLY STOP: Lloyd ends as soon as the max
    * Euclidean centroid drift of a round falls below it — at a fixed
    * point (assignments repeated, drift exactly 0) further rounds
    * cannot change anything, so stopping is free; the spec pins that
    * equivalence. The k×dim drift check is driver-side arithmetic on
    * state the update step already collects — zero extra jobs. The
    * default `tol = 0.0` never stops early, keeping the round count a
    * pure function of `iters` (the oracle/repro contract
    * `q_embed_kmeans` hash-pins). Production runs want
    * `tol ~ 1e-6 · |centroid|` with `iters` as the backstop. */
  def kMeansCentroids(emb: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      embCol: String = "embedding",
                      deterministic: Boolean = false,
                      tol: Double = 0.0,
                      seeding: KMeansSeeding = KMeansSeeding.HashOrder)
      : Array[Array[Double]] =
    kMeansTrain(emb, k, iters, idCol, embCol, deterministic, tol, seeding)
      .centroids

  /** `kMeansCentroids` plus the executed round count. */
  def kMeansTrain(emb: DataFrame, k: Int, iters: Int,
                  idCol: String = "vec_id",
                  embCol: String = "embedding",
                  deterministic: Boolean = false,
                  tol: Double = 0.0,
                  seeding: KMeansSeeding = KMeansSeeding.HashOrder)
      : KMeansResult = scoped {
    require(k > 0 && iters >= 0, s"kMeans: k=$k, iters=$iters")
    // dim-consistency is enforced BEFORE seeding: a dim-mismatched
    // vector picked as a seed would hand NearestCentroid a mixed-dim
    // centroid set (construction throws), and in the update pass its
    // posexploded cells would resize or contaminate cluster 0's mean.
    // The canonical dim is the first well-formed row's (probeDim).
    val dim = probeDim(emb.where(wellFormed(col(embCol))), embCol)
    // materialized ONCE per training run: the seeding pass plus every
    // Lloyd round is its own action (centroids are driver-side state),
    // so a lazy frame re-runs the scan + well-formed filter once per
    // round (r13; the perceptronTrain r12 lesson — at cluster scale
    // this is `iters` full corpus re-reads for a frame that fits a
    // checkpoint). Released on return: only driver-side centroid
    // arrays leave this method.
    val slim = materialize(
      emb.select(col(idCol).as("id"), col(embCol).as("emb"))
        .where(wellFormed(col("emb"), dim)))
    val seeds = seeding match {
      case KMeansSeeding.HashOrder => hashOrderHead(slim, k)
      case KMeansSeeding.FarthestPoint =>
        val sample = hashOrderHead(slim, 4096)
        CentroidScan.greedy(sample, Array.fill(sample.length)(1.0), k)
      case p: KMeansSeeding.Parallel => parallelSeeds(slim, k, p)
    }
    require(seeds.nonEmpty, "kMeans: no non-null embedding rows")
    var cents = seeds
    var r = 0
    var converged = false
    while (r < iters && !converged) {
      // two selects: a generator (posexplode) in the same projection as
      // the struct-array assignment expression makes the analyzer
      // normalize the struct field names away (col1/col2), breaking the
      // getField("cluster") access inside assignExpr
      val cells = slim
        .select(col("id"), col("emb"),
          assignExpr(col("emb"), cents).as("cluster"))
        .select(col("id"), col("cluster"),
          posexplode(col("emb")).as(Seq("i", "x")))
      val means =
        if (deterministic)
          sequentialSumByKey(cells, Seq("cluster", "i"), "id", "x")
            .select(col("cluster"), col("i"),
              (col("__sum") / col("__count")).as("m"))
        else
          cells.groupBy("cluster", "i")
            .agg(avg(col("x").cast("double")).as("m"))
      val byCluster = means.collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
      val next = cents.zipWithIndex.map { case (old, j) =>
        byCluster.getOrElse(j, old)
      }
      if (tol > 0.0) {
        val drift = cents.zip(next).map { case (a, b) =>
          math.sqrt(a.indices.map(i =>
            (a(i) - b(i)) * (a(i) - b(i))).sum)
        }.max
        if (drift < tol) converged = true
      }
      cents = next
      r += 1
    }
    KMeansResult(cents, r)
  }

  /** The first `n` embeddings of `slim` (id, emb) in `(md5(id), id)`
    * order, as doubles — the engine-reproducible uniform draw every
    * seeding mode starts from. */
  private def hashOrderHead(slim: DataFrame, n: Int): Array[Array[Double]] =
    slim.orderBy(md5(col("id").cast("string")), col("id")).limit(n)
      .select(col("emb")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** k-means‖ candidate oversampling + weighted driver reduction (see
    * `KMeansSeeding.Parallel`). Reference shape: Bahmani et al. 2012
    * §3.3, with two engine-standard substitutions — the per-point coin
    * flip is the deterministic hash draw `md5(id:round) → [0,1)`, and
    * the final weighted k-means++ over candidates is its argmax cousin
    * (pick argmax weight·minDist instead of sampling ∝ weight·minDist²),
    * so no RNG enters the result.
    *
    * Cost shape per round: ONE aggregate for the potential
    * φ = Σ (1 - bestCos(x, C)) and ONE filtered collect for the drawn
    * candidates, both through the codegen'd `NearestCentroidScore` —
    * the corpus is scanned O(rounds) times and nothing wider than
    * (id, emb) shuffles. The draw is capped at 8·l rows per round
    * (hash-ordered limit): E[draw] = l, so the cap only fires on
    * pathological cost concentration, where it degrades spread, not
    * correctness. A round whose φ reaches 0 (candidates already cover
    * every point exactly) stops early — further draws cannot fire. */
  private def parallelSeeds(slim: DataFrame, k: Int,
                            cfg: KMeansSeeding.Parallel)
      : Array[Array[Double]] = {
    require(cfg.rounds > 0, s"kMeans‖: rounds=${cfg.rounds}")
    require(cfg.l >= 0, s"kMeans‖: l=${cfg.l}")
    val l = if (cfg.l > 0) cfg.l else 2 * k
    val first = hashOrderHead(slim, 1)
    if (first.isEmpty) return Array.empty
    val cands = scala.collection.mutable.ArrayBuffer(first.head)
    var r = 0
    var covered = false
    while (r < cfg.rounds && !covered) {
      val cost = lit(1.0) - graft.functions.VectorExpressions
        .nearestCentroidScore(col("emb"), cands.toArray)
      val phi = slim.agg(sum(cost)).collect().head.getDouble(0)
      if (phi <= 0.0) covered = true
      else {
        // 60-bit hash → uniform [0,1): first 15 hex digits of
        // md5(id:round) over 2^60
        val u = conv(substring(md5(concat_ws(":",
          col("id").cast("string"), lit(r.toString))), 1, 15), 16, 10)
          .cast("long") / lit(1.152921504606846976e18)
        cands ++= hashOrderHead(
          slim.where(u < lit(l.toDouble) * cost / lit(phi)), 8 * l)
        r += 1
      }
    }
    val candArr = cands.toArray
    // fewer candidates than k is a result only when nothing is left to
    // draw: every point covered, or a corpus of fewer than k rows
    if (candArr.length < k) require(covered || slim.count() < k,
      s"kMeans‖: l=$l over rounds=${cfg.rounds} drew ${candArr.length} " +
        s"candidates, fewer than k=$k; raise l or rounds")
    if (candArr.length <= k) return candArr
    // weight = covered-point count under the full candidate set: one
    // assignment pass, ≤ |cands| rows back to the driver
    val weightRows = slim
      .select(assignExpr(col("emb"), candArr).as("c"))
      .groupBy("c").count().collect()
    val w = new Array[Double](candArr.length)
    weightRows.foreach(row => w(row.getInt(0)) = row.getLong(1).toDouble)
    // deterministic weighted greedy reduction to k seeds
    CentroidScan.greedy(candArr, w, k)
  }

  /** Per-cluster embedding OUTLIER flags — the OOD-pruning readout of
    * the k-means partition (SemDeDup's sibling cleaning step: prune
    * vectors far from every mode of the corpus): assign each vector to
    * its nearest centroid, read its cosine to that centroid off the
    * same fused scan (`NearestCentroidScore` is the max-value half of
    * `NearestCentroid`'s argmax — one codegen'd projection computes
    * both), and flag the bottom `num/den` fraction of each cluster by
    * that cosine. The flag is the EXACT integer comparison
    * r·den <= n·num (rank and cluster size from one cluster-keyed
    * window exchange) — no float threshold, so the whole row including
    * the raw cosine sits under the hash oracle.
    *
    * Rows are pinned to the probed dimension like the classifier
    * (a dim-mismatched vector has no meaningful centroid cosine);
    * degenerate vectors are excluded as everywhere in the family.
    *
    * Scale: centroids are k×dim driver state; assignment + score is one
    * projection pass; the ranking shuffles once on the cluster id. A
    * fraction-based cut needs the cluster size, hence the window — a
    * fixed-threshold variant would be a pure projection.
    */
  def clusterOutliers(emb: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      embCol: String = "embedding",
                      deterministic: Boolean = false,
                      num: Int = 1, den: Int = 10): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"clusterOutliers: outlier fraction $num/$den")
    val cents = kMeansCentroids(emb, k, iters, idCol, embCol,
      deterministic)
    val dim = probeDim(emb.where(wellFormed(col(embCol))), embCol)
    val asg = emb
      .where(wellFormed(col(embCol), dim))
      .select(col(idCol), assignExpr(col(embCol), cents).as("cluster"),
        graft.functions.VectorExpressions
          .nearestCentroidScore(col(embCol), cents).as("centroid_cos"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("centroid_cos").asc, col(idCol).asc)
    val wc = Window.partitionBy(col("cluster"))
    asg.withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .select(col(idCol), col("cluster"), col("centroid_cos"),
        (col("__r") * den <= col("__n") * num).as("is_outlier"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023): k-means the
    * corpus, then search near-duplicates only WITHIN each cluster —
    * turning global all-pairs (which does not exist at 100 TB) into
    * Σ_c |c|² work shuffled once on the cluster id. Pairs above
    * `threshold` feed the same star-CC → min-id survivor decision as
    * every other dedup composition.
    *
    * Scale posture: the pair join's shuffle key is the cluster id, so
    * its cardinality IS `kClusters` — size it well above the executor
    * count (10k-100k at corpus scale; tiny k is for oracle-checkable
    * tests). Per-cluster cost is bounded by the fattest cluster, and
    * real embedding spaces are LUMPY — k-means will hand one cluster a
    * large slice of the corpus whenever the data has a dominant mode,
    * and nothing about `kClusters` prevents it. So the pair search is
    * GUARDED: clusters whose row count exceeds `maxClusterSize` (one
    * cheap partial-agg count, ≤ kClusters rows to the driver — the same
    * bounded-state budget as the centroids) are routed through an
    * LSH-bucketed candidate join (random-hyperplane banding keyed on
    * (cluster, table, bucket), the `lshNearDupPairs` shape) instead of
    * the exact within-cluster self-join, bounding the quadratic by the
    * bucket, not the cluster. Precision stays exact (every candidate is
    * cosine-verified); recall inside a guarded cluster becomes LSH
    * recall — (1-θ/π)^`guardBits` per table — which is the standard
    * SemDeDup-at-scale trade and ~1.0 for the near-identical pairs
    * dedup cares about (θ≈0 collides in every table; exact copies
    * collide deterministically). Small clusters keep the exact kernel,
    * so the oracle-checked operating point is untouched. The default
    * `maxClusterSize` = 100k caps the exact kernel at ~5·10⁹ fused
    * cosines per hot cluster — past that the LSH path is strictly
    * better. Vectors with a null embedding never pair and survive as
    * themselves (same contract as the global composition in
    * q_embed_cluster).
    *
    * Returns (doc_id, survivor_id) for every input row, survivor = min
    * id of the near-dup component.
    */
  def semanticDedup(emb: DataFrame, kClusters: Int, iters: Int,
                    threshold: Double, idCol: String = "vec_id",
                    embCol: String = "embedding",
                    deterministic: Boolean = false,
                    maxClusterSize: Long = 100000L,
                    guardBits: Int = 8, guardTables: Int = 8): DataFrame = {
    require(maxClusterSize > 0,
      s"semanticDedup: maxClusterSize=$maxClusterSize")
    val cents = kMeansCentroids(emb, kClusters, iters, idCol, embCol,
      deterministic)
    val assigned = emb
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .where(wellFormed(col("emb")))
      .select(col("id"), col("emb"), norm(col("emb")).as("nrm"),
        assignExpr(col("emb"), cents).as("cluster"))
    // ≤ kClusters rows — same driver-state bound as the centroid matrix
    val fatClusters = assigned.groupBy("cluster").count()
      .where(col("count") > maxClusterSize)
      .select("cluster").collect().map(_.getInt(0))
    val pairs =
      if (fatClusters.isEmpty) exactWithinClusterPairs(assigned, threshold)
      else {
        val fat = fatClusters.toSeq
        exactWithinClusterPairs(
          assigned.where(!col("cluster").isin(fat: _*)), threshold)
          .unionByName(lshWithinClusterPairs(
            assigned.where(col("cluster").isin(fat: _*)),
            cents, threshold, guardBits, guardTables))
      }
    Dedup.nearDupSurvivors(emb, col(idCol), pairs,
      Dedup.connectedComponentsStar(_))
  }

  /** The exact within-cluster pair kernel of `semanticDedup`: the
    * [[graft.exec.Exec.keyPairs]] self-join keyed on the cluster id,
    * fused-codegen cosine, O(m²) in the cluster size m — correct and
    * fastest below `maxClusterSize`. Its rows carry the vector, so they
    * skip the generator's distinct (hashing every embedding cost ~10 % of
    * q_embed_semdedup at sf0.1); a repeated row only repeats pairs, which
    * the survivor components absorb. */
  private def exactWithinClusterPairs(assigned: DataFrame,
                                      threshold: Double): DataFrame =
    keyPairs(assigned, Seq("cluster"), "id")
      .withColumn("cos", normedCosine(col("a.emb"), col("b.emb"),
        col("a.nrm"), col("b.nrm")))
      .where(col("cos") >= threshold && notNaN(col("cos")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))

  /** The guarded-cluster pair kernel: random-hyperplane banding INSIDE
    * each oversized cluster — candidates share (cluster, table, bucket),
    * so the self-join's quadratic is per-bucket (expected m/2^guardBits
    * rows), then the exact fused cosine verifies every candidate. Same
    * banding expression and pair generator as `lshNearDupPairs`, with
    * the cluster id prepended to the key — EXCEPT the hyperplanes hash the
    * RESIDUAL (member − cluster centroid), not the raw vector: inside a
    * fat cluster every member shares the centroid direction by
    * construction, and that common component biases every hyperplane
    * bit toward the centroid's sign (~0.75 per bit on a hot-mode
    * corpus — measured 2.8× candidate inflation vs an even corpus).
    * Subtracting the centroid (the IVF-PQ residual trick) restores
    * near-uniform buckets; exact copies keep identical residuals, so
    * their collision stays deterministic, and the verify cosine is
    * still computed on the ORIGINAL vectors. */
  private def lshWithinClusterPairs(fat: DataFrame,
                                    cents: Array[Array[Double]],
                                    threshold: Double,
                                    nBits: Int, nTables: Int): DataFrame = {
    val dim = cents.head.length
    val centLit = typedlit(cents.map(_.map(_.toFloat).toSeq).toSeq)
    val resid = zip_with(col("emb"),
      element_at(centLit, col("cluster") + 1), (x, c) => x - c)
    val band = Seq("cluster", "table", "bucket")
    val banded = fat.select(col("id"), col("cluster"),
      posexplode(bucketsExpr(resid, dim, nBits, nTables,
        seedBase = 3000)).as(Seq("table", "bucket")))
    val cand = keyPairs(keyGroups(banded, band, "id"), band, "id")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifiedPairs(cand, fat.select(col("id"), col("emb"), col("nrm")),
      threshold)
  }

  /** Nearest-centroid id for a vector: ONE codegen'd
    * `NearestCentroid` expression (see `VectorExpressions`) — the
    * composed HOF-cosine struct-array form was bit-identical but built a
    * plan tree linear in k×dim that Lloyd re-planned every round with
    * fresh literals; at k=64 the analyzer/optimizer fixed cost dominated
    * the assignment work itself. Arithmetic is unchanged (sequential
    * double folds, driver-side ascending centroid norms, max cosine,
    * ties to the lower cluster id, zero-norm scored -2) — the spec pins
    * equality against the composed form, and the unrolled-SQL oracle
    * still hash-matches. */
  private[graft] def assignExpr(emb: Column,
                                cents: Array[Array[Double]]): Column =
    graft.functions.VectorExpressions.nearestCentroid(emb, cents)

  /** The composed (pre-expression) nearest-centroid form, kept as the
    * differential test surface for `NearestCentroid`: k HOF cosines
    * against centroid literals, struct-array sort, ties to lower id. */
  private[graft] def assignExprComposed(emb: Column,
                                        cents: Array[Array[Double]])
      : Column = {
    val ranked = array_sort(array(cents.zipWithIndex.map { case (cv, j) =>
      val cNorm = math.sqrt(cv.map(x => x * x).sum)
      val cos = coalesce(
        dot(emb, typedlit(cv)) /
          nullif(norm(emb) * lit(cNorm), lit(0.0)),
        lit(-2.0))
      struct((cos * lit(-1.0)).as("neg"), lit(j).as("cluster"))
    }.toIndexedSeq: _*))
    ranked(0).getField("cluster")
  }

  // ---- persisted semantic index (embedding-side incremental dedup) ----

  /** Persist the semantic-dedup index: the embedding-side mirror of
    * `Dedup.persistIndex`. A continuous pipeline trains k-means ONCE per
    * corpus build and persists:
    *
    *  - `vectors/`  — (id, emb, nrm, cluster): every usable corpus
    *    vector with its precomputed norm and cluster assignment (the
    *    "inverted lists" a probe joins against; cluster is the shuffle/
    *    join key, so probes touch only the clusters they route to),
    *    PARTITIONED BY `ingest_batch = -1` (the corpus build) — the
    *    same layout `semanticGateBatch` appends its epochs under, so a
    *    gate pointed at a batch-built index keeps every file at ONE
    *    directory depth (mixed depths make the whole tree unreadable);
    *  - `centroids/` — (cluster, cent): the k×dim coarse quantizer;
    *  - `meta/`     — (k, dim), committed by
    *    [[graft.exec.Artifact.persist]] with the same marker the gate
    *    writes, so a gate pointed at this index reads it as committed.
    *
    * Every later ingestion batch probes with `probeSemanticIndex` —
    * assignment against the PERSISTED centroids, no re-training — so
    * incremental cost tracks the batch, not the corpus. Degenerate
    * (null / null-element) vectors are not persisted: they can never
    * pair, and the index stores only usable vectors. */
  def persistSemanticIndex(corpus: DataFrame, path: String,
                           kClusters: Int, iters: Int,
                           idCol: String = "vec_id",
                           embCol: String = "embedding",
                           deterministic: Boolean = false,
                           tol: Double = 0.0,
                           seeding: KMeansSeeding = KMeansSeeding.HashOrder)
      : Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = kMeansCentroids(corpus, kClusters, iters, idCol, embCol,
      deterministic, tol, seeding)
    Artifact.persist(spark, path,
        Seq((cents.length, cents.head.length)).toDF("k", "dim")) {
      assignedFrame(corpus, idCol, embCol, cents)
        .withColumn("ingest_batch", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest_batch")
        .parquet(s"$path/vectors")
      writeCentroids(spark, cents, path)
    }
  }

  /** The coarse quantizer as `centroids/` (cluster, cent). */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             cents: Array[Array[Double]],
                             path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, j) => (j, c.toSeq) }
      .toDF("cluster", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** (id, emb, nrm, cluster) under the given centroids — the persisted
    * `vectors/` schema and the probe-side assignment shape. */
  private def assignedFrame(emb: DataFrame, idCol: String, embCol: String,
                            cents: Array[Array[Double]]): DataFrame =
    emb.select(col(idCol).as("id"), col(embCol).as("emb"))
      .where(wellFormed(col("emb")))
      .select(col("id"), col("emb"), norm(col("emb")).as("nrm"),
        assignExpr(col("emb"), cents).as("cluster"))

  /** The persisted coarse quantizer, cluster-ordered (k×dim to the
    * driver — the same bounded state the trainer held). */
  def readSemanticCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").select("cent").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Probe a `persistSemanticIndex` artifact with a new ingestion
    * batch: assign each batch vector to its nearest PERSISTED centroid
    * (one codegen'd projection, no re-training), then exact-cosine it
    * against only that cluster's corpus vectors. Returns (batch_id,
    * corpus_id, cos >= threshold) — the embedding mirror of
    * `Dedup.probePersistedIndex`, with the same cost shape: one batch
    * assignment pass + a broadcast join into the cluster-keyed corpus
    * scan; corpus vectors outside the probed clusters are pruned by
    * the join, never paired. Recall is SemDeDup recall: a true pair
    * whose halves assign to different clusters is not searched —
    * exactly the operator's batch-mode behavior. */
  def probeSemanticIndex(batch: DataFrame, path: String, threshold: Double,
                         idCol: String = "vec_id",
                         embCol: String = "embedding"): DataFrame =
    probeWithCentroids(batch, path, readSemanticCentroids(
      batch.sparkSession, path), threshold, idCol, embCol)

  /** `probeSemanticIndex` against centroids the caller already read from
    * `path`'s `centroids/`. */
  private def probeWithCentroids(batch: DataFrame, path: String,
                                 cents: Array[Array[Double]],
                                 threshold: Double, idCol: String,
                                 embCol: String): DataFrame = {
    val spark = batch.sparkSession
    // meta's k against the centroids/ rows (a mismatch is a torn
    // index), its dim against the batch's
    Artifact.requireMeta(spark, path, "semantic index",
        "centroids/ and the probe batch give")(
      ("k" -> cents.length) +:
        probeDimOpt(batch, embCol).map("dim" -> _).toSeq: _*)
    val basn = assignedFrame(batch, idCol, embCol, cents)
      .select(col("id").as("batch_id"), col("emb").as("b_emb"),
        col("nrm").as("b_nrm"), col("cluster"))
    spark.read.parquet(s"$path/vectors")
      .join(broadcast(basn), Seq("cluster"))
      .withColumn("cos", normedCosine(col("emb"), col("b_emb"),
        col("nrm"), col("b_nrm")))
      .where(col("cos") >= threshold && notNaN(col("cos")))
      .select(col("batch_id"), col("id").as("corpus_id"), col("cos"))
  }

  /** One microbatch of the CONTINUOUS semantic ingestion gate — the
    * embedding-side mirror of `Dedup.ingestGateBatch`, and the
    * `foreachBatch` body `EventStreams.startGate` wires to a stream:
    *
    *   1. probe the index (`probeSemanticIndex`) and drop batch vectors
    *      near-duplicating the corpus — batch×cluster only, the corpus
    *      never self-joins and is never re-trained;
    *   2. dedup the batch INTERNALLY (same-cluster exact pairs under
    *      the PERSISTED centroids → min-id survivor) — without this,
    *      two near-identical vectors arriving together would both pass
    *      the corpus probe and poison the index;
    *   3. append the admitted vectors to `vectors/`.
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]].
    * Bootstrap trains k-means ON the first batch and writes `centroids/`
    * after the vectors, before meta. Index view: a FULL read — a replay
    * of a committed epoch admits nothing (every admitted vector
    * self-matches at cos = 1.0 ≥ threshold; within-batch losers match
    * their survivor), which is why `threshold <= 1.0` is required. A
    * `persistSemanticIndex` base is gate-compatible.
    *
    * Centroids are write-once: later epochs assign against the
    * bootstrap quantizer and never retrain — the production answer to
    * distribution drift is a periodic re-bootstrap into a fresh index
    * path, not silent in-place centroid movement (which would
    * invalidate every persisted assignment). */
  def semanticGateBatch(indexPath: String, kClusters: Int, iters: Int,
                        threshold: Double, idCol: String = "vec_id",
                        embCol: String = "embedding")
                       (batch: DataFrame, batchId: Long): Unit = {
    require(threshold <= 1.0,
      s"semanticGateBatch: threshold=$threshold > 1.0 breaks replay " +
        "idempotence (nothing self-matches)")
    val spark = batch.sparkSession
    import spark.implicits._
    lazy val trained = kMeansCentroids(batch, kClusters, iters, idCol, embCol)
    // k and dim are checked by probeWithCentroids, against centroids/
    // and the batch
    Artifact.gateEpoch(batch, batchId, "semanticGateBatch",
        "probeSemanticIndex", indexPath, Seq("vectors"))()({
        writeCentroids(spark, trained, indexPath)
        Seq((trained.length, trained.head.length)).toDF("k", "dim")
      }) { bootstrap =>
      val cents =
        if (bootstrap) trained else readSemanticCentroids(spark, indexPath)
      val afterCorpus =
        if (bootstrap) batch
        else {
          val matched = probeWithCentroids(batch, indexPath, cents,
            threshold, idCol, embCol).select(col("batch_id")).distinct()
          batch.join(matched, col(idCol) === col("batch_id"), "left_anti")
        }
      val assigned = assignedFrame(afterCorpus, idCol, embCol, cents)
      val keep = Dedup.nearDupSurvivors(
          afterCorpus.select(col(idCol)), col(idCol),
          exactWithinClusterPairs(assigned, threshold),
          Dedup.connectedComponentsStar(_))
        .where(col("survivor_id") === col("doc_id"))
        .select(col("doc_id").as("__keep_id"))
      // the admitted set's lineage reads the vectors/ the epoch writes
      Seq(s"$indexPath/vectors" -> materialize(
        assigned.join(keep, col("id") === col("__keep_id"), "left_semi")))
    }
  }

  /** EXACT embedding near-duplicate pairs: all pairs with cosine >=
    * threshold.
    *
    * All-pairs cosine is a dense numeric kernel, not a relational join:
    * a BroadcastNestedLoopJoin spends its time copying the two float
    * arrays into every joined row (measured: array copies dominated the
    * runtime, not arithmetic). So this is the one place we drop to
    * mapPartitions (SURVEY.md §2 custom-operator preference (d)): the
    * build side is COLLECTED TO THE DRIVER and broadcast as plain JVM
    * arrays — the identical constraint and data path of any broadcast
    * join's build side, and since this is a SELF-pair operator the build
    * side is the whole corpus. This operator is therefore only for
    * broadcastable corpora (≲ a few GB); past that, use
    * `lshNearDupPairs` below — exact all-pairs at 100 TB does not exist
    * on any engine.
    *
    * Bit-exactness with the DuckDB oracle: dot and norms are the host
    * kernel's (`CentroidScan.dot`/`norm`), whose folds are the SQL
    * list_transform/list_sum formulation's. The build side is
    * `broadcastBuildSide`'s, shared with `semanticContaminationScores`.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         embCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    requireNumericId(emb, idCol, "cosineNearDupPairs")
    val dim = probeDim(emb, embCol)
    // same degenerate-row policy as the rest of the family (kMeans,
    // pcaTrain): null/null-element/dim-mismatched embeddings are
    // excluded, not allowed to NPE the norm loop or AIOOBE the kernel
    val e = emb.where(wellFormed(col(embCol), dim))
      .select(col(idCol).cast("long").as("id"),
        col(embCol).as("emb")).as[(Long, Array[Float])]
    val bc = broadcastBuildSide(e, Some(dim), "cosineNearDupPairs",
      "corpus", "exact all-pairs needs a driver-broadcastable build side " +
        "— use lshNearDupPairs for large corpora")
    e.repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (idA, va) =>
        val build = bc.value
        val out = Seq.newBuilder[(Long, Long, Double)]
        // ids ascend: pairs (a, b) with b > a are a suffix of the build side
        val from = build.ids.indexWhere(_ > idA)
        if (from >= 0) build.matches(va, threshold, from) { (j, cos) =>
          out += ((idA, build.ids(j), cos))
        }
        out.result()
      }.toDF("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** The id-ascending, driver-collected build side of the broadcast
    * all-pairs scans, with its host norms. */
  private final case class BuildSide(ids: Array[Long],
                                     vecs: Array[Array[Float]],
                                     norms: Array[Double]) {
    /** `f(j, cos)` for every build row `j >= from`, ascending, of `va`'s
      * length whose cosine against `va` is `>= threshold`; a zero-norm
      * pair is skipped. */
    def matches(va: Array[Float], threshold: Double, from: Int)
               (f: (Int, Double) => Unit): Unit = {
      val na = CentroidScan.norm(va)
      var j = from
      while (j < vecs.length) {
        val den = na * norms(j)
        if (vecs(j).length == va.length && den != 0.0) {
          val cos = CentroidScan.dot(va, vecs(j)) / den
          if (cos >= threshold) f(j, cos)
        }
        j += 1
      }
    }
  }

  private def requireNumericId(df: DataFrame, idCol: String,
                               owner: String): Unit =
    require(df.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"$owner: id column '$idCol' must be numeric " +
        s"(got ${df.schema(idCol).dataType.simpleString}); " +
        "map string ids to longs first (e.g. xxhash64)")

  /** Collect `rows` (id, emb) to the driver as a [[BuildSide]] and
    * broadcast it — the data path of any broadcast join's build side.
    * Given the rows' `dim`, a build side past ~2 GiB (rows × dim × 4 +
    * per-row overhead) is refused first, naming `owner`'s `alternative`,
    * instead of OOMing the driver: the row count is a `limit(cap + 1)`
    * scan that short-circuits instead of counting the whole input. */
  private def broadcastBuildSide(rows: Dataset[(Long, Array[Float])],
                                 dim: Option[Int], owner: String,
                                 what: String, alternative: String)
      : Broadcast[BuildSide] = {
    val maxBuildBytes = 2L << 30
    dim.foreach { d =>
      val rowCap = math.min(Int.MaxValue - 1L, maxBuildBytes / (4L * d + 64L))
      val n = rows.select(col("id")).limit(rowCap.toInt + 1).count()
      require(n <= rowCap,
        s"$owner: $what exceeds $rowCap rows of dim-$d vectors " +
          s"(~${maxBuildBytes >> 30} GiB build side); $alternative")
    }
    // id-ascending: cosineNearDupPairs pairs each id with the suffix
    // above it, and partial-failure reruns scan identically
    val all = rows.collect().sortBy(_._1)
    rows.sparkSession.sparkContext.broadcast(BuildSide(all.map(_._1),
      all.map(_._2), all.map(r => CentroidScan.norm(r._2))))
  }

  /** SEMANTIC benchmark decontamination — the embedding-side mirror of
    * `Dedup.contaminationScores`: for EVERY corpus embedding, how many
    * benchmark embeddings it near-duplicates (cos >= threshold) and the
    * best such cosine (null when clean). Shingle decontamination
    * catches verbatim leakage; this catches paraphrased/translated
    * leakage that shares no n-grams with the benchmark — the modern
    * eval-contamination concern.
    *
    * Execution shape: the BENCHMARK is the build side — eval sets are
    * small by nature — collected to the driver and broadcast as plain
    * JVM arrays (the `cosineNearDupPairs` kernel rationale: a dense
    * numeric scan beats a BroadcastNestedLoopJoin's per-row array
    * copies), and the corpus STREAMS through one mapPartitions pass:
    * no shuffle anywhere, cost = |corpus| × |bench| fused dot products,
    * embarrassingly parallel at any corpus scale. The build side is
    * `broadcastBuildSide`'s, whose bytes guard refuses a
    * non-broadcastable benchmark and names the alternative: persist the corpus as a semantic index and
    * probe it with the benchmark (`persistSemanticIndex` /
    * `probeSemanticIndex` — cluster-routed, both sides unbounded).
    *
    * Contract: every corpus row is returned (a decontamination gate
    * filters on the result — dropping unmatched rows here would make
    * `n_matched = 0` unobservable). Degenerate corpus vectors (null /
    * null-element) and zero-norm vectors can never match: n_matched =
    * 0, max_cos null. Benchmark rows of a different dimension than a
    * corpus row are skipped for that row (they have no defined cosine).
    * Dot and norms are the host kernel's (`CentroidScan.dot`/`norm`),
    * so a DuckDB oracle hashes the max_cos value itself. */
  def semanticContaminationScores(corpus: DataFrame, bench: DataFrame,
                                  threshold: Double,
                                  idCol: String = "vec_id",
                                  embCol: String = "embedding")
      : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireNumericId(corpus, idCol, "semanticContaminationScores")
    val bwf = bench
      .select(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .where(wellFormed(col("emb"))).as[(Long, Array[Float])]
    val bc = broadcastBuildSide(bwf, probeDimOpt(bench, embCol),
      "semanticContaminationScores", "benchmark",
      "persist the corpus with persistSemanticIndex and probe it with the " +
        "benchmark instead")
    corpus
      .select(col(idCol).cast("long").as("id"),
        when(wellFormed(col(embCol)), col(embCol)).as("emb"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val build = bc.value
        it.map { case (id, va) =>
          var n = 0L
          var best = Double.NegativeInfinity
          if (va != null) build.matches(va, threshold, 0) { (_, cos) =>
            n += 1
            if (cos > best) best = cos
          }
          (id, n, if (n > 0) Some(best) else None)
        }
      }
      .toDF(idCol, "n_matched", "max_cos")
  }
}
