package graft

import org.apache.spark.sql.functions._
import graft.operators.Pq
import graft.operators.Similarity
import graft.functions.VectorExpressions

class PqSpec extends SparkTestBase {
  import spark.implicits._

  /** 8-dim corpus whose subvectors (m=2, dsub=4) are drawn from exactly
    * ksub=2 prototypes per subspace — the quantizer can represent every
    * vector exactly, so encode→decode must be lossless and PQ top-k must
    * equal brute force bit-for-bit. */
  private val protoA = Array(1f, 0f, 0f, 0f)
  private val protoB = Array(0f, 1f, 1f, 0f)
  private val protoC = Array(0f, 0f, 0f, 2f)
  private val protoD = Array(3f, 0f, 1f, 0f)
  private def cat(a: Array[Float], b: Array[Float]) = a ++ b
  private lazy val cellCorpus = Seq(
    (1L, cat(protoA, protoC)),
    (2L, cat(protoA, protoD)),
    (3L, cat(protoB, protoC)),
    (4L, cat(protoB, protoD)),
    (5L, cat(protoA, protoC)), // exact duplicate of 1
    (6L, cat(protoB, protoD))  // exact duplicate of 4
  ).toDF("vec_id", "embedding")

  test("pqTrain is deterministic and shapes the codebook (m × ksub × dsub)") {
    val cb1 = Pq.pqTrain(cellCorpus, m = 2, ksub = 2, iters = 3)
    val cb2 = Pq.pqTrain(cellCorpus, m = 2, ksub = 2, iters = 3)
    assert(cb1.m === 2 && cb1.ksub === 2 && cb1.dsub === 4 && cb1.dim === 8)
    assert(cb1.cents.flatten.flatten.toSeq === cb2.cents.flatten.flatten.toSeq)
  }

  test("on a corpus drawn from the codebook's cells, encode→decode is " +
    "lossless and pqTopK equals bruteForceTopK exactly") {
    val cb = Pq.pqTrain(cellCorpus, m = 2, ksub = 2, iters = 3)
    val rec = Pq.reconstructed(Pq.encoded(cellCorpus, cb), cb)
      .orderBy("vec_id").as[(Long, Array[Float])].collect()
    val raw = cellCorpus.orderBy("vec_id")
      .as[(Long, Array[Float])].collect()
    assert(rec.length === raw.length)
    rec.zip(raw).foreach { case ((id1, r), (id2, v)) =>
      assert(id1 === id2)
      assert(r.toSeq === v.toSeq, s"vector $id1 not reconstructed exactly")
    }
    val pq = Pq.pqTopK(cellCorpus, cellCorpus, k = 3, cb)
      .select("probe_id", "rank", "nbr_id")
      .orderBy("probe_id", "rank").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brute = Similarity
      .bruteForceTopK(cellCorpus, cellCorpus, k = 3)
      .select("probe_id", "rank", "nbr_id")
      .orderBy("probe_id", "rank").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(pq.toSeq === brute.toSeq)
  }

  test("PqEncodeL2 argmin ties break to the lower code and degenerate " +
    "vectors code as all zeros / null") {
    // codebook with two IDENTICAL codewords in subspace 0: every vector
    // is equidistant, so the tie must resolve to code 0
    val cb = Pq.Codebook(Array(
      Array(Array(1.0, 0.0), Array(1.0, 0.0)),
      Array(Array(0.0, 1.0), Array(5.0, 5.0))))
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 1f)),   // well-formed
      (2L, Array(1f, 0f, 5f, 5f)),   // well-formed, sub1 -> code 1
      (3L, Array(1f, 0f)),           // wrong length -> all-zero codes
      (4L, null.asInstanceOf[Array[Float]]) // null -> null codes
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        VectorExpressions.pqEncode(col("embedding"), cb.cents).as("codes"))
      .orderBy("vec_id")
      .as[(Long, Option[Seq[Int]])].collect()
    assert(df(0)._2 === Some(Seq(0, 0))) // tie in sub0 -> 0; sub1 exact 0
    assert(df(1)._2 === Some(Seq(0, 1)))
    assert(df(2)._2 === Some(Seq(0, 0))) // degenerate -> all zeros
    assert(df(3)._2 === None)
  }

  test("PqDecodeF32 rejects malformed code arrays as null, and encoded() " +
    "excludes rows the quantizer cannot code") {
    val cb = Pq.Codebook(Array(
      Array(Array(1.0, 2.0), Array(3.0, 4.0))))
    val decoded = Seq(
      (1L, Array(0)),        // valid
      (2L, Array(1)),        // valid
      (3L, Array(7)),        // out of range -> null
      (4L, Array(0, 1)),     // wrong m -> null
      (5L, null.asInstanceOf[Array[Int]])
    ).toDF("vec_id", "codes")
      .select(col("vec_id"),
        VectorExpressions.pqDecode(col("codes"), cb.cents).as("emb"))
      .orderBy("vec_id")
      .as[(Long, Option[Seq[Float]])].collect()
    assert(decoded(0)._2 === Some(Seq(1f, 2f)))
    assert(decoded(1)._2 === Some(Seq(3f, 4f)))
    assert(decoded(2)._2 === None)
    assert(decoded(3)._2 === None)
    assert(decoded(4)._2 === None)

    val mixed = Seq(
      (1L, Array(1f, 2f)),
      (2L, Array(1f, 2f, 3f)),              // wrong length
      (3L, null.asInstanceOf[Array[Float]]) // null
    ).toDF("vec_id", "embedding")
    val enc = Pq.encoded(mixed, cb)
    assert(enc.select("vec_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("pqTrain refuses a dimension m does not divide, and handles " +
    "fewer sample rows than requested") {
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.pqTrain(df, m = 2, ksub = 1, iters = 1)
    }
    assert(e.getMessage.contains("not divisible"))
    // ksub larger than the corpus must fail loudly, not mis-seed
    val e2 = intercept[IllegalArgumentException] {
      Pq.pqTrain(cellCorpus, m = 2, ksub = 100, iters = 1)
    }
    assert(e2.getMessage.contains("< ksub"))
  }

  test("ivfPqTopK with full routing and a representable codebook equals " +
    "brute force; nProbe=1 searches only the probe's own list") {
    // full routing (nProbe = nCentroids) + residuals representable in
    // ksub cells per subspace -> the composition must be EXACT
    val ivfpq = Pq.ivfPqTopK(cellCorpus, cellCorpus, k = 3,
        nCentroids = 2, nProbe = 2, coarseIters = 2,
        m = 2, ksub = 4, pqIters = 3)
      .orderBy("probe_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brute = Similarity.bruteForceTopK(cellCorpus, cellCorpus, k = 3)
      .select("probe_id", "rank", "nbr_id")
      .orderBy("probe_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(ivfpq.toSeq === brute.toSeq)

    // nProbe = 1: every returned neighbor shares the probe's own coarse
    // cluster (routing really restricts the search)
    val cents = Similarity.kMeansCentroids(cellCorpus, 2, 2)
    val cluster = cellCorpus.select(col("vec_id"),
      graft.functions.VectorExpressions
        .nearestCentroid(col("embedding"), cents).as("c"))
      .as[(Long, Int)].collect().toMap
    val routed = Pq.ivfPqTopK(cellCorpus, cellCorpus, k = 3,
        nCentroids = 2, nProbe = 1, coarseIters = 2,
        m = 2, ksub = 4, pqIters = 3)
      .select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(routed.nonEmpty)
    routed.foreach { case (p, n) =>
      assert(cluster(p) === cluster(n),
        s"probe $p (cluster ${cluster(p)}) reached $n in ${cluster(n)}")
    }
  }

  test("a NaN-poisoned probe gets no ivfPqTopK neighbours under full " +
    "routing, like every other cosine top-k") {
    val probes = cellCorpus.unionByName(
      Seq((99L, Array(Float.NaN, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))
    val top = Pq.ivfPqTopK(cellCorpus, probes, k = 3,
        nCentroids = 2, nProbe = 2, coarseIters = 2,
        m = 2, ksub = 4, pqIters = 3)
      .select("probe_id").as[Long].collect()
    assert(!top.contains(99L))
    assert(top.toSet === (1L to 6L).toSet)
  }

  test("persisted IVF-PQ index: cluster-partitioned list layout, and " +
    "exact-copy probes find their source at rank 1 with no re-training") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpq").toString + "/idx"
    Pq.persistIvfPqIndex(cellCorpus, path, nCentroids = 2, coarseIters = 2,
      m = 2, ksub = 4, pqIters = 3)
    // inverted lists really are partitioned by cluster on disk
    val listDirs = new java.io.File(s"$path/vectors").listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).sorted
    assert(listDirs.nonEmpty)
    // batch = exact copies of the corpus under new ids: with the
    // representable codebook each probe's best neighbor is its source
    // vector at reconstructed cos 1.0 (id ties -> lowest id, so the
    // duplicate pairs 1=5 and 4=6 both resolve to the lower id)
    val batch = cellCorpus.select((col("vec_id") + 100).as("vec_id"),
      col("embedding"))
    val top1 = Pq.probeIvfPqIndex(batch, path, k = 1, nProbe = 2)
      .orderBy("probe_id")
      .select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.toSeq === Seq((101L, 1L), (102L, 2L), (103L, 3L),
      (104L, 4L), (105L, 1L), (106L, 4L)))
    // torn-index guard: meta k disagreeing with coarse/ must refuse
    val spark2 = spark
    import spark2.implicits._
    Seq((8, 99, 2, 4)).toDF("dim", "k", "m", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      Pq.probeIvfPqIndex(batch, path, k = 1, nProbe = 1)
    }
    assert(e.getMessage.contains("torn index"))
  }

  test("ADC recall on the synthetic embeddings table is measured and " +
    "reconstruction error falls as ksub grows") {
    val emb = Seq.tabulate(200) { i =>
      // deterministic pseudo-random 8-dim vectors (splitmix-ish fold)
      val v = Array.tabulate(8) { d =>
        val z0 = (i.toLong * 8 + d + 1) * 0x9e3779b97f4a7c15L
        val z1 = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
        (((z1 >>> 11).toDouble / (1L << 53).toDouble) - 0.5).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def sqErr(ksub: Int): Double = {
      val cb = Pq.pqTrain(emb, m = 2, ksub = ksub, iters = 4)
      Pq.reconstructed(Pq.encoded(emb, cb), cb)
        .join(emb.select(col("vec_id"), col("embedding").as("orig")),
          Seq("vec_id"))
        .select(aggregate(zip_with(col("embedding"), col("orig"),
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x)
          .as("se"))
        .agg(sum("se")).as[Double].head()
    }
    val coarse = sqErr(2)
    val fine = sqErr(16)
    assert(fine < coarse,
      s"reconstruction error must fall with codebook size: " +
        s"ksub=2 -> $coarse, ksub=16 -> $fine")
    // recall@5 vs brute force on the same corpus: measured, sanity-bounded
    val cb = Pq.pqTrain(emb, m = 2, ksub = 16, iters = 4)
    val probes = emb.where(col("vec_id") < 10)
    val pq = Pq.pqTopK(emb, probes, k = 5, cb)
      .select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, probes, k = 5)
      .select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall > 0.3,
      s"ADC recall@5 collapsed: $recall (pq=${pq.size}, brute=${brute.size})")
  }
}
