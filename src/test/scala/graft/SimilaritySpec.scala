package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1f, 0f, 0f)),
    (2L, Array(0.9f, 0.1f, 0f)),   // close to 1
    (3L, Array(0f, 1f, 0f)),       // orthogonal to 1
    (4L, Array(-1f, 0f, 0f)),      // opposite of 1
    (5L, Array(0f, 0f, 0f))        // zero vector
  ).toDF("vec_id", "embedding")

  test("cosine: identity, orthogonality, opposition, zero-norm null") {
    val r = vecs.as("a").crossJoin(vecs.as("b"))
      .where(col("a.vec_id") === 1)
      .orderBy(col("b.vec_id"))
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .as[Option[Double]].collect()
    assert(math.abs(r(0).get - 1.0) < 1e-12)
    assert(r(1).get > 0.9)
    assert(r(2).get === 0.0)
    assert(r(3).get === -1.0)
    assert(r(4).isEmpty) // zero norm -> null, no ANSI crash
  }

  test("DotProductF32 (float or double right side) and graft_dot_f32 " +
    "equal the HOF dot") {
    import graft.functions.VectorExpressions
    val both = vecs.as("a").crossJoin(vecs.as("b"))
      .select(Similarity.dot(col("a.embedding"), col("b.embedding")).as("hof"),
        VectorExpressions.dotF32(col("a.embedding"), col("b.embedding"))
          .as("codegen"),
        call_function("graft_dot_f32", col("a.embedding"),
          col("b.embedding")).as("sqlfn"),
        VectorExpressions.dotF32(col("a.embedding"),
          col("b.embedding").cast("array<double>")).as("f32f64"))
      .as[(Double, Double, Double, Double)].collect()
    assert(both.length === 25)
    both.foreach { case (h, c, q, d) =>
      assert(h === c); assert(h === q); assert(h === d)
    }
  }

  test("graft_dot_f32 rejects an ARRAY<DOUBLE> left side at analysis, " +
    "naming the function") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1.0, 2.0), Array(1f, 2f))).toDF("a", "b")
        .select(call_function("graft_dot_f32", col("a"), col("b")))
        .collect()
    }
    assert(e.getMessage.contains("graft_dot_f32"))
  }

  test("DotProductF32 nulls: null array -> null; length mismatch -> min dim") {
    import graft.functions.VectorExpressions
    val df = Seq((Array(1f, 2f, 3f), Array(2f, 3f)),
      (null.asInstanceOf[Array[Float]], Array(1f, 1f)))
      .toDF("a", "b")
      .select(VectorExpressions.dotF32(col("a"), col("b")).as("d"))
    val r = df.as[Option[Double]].collect()
    assert(r(0) === Some(8.0)) // 1*2 + 2*3
    assert(r(1).isEmpty)
  }

  test("IntersectCountLong equals size(array_intersect) on distinct " +
    "arrays; null array -> null; disjoint/empty -> 0") {
    import graft.functions.VectorExpressions
    val rnd = new scala.util.Random(42)
    // distinct-element arrays (the hashed-shingle contract), varied
    // sizes and overlaps, plus the edges: empty, disjoint, identical
    val rows: Seq[(Array[Long], Array[Long])] =
      (0 until 50).map { _ =>
        val universe = rnd.shuffle((0L until 200L).toVector)
        (universe.take(rnd.nextInt(80)).toArray,
          rnd.shuffle(universe).take(rnd.nextInt(80)).toArray)
      } ++ Seq(
        (Array.empty[Long], Array(1L, 2L)),
        (Array(1L, 2L), Array(3L, 4L)),
        (Array(5L, 1L, 9L), Array(5L, 1L, 9L)),
        (null.asInstanceOf[Array[Long]], Array(1L)))
    val df = rows.toDF("a", "b").select(
      VectorExpressions.intersectCountLong(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
    df.as[(Option[Int], Option[Int])].collect().foreach { case (f, r) =>
      assert(f === r)
    }
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1),
      k = 2)
      .orderBy("rank")
      .select("rank", "nbr_id").as[(Int, Long)].collect()
    assert(out.length === 2)
    assert(out(0)._2 === 2L) // closest
    assert(out.forall(_._2 != 1L))
  }

  test("contrastiveMine: positives at/above threshold, hard negatives " +
    "strictly below, filter-then-rank caps respected") {
    // probe = vector 1. cosines vs 1: v2 ≈ 0.994 (pos), v3 = 0 (neg),
    // v4 = -1 (neg), v5 = null (zero norm, sorts last -> neg tail)
    val out = Similarity.contrastiveMine(vecs,
      vecs.where(col("vec_id") === 1), kPos = 2, kNeg = 2,
      posThreshold = 0.5)
      .select("kind", "rank", "nbr_id").as[(String, Int, Long)].collect()
    val pos = out.filter(_._1 == "pos").sortBy(_._2)
    val neg = out.filter(_._1 == "neg").sortBy(_._2)
    assert(pos.map(_._3).toSeq === Seq(2L)) // only one qualifies
    assert(neg.length === 2) // capped at kNeg, though 3 candidates exist
    assert(neg.map(_._3).toSeq === Seq(3L, 4L)) // hardest (most similar) first
    assert(out.forall(_._3 != 1L)) // never the anchor itself
    // ranks are dense from 1 within each kind
    assert(pos.map(_._2).toSeq === (1 to pos.length))
    assert(neg.map(_._2).toSeq === (1 to neg.length))
  }

  test("contrastiveMine positives agree with bruteForceTopK above the " +
    "threshold") {
    val mined = Similarity.contrastiveMine(vecs,
      vecs.where(col("vec_id") === 1), kPos = 5, kNeg = 0,
      posThreshold = 0.5)
      .select("nbr_id").as[Long].collect().toSet
    val brute = Similarity.bruteForceTopK(vecs,
      vecs.where(col("vec_id") === 1), k = 5)
      .where(col("cos") >= 0.5)
      .select("nbr_id").as[Long].collect().toSet
    assert(mined === brute)
  }

  test("contrastiveMineClustered: every candidate comes from the " +
    "anchor's own cluster; caps hold per anchor") {
    // two tight cosine clusters; ids chosen so the deterministic
    // md5-ordered seeds (6 first, then 9) start one Lloyd round in each
    val groupA = Set(1L, 2L, 6L)
    val groupB = Set(9L, 11L, 12L)
    val df = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.95f, 0.05f, 0f)),
      (6L, Array(0.9f, 0.1f, 0f)),
      (9L, Array(0f, 1f, 0f)), (11L, Array(0.05f, 0.95f, 0f)),
      (12L, Array(0.1f, 0.9f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.contrastiveMineClustered(df, kPos = 1, kNeg = 2,
      posThreshold = 0.999, kClusters = 2, iters = 3, deterministic = true)
      .select("probe_id", "kind", "nbr_id").as[(Long, String, Long)]
      .collect()
    assert(out.nonEmpty)
    out.foreach { case (p, _, n) =>
      assert((groupA(p) && groupA(n)) || (groupB(p) && groupB(n)),
        s"cross-cluster pair ($p, $n)")
    }
    // at threshold 0.999 nothing within a cluster is a positive: every
    // anchor mines its 2 cluster peers as hard negatives, nothing more
    assert(out.forall(_._2 == "neg"))
    assert(out.groupBy(_._1).forall(_._2.length == 2))
    // the quadratic guard refuses loudly when a cluster exceeds the cap
    val e = intercept[IllegalArgumentException] {
      Similarity.contrastiveMineClustered(df, kPos = 1, kNeg = 2,
        posThreshold = 0.999, kClusters = 1, iters = 1,
        deterministic = true, maxClusterSize = 2L)
    }
    assert(e.getMessage.contains("maxClusterSize"))
  }

  test("cosineNearDupPairs finds only the close pair at 0.9") {
    val pairs = Similarity.cosineNearDupPairs(vecs, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("degenerate embeddings are excluded, not crashes: a null row and " +
    "a dim-mismatched row pass through cosineNearDupPairs; a " +
    "NaN-poisoned vector never ranks or pairs") {
    val dirty = vecs.unionByName(Seq(
        (6L, null.asInstanceOf[Array[Float]]),
        (7L, Array(1f, 0f)), // wrong dim
        (8L, Array(Float.NaN, 0f, 0f))) // NaN-poisoned
      .toDF("vec_id", "embedding"))
    // pre-fix: id 6 NPE'd the driver norm loop, id 7 AIOOBE'd the kernel
    val pairs = Similarity.cosineNearDupPairs(dirty, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    // NaN cosine must not become everyone's rank-1 neighbor (Spark
    // orders NaN greater than every double) — 8 is excluded outright
    val top = Similarity.bruteForceTopK(
        vecs.unionByName(Seq((8L, Array(Float.NaN, 0f, 0f)))
          .toDF("vec_id", "embedding")),
        vecs.where(col("vec_id") === 1), k = 2)
      .select("nbr_id").as[Long].collect().toSet
    assert(!top.contains(8L))
    assert(top === Set(2L, 3L))
  }

  test("kMeans training excludes dim-mismatched vectors from the " +
    "update pass instead of letting them resize cluster 0's centroid") {
    val dirty = vecs.where(col("vec_id") =!= 5)
      .unionByName(Seq((9L, Array(1f, 0f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))
    // pre-fix: round 2 threw "centroid has dim 3, not 5"
    val cents = Similarity.kMeansCentroids(dirty, k = 2, iters = 3)
    assert(cents.forall(_.length === 3))
  }

  test("semanticContaminationScores: every corpus row kept, counts and " +
    "max over the broadcast benchmark, degenerates can never match") {
    // benchmark: one vector near corpus 1/2, one null (filtered from
    // the build side)
    val bench = Seq(
      (100L, Array(1f, 0.05f, 0f)),
      (101L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    // corpus: vecs plus a null-ELEMENT row (degenerate, reported clean)
    val corpus = vecs.unionByName(Seq(
      (6L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        array(col("embedding")(0), lit(null).cast("float"),
          col("embedding")(2)).as("embedding")))
    val r = Similarity.semanticContaminationScores(corpus, bench,
        threshold = 0.9)
      .orderBy("vec_id")
      .select("vec_id", "n_matched", "max_cos")
      .as[(Long, Long, Option[Double])].collect()
    // ALL six corpus rows come back — clean rows stay observable
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId(1L)._2 === 1L && byId(1L)._3.get > 0.99)
    assert(byId(2L)._2 === 1L)          // 0.9/0.1 vs 1/0.05: cos ≈ 0.93
    assert(byId(3L)._2 === 0L && byId(3L)._3.isEmpty) // orthogonal
    assert(byId(4L)._2 === 0L)          // opposite
    assert(byId(5L)._2 === 0L)          // zero norm never matches
    assert(byId(6L)._2 === 0L && byId(6L)._3.isEmpty) // null element
    // empty / all-degenerate benchmark: everything reports clean
    val clean = Similarity.semanticContaminationScores(corpus,
        bench.where(col("vec_id") === 101L), threshold = 0.5)
      .agg(sum(col("n_matched")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(clean === ((0L, 6L)))
    // non-numeric id refused loudly (the broadcast kernel contract)
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticContaminationScores(
        corpus.select(col("vec_id").cast("string").as("vec_id"),
          col("embedding")), bench, 0.5) }
    assert(ex.getMessage.contains("numeric"))
  }

  test("ivfTopK: exact on clustered data with nProbe=1; equals brute force " +
    "when nProbe = nCentroids") {
    // three well-separated clusters, 5 vectors each (base + small offset)
    val bases = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val clustered = (0 until 15).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + (if (d == 3) 0.1f * (i / 3 + 1) else 0f) })
    }.toDF("vec_id", "embedding")
    val probes = clustered.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(clustered, probes, k = 3)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    val ivf1 = Similarity.ivfTopK(clustered, probes, k = 3,
        nCentroids = 3, nProbe = 1, iters = 5)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(ivf1 === exact) // clusters separated -> single-probe is exact
    // exhaustive probing degenerates to brute force on ANY data
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p10 = emb.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, p10, k = 5)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    val ivfAll = Similarity.ivfTopK(emb, p10, k = 5,
        nCentroids = 8, nProbe = 8, iters = 3)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(ivfAll === bf)
  }

  test("kMeans recovers well-separated clusters, assignments equal " +
    "nearest-final-centroid, both mean modes agree") {
    // three tight clusters of 6 around orthogonal bases
    val bases = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val clustered = (0 until 18).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + (if (d == 3) 0.05f * (i / 3 + 1) else 0f) })
    }.toDF("vec_id", "embedding")
    val got = Similarity.kMeans(clustered, k = 3, iters = 4)
      .as[(Long, Int)].collect().toMap
    // every ground-truth cluster maps to exactly one learned cluster
    val grouped = (0 until 18).groupBy(_ % 3)
      .map { case (_, ids) => ids.map(i => got(i.toLong)).toSet }
    assert(grouped.forall(_.size === 1), s"split a true cluster: $got")
    assert(grouped.reduce(_ ++ _).size === 3, s"merged true clusters: $got")
    // assignment really is nearest-centroid under the final centroids
    val cents = Similarity.kMeansCentroids(clustered, k = 3, iters = 4)
    val manual = clustered.as[(Long, Array[Float])].collect().map {
      case (id, v) =>
        val cos = cents.map { c =>
          val dot = c.zip(v).map { case (a, b) => a * b.toDouble }.sum
          val den = math.sqrt(c.map(x => x * x).sum) *
            math.sqrt(v.map(x => x.toDouble * x).sum)
          if (den == 0.0) -2.0 else dot / den
        }
        id -> cos.zipWithIndex.maxBy { case (s, j) => (s, -j) }._2
    }.toMap
    assert(got === manual)
    // the scale-mode partial-agg mean and the oracle-exact sequential
    // fold must produce identical ASSIGNMENTS (centroid low-order bits
    // may differ; decisions may not)
    val det = Similarity.kMeans(clustered, k = 3, iters = 4,
      deterministic = true).as[(Long, Int)].collect().toMap
    assert(det === got)
  }

  test("kMeans: empty clusters keep their previous centroid; result is " +
    "partitioning-invariant") {
    // two far-apart points, duplicated: k=3 seeds from 6 rows, but only 2
    // real positions -> at least one cluster ends every round empty
    val dup = Seq(
      (1L, Array(10f, 0f)), (2L, Array(10f, 0f)), (3L, Array(10f, 0f)),
      (4L, Array(0f, 10f)), (5L, Array(0f, 10f)), (6L, Array(0f, 10f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kMeansCentroids(dup, k = 3, iters = 3)
    assert(cents.length === 3) // survived despite an empty cluster
    // every centroid is finite (an empty cluster that zeroed or NaN'd its
    // centroid would poison every later assignment round)
    assert(cents.forall(_.forall(d => !d.isNaN && !d.isInfinite)))
    val a = Similarity.kMeans(dup, k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    // the two positions resolve to exactly two clusters, consistently
    assert(Set(a(1L), a(2L), a(3L)).size === 1)
    assert(Set(a(4L), a(5L), a(6L)).size === 1)
    assert(a(1L) !== a(4L))
    // partitioning must not change decisions (partial-agg merge order
    // changes float low bits; ties in this fixture are far apart)
    val b = Similarity.kMeans(dup.repartition(7), k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(b === a)
  }

  test("kMeans edges: k larger than the corpus shrinks to the row count; " +
    "iters=0 assigns against the raw seeds; null embeddings are excluded") {
    val tiny = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kMeansCentroids(tiny, k = 10, iters = 2)
    assert(cents.length === 2) // only 2 non-null rows to seed from
    val a = Similarity.kMeans(tiny, k = 10, iters = 0)
      .as[(Long, Int)].collect().toMap
    assert(a.keySet === Set(1L, 2L)) // null-embedding row excluded
    assert(a(1L) !== a(2L))          // orthogonal vectors, distinct seeds
    intercept[IllegalArgumentException](
      Similarity.kMeansCentroids(tiny.limit(0), k = 2, iters = 1))
    intercept[IllegalArgumentException](
      Similarity.kMeansCentroids(tiny, k = 0, iters = 1))
    // a null ELEMENT excludes the vector like a null embedding — in the
    // deterministic mode it would otherwise null-poison the sequential
    // centroid fold and crash the driver collect
    val withNullElem = spark.sql(
      "SELECT CAST(9 AS BIGINT) AS vec_id, " +
        "array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding")
      .unionByName(tiny.where(col("embedding").isNotNull))
    val a2 = Similarity.kMeans(withNullElem, k = 2, iters = 2,
      deterministic = true).as[(Long, Int)].collect().toMap
    assert(a2.keySet === Set(1L, 2L))
  }

  test("NearestCentroid equals the composed HOF form (codegen and " +
    "interpreted), including ties and zero-norm vectors") {
    import graft.functions.{NearestCentroid, VectorExpressions}
    val cents = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(1.0, 0.0, 0.0), // duplicate of centroid 0: forces exact ties
      Array(0.7, 0.7, 0.0))
    val rows = Seq(
      (1L, Array(1f, 0f, 0f)),     // ties centroids 0 and 2 -> lower wins
      (2L, Array(0f, 2f, 0f)),
      (3L, Array(0.5f, 0.5f, 0f)), // ties 3 exactly? close scores
      (4L, Array(0f, 0f, 0f)),     // zero norm: all -2 -> cluster 0
      (5L, Array(-1f, -1f, -0.5f)),
      (6L, Array(1f, 0f)),         // ragged (shorter than dim) -> cluster 0
      (7L, Array(0f, 2f, 0f, 9f))  // ragged (longer than dim) -> cluster 0
    ).toDF("vec_id", "embedding")
    val fused = rows.select(col("vec_id"),
      Similarity.assignExpr(col("embedding"), cents).as("c"))
      .as[(Long, Int)].collect().toMap
    val composed = rows.select(col("vec_id"),
      Similarity.assignExprComposed(col("embedding"), cents).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(fused === composed)
    assert(fused(1L) === 0) // tie between 0 and 2 resolves low
    assert(fused(4L) === 0) // zero-norm pinned to -2 everywhere -> 0
    assert(fused(6L) === 0) // dim mismatch: null cosine path -> cluster 0
    assert(fused(7L) === 0)
    // a null ELEMENT poisons the composed fold (null cosine -> -2 for
    // every centroid -> cluster 0); fused + composed must agree, in both
    // codegen (DataFrame) and interpreted paths
    val nullElem = spark.sql(
      "SELECT array(CAST(0 AS FLOAT), CAST(NULL AS FLOAT), " +
        "CAST(2 AS FLOAT)) AS embedding")
    val fe = nullElem.select(
      Similarity.assignExpr(col("embedding"), cents).as("c"),
      Similarity.assignExprComposed(col("embedding"), cents).as("cc"))
      .as[(Int, Int)].head()
    assert(fe === ((0, 0)))
    // interpreted eval (no codegen) agrees with the DataFrame (codegen) path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val data = rows.as[(Long, Array[Float])].collect()
    data.foreach { case (id, v) =>
      val interp = NearestCentroid(
        Literal(ArrayData.toArrayData(v), ArrayType(FloatType)), cents)
        .eval(null)
      assert(interp === fused(id), s"vec $id: interpreted $interp")
    }
  }

  test("semanticDedup matches the global pair composition when clusters " +
    "are well separated, and dedups within clusters") {
    // two separated clusters, each containing an exact-duplicate pair and
    // a singleton: survivors must collapse the dup pairs only
    val data = Seq(
      (1L, Array(10f, 0f, 0f)), (2L, Array(10f, 0f, 0f)), // dups, cluster A
      (3L, Array(9f, 1f, 0f)),                             // near 1-2 (cos>0.98)
      (4L, Array(0f, 10f, 0f)), (5L, Array(0f, 10f, 0f)), // dups, cluster B
      (6L, Array(0f, 0f, 10f))                             // singleton
    ).toDF("vec_id", "embedding")
    val sem = Similarity.semanticDedup(data, kClusters = 3, iters = 3,
        threshold = 0.95)
      .as[(Long, Long)].collect().toMap
    // global composition: the same pairs without the cluster restriction
    val globalPairs = Similarity.cosineNearDupPairs(data, 0.95)
    val global = graft.operators.Dedup.nearDupSurvivors(data,
        col("vec_id"), globalPairs)
      .as[(Long, Long)].collect().toMap
    assert(sem === global,
      "cluster partition changed survivors despite separated clusters")
    assert(sem(1L) === 1L && sem(2L) === 1L && sem(3L) === 1L)
    assert(sem(4L) === 4L && sem(5L) === 4L)
    assert(sem(6L) === 6L)
  }

  test("semanticDedup cluster-size guard: oversized clusters route " +
    "through LSH banding with identical survivors on exact-dup pairs") {
    // cluster A: 20 members (8 exact-dup pairs + 4 singletons) around one
    // base; cluster B: 4 members (1 dup pair + 2 singletons). threshold
    // 0.9999 admits ONLY exact copies (perturbed members top out ~0.999),
    // and exact copies have IDENTICAL hyperplane signs, so the guarded
    // path's recall is deterministic — guarded and unguarded results must
    // be byte-equal, not just close
    val a = (0 until 8).flatMap { p =>
      val v = Array(10f, 0.2f * p, 0.1f * p)
      Seq((p * 2L, v), (p * 2L + 1, v)) // exact-dup pair
    } ++ (8 until 12).map(p => (p * 2L, Array(10f, 0.2f * p, -0.3f * p)))
    val b = Seq((100L, Array(0f, 0f, -10f)), (101L, Array(0f, 0f, -10f)),
      (102L, Array(0f, 1f, -10f)), (103L, Array(0f, -1f, -10f)))
    val data = (a ++ b).toDF("vec_id", "embedding")
    val unguarded = Similarity.semanticDedup(data, kClusters = 2,
        iters = 3, threshold = 0.9999)
      .as[(Long, Long)].collect().toMap
    val guarded = Similarity.semanticDedup(data, kClusters = 2,
        iters = 3, threshold = 0.9999, maxClusterSize = 10L)
      .as[(Long, Long)].collect().toMap
    assert(guarded === unguarded,
      "the guarded (LSH within-cluster) path changed survivors")
    // the dedup actually did something: each dup pair collapsed to min id
    (0 until 8).foreach { p =>
      assert(guarded(p * 2L) === p * 2L && guarded(p * 2L + 1) === p * 2L)
    }
    assert(guarded(101L) === 100L)
    (8 until 12).foreach(p => assert(guarded(p * 2L) === p * 2L))
    // guard boundary: maxClusterSize at exactly the cluster size leaves
    // the exact kernel in place (strictly-greater engages)
    val atBoundary = Similarity.semanticDedup(data, kClusters = 2,
        iters = 3, threshold = 0.9999, maxClusterSize = 20L)
      .as[(Long, Long)].collect().toMap
    assert(atBoundary === unguarded)
    intercept[IllegalArgumentException](
      Similarity.semanticDedup(data, kClusters = 2, iters = 1,
        threshold = 0.9, maxClusterSize = 0L))
  }

  test("kMeans early stop: tol ends Lloyd at the fixed point with " +
    "assignments identical to the full fixed-iteration run") {
    val bases = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val clustered = (0 until 18).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + (if (d == 3) 0.05f * (i / 3 + 1) else 0f) })
    }.toDF("vec_id", "embedding")
    // deterministic mode: once assignments repeat, the sequential-fold
    // means are bit-identical => drift exactly 0 => tol stops the loop
    val early = Similarity.kMeansTrain(clustered, k = 3, iters = 25,
      deterministic = true, tol = 1e-12)
    assert(early.rounds < 25,
      s"early stop never engaged (ran all ${early.rounds} rounds)")
    val fixed = Similarity.kMeans(clustered, k = 3, iters = 25,
      deterministic = true).as[(Long, Int)].collect().toMap
    val earlyAssign = clustered
      .select(col("vec_id"),
        Similarity.assignExpr(col("embedding"), early.centroids).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(earlyAssign === fixed,
      "early-stopped centroids assign differently than the full run")
    // tol = 0 (the oracle contract) never stops early
    val full = Similarity.kMeansTrain(clustered, k = 3, iters = 4,
      deterministic = true)
    assert(full.rounds === 4)
  }

  test("kMeans farthest-point seeding: deterministic, seeds spread one " +
    "per true cluster, converges in no more rounds than hash-order") {
    val bases = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val clustered = (0 until 18).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + (if (d == 3) 0.05f * (i / 3 + 1) else 0f) })
    }.toDF("vec_id", "embedding")
    // farthest-first on separated data picks one seed per true cluster,
    // so a SINGLE Lloyd round already recovers the structure
    val oneRound = Similarity.kMeans(clustered, k = 3, iters = 1,
        seeding = Similarity.KMeansSeeding.FarthestPoint)
      .as[(Long, Int)].collect().toMap
    val grouped = (0 until 18).groupBy(_ % 3)
      .map { case (_, ids) => ids.map(i => oneRound(i.toLong)).toSet }
    assert(grouped.forall(_.size === 1), s"split a true cluster: $oneRound")
    assert(grouped.reduce(_ ++ _).size === 3, s"merged clusters: $oneRound")
    // deterministic: repeated runs produce identical centroids
    val c1 = Similarity.kMeansCentroids(clustered, k = 3, iters = 2,
      seeding = Similarity.KMeansSeeding.FarthestPoint)
    val c2 = Similarity.kMeansCentroids(clustered, k = 3, iters = 2,
      seeding = Similarity.KMeansSeeding.FarthestPoint)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    // spread seeds never need MORE rounds than hash-order seeds
    val fp = Similarity.kMeansTrain(clustered, k = 3, iters = 25,
      deterministic = true, tol = 1e-12,
      seeding = Similarity.KMeansSeeding.FarthestPoint)
    val ho = Similarity.kMeansTrain(clustered, k = 3, iters = 25,
      deterministic = true, tol = 1e-12)
    assert(fp.rounds <= ho.rounds,
      s"farthest-point took ${fp.rounds} rounds vs hash-order ${ho.rounds}")
  }

  test("kMeans farthest-point seeds are the farthest-first picks in " +
    "hand-derived order: hash-order head first, ties to the earlier " +
    "sample row, a zero vector last, min(k, n) seeds") {
    // (md5(id), id) order of ids 1..5 and 8: 4, 1, 2, 8, 5, 3
    val pts = Seq(1L -> Array(1f, 1f), 2L -> Array(0f, 1f),
      3L -> Array(1f, -1f), 4L -> Array(1f, 0f), 5L -> Array(-1f, 0f),
      8L -> Array(0f, 0f))
    val df = pts.toDF("vec_id", "embedding")
    def seeds(k: Int) = {
      // iters = 0: the result is the seed set itself
      val r = Similarity.kMeansTrain(df, k = k, iters = 0,
        seeding = Similarity.KMeansSeeding.FarthestPoint)
      assert(r.rounds === 0)
      r.centroids.map(_.toSeq).toSeq
    }
    val v = pts.toMap.map { case (id, a) => id -> a.map(_.toDouble).toSeq }
    // 4 heads the sample; 5 is opposite it (distance 2); 2 is at 1 from
    // both; 1 and 3 then tie at 1 - 1/√2 and 1 comes first in the
    // sample; the zero vector is at 0 from everything, so it comes last
    assert(seeds(4) === Seq(v(4L), v(5L), v(2L), v(1L)))
    assert(seeds(7) === Seq(v(4L), v(5L), v(2L), v(1L), v(3L), v(8L)))
  }

  test("semanticContaminationScores(X, X) counts each row's " +
    "cosineNearDupPairs degree plus its self-match") {
    val bases = Seq(Array(1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f), Array(0.7f, 0.7f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 1f, 0f, 0f))
    // four perturbed directions, no zero or degenerate vector: 210 pairs
    // at 0.45, degrees 4 to 16
    val x = (0 until 40).map { i =>
      ((7 * i + 3).toLong, Array.tabulate(6) { d =>
        bases(i % 4)(d) + ((i * 31 + d * 17) % 11 - 5) / 6f })
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(x, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length === 210)
    val degree = pairs.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (id, ids) => id -> ids.length.toLong }
    val matched = Similarity.semanticContaminationScores(x, x, 0.45)
      .select("vec_id", "n_matched").as[(Long, Long)].collect().toMap
    assert(matched.size === 40)
    matched.foreach { case (id, n) =>
      assert(n === 1L + degree.getOrElse(id, 0L), s"id $id")
    }
  }

  test("ivfTopK accepts external kMeans centroids and stays exact at " +
    "nProbe = nCentroids") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, probes, k = 5)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    val cents = Similarity.kMeansCentroids(emb, k = 8, iters = 2)
    val ivf = Similarity.ivfTopK(emb, probes, k = 5,
        nCentroids = 8, nProbe = 8, centroids = Some(cents))
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(ivf === bf)
  }

  test("lshNearDupPairs: exact precision, finds duplicate vectors") {
    val dup = Seq((10L, Array(1f, 0f, 0f)), (11L, Array(0.95f, 0.05f, 0f)))
      .toDF("vec_id", "embedding")
    val all = vecs.unionByName(dup)
    val exact = Similarity.cosineNearDupPairs(all, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearDupPairs(all, 0.9, nBits = 4, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))       // precision exact by construction
    assert(lsh.contains((1L, 10L)))   // identical vectors always collide
  }

  test("lshTopK recall on an exact-duplicate probe") {
    // duplicate vectors always share every LSH bucket -> guaranteed found
    val dup = Seq((10L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs.unionByName(dup), dup, k = 1)
      .select("nbr_id").as[Long].collect()
    assert(out.headOption.contains(1L))
  }

  test("HyperplaneBuckets: interpreted eval equals the codegen'd path, " +
    "null vector -> null, short vector projects over its prefix") {
    import graft.functions.{HyperplaneBuckets, VectorExpressions}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val data = Seq(
      (1L, Array(1f, -2f, 3f, 0.5f)),
      (2L, Array(-1f, 2f, -3f, -0.5f)),
      (3L, null.asInstanceOf[Array[Float]]),
      (4L, Array(1f, -2f))                   // shorter than probed dim
    ).toDF("vec_id", "embedding")
    // codegen'd path (whole-stage codegen is on by default)
    val viaDf = data
      .select(col("vec_id"),
        VectorExpressions.lshBuckets(col("embedding"), dim = 4, nBits = 5,
          nTables = 3, seed = 7).as("b"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(viaDf(3L).isEmpty) // null in, null out — no crash
    assert(viaDf(1L).get.length === 3)
    // every bucket within nBits range
    assert(viaDf(1L).get.forall(b => b >= 0 && b < 32))
    // interpreted eval path (Literal input, no codegen) must agree exactly
    def evalOf(v: Array[Float]): Seq[Long] =
      HyperplaneBuckets(Literal.create(v, ArrayType(FloatType)),
        dim = 4, nBits = 5, nTables = 3, seed = 7)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    assert(evalOf(Array(1f, -2f, 3f, 0.5f)) === viaDf(1L).get)
    assert(evalOf(Array(-1f, 2f, -3f, -0.5f)) === viaDf(2L).get)
    // prefix semantics: the short vector equals the zero-padded one
    assert(viaDf(4L).get === evalOf(Array(1f, -2f, 0f, 0f)))
    // SQL surface agrees with the Column form
    val viaSql = data.where(col("vec_id") === 1)
      .selectExpr("graft_lsh_buckets(embedding, 4, 5, 3, 7) AS b")
      .as[Seq[Long]].head()
    assert(viaSql === viaDf(1L).get)
  }

  test("LSH operators tolerate null-embedding rows and empty corpora " +
    "(the dim probe skips nulls; null rows can never pair)") {
    // null embedding FIRST in scan order — the probe must skip it
    val withNull = Seq((0L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
      .unionByName(vecs)
    val dup = Seq((10L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(withNull.unionByName(dup), 0.9,
        nBits = 4, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 10L)))
    assert(!pairs.exists(p => p._1 == 0L || p._2 == 0L)) // null row pairs nothing
    val top = Similarity.lshTopK(withNull.unionByName(dup), dup, k = 1)
      .select("nbr_id").as[Long].collect()
    assert(top.headOption.contains(1L))
    // empty / all-null corpora return empty results, not probe crashes
    val empty = vecs.limit(0)
    assert(Similarity.lshNearDupPairs(empty, 0.9).count() === 0)
    assert(Similarity.lshTopK(empty, dup, k = 1).count() === 0)
    val allNull = withNull.where(col("vec_id") === 0)
    assert(Similarity.lshNearDupPairs(allNull, 0.9).count() === 0)
  }

  test("NearestCentroidScore is the max of the composed cosines and the " +
    "argmax/max pair of NearestCentroid; degenerate inputs score 1.0") {
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val rows = Seq(
      (1L, Array(2f, 1f, 0f)),           // best vs centroid 0
      (2L, Array(0f, 3f, 4f)),           // best vs centroid 1
      (3L, Array(0f, 0f, 0f)),           // zero norm: every cos = -2
      (4L, Array(1f, 1f)),               // dim mismatch -> 1.0
      (5L, Array(1f, null.asInstanceOf[Float], 0f))
    ).toDF("vec_id", "embedding")
      // row 5's null element must survive into the array
      .withColumn("embedding",
        when(col("vec_id") === 5L,
          array(lit(1f), lit(null).cast("float"), lit(0f)))
          .otherwise(col("embedding")))
    val got = rows.select(col("vec_id"),
        graft.functions.VectorExpressions
          .nearestCentroidScore(col("embedding"), cents).as("s"),
        graft.functions.VectorExpressions
          .nearestCentroid(col("embedding"), cents).as("c"))
      .as[(Long, Double, Int)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    def cos(v: Array[Double], c: Array[Double]): Double = {
      val den = math.sqrt(v.map(x => x * x).sum) *
        math.sqrt(c.map(x => x * x).sum)
      if (den == 0.0) -2.0 else v.zip(c).map { case (a, b) => a * b }.sum / den
    }
    assert(math.abs(got(1L)._1 -
      cos(Array(2.0, 1.0, 0.0), cents(0))) < 1e-12)
    assert(got(1L)._2 === 0)
    assert(math.abs(got(2L)._1 -
      cos(Array(0.0, 3.0, 4.0), cents(1))) < 1e-12)
    assert(got(2L)._2 === 1)
    assert(got(3L)._1 === -2.0)  // zero norm scores -2 against everything
    assert(got(4L)._1 === 1.0)   // dim mismatch: covered, never oversampled
    assert(got(5L)._1 === 1.0)   // null element: same
    // null array -> null score (UnaryExpression null propagation)
    val nullRow = Seq(Tuple1(null.asInstanceOf[Array[Float]]))
      .toDF("embedding")
    assert(nullRow.select(graft.functions.VectorExpressions
        .nearestCentroidScore(col("embedding"), cents).as("s"))
      .as[Option[Double]].head().isEmpty)
  }

  test("centroid and codebook expressions explain as shape + content " +
    "digest: equal arrays print identically, different ones differ") {
    import graft.functions.VectorExpressions._
    // a range, not a local relation the optimizer folds the projection into
    val emb = spark.range(2)
      .select(array(lit(1f), col("id").cast("float"), lit(0f)).as("embedding"))
    def plan(cents: Array[Array[Double]]): String = {
      val cb = Array(cents)
      emb.select(nearestCentroid(col("embedding"), cents).as("c"),
          nearestCentroidScore(col("embedding"), cents).as("s"),
          pqDecode(pqEncode(col("embedding"), cb), cb).as("d"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replaceAll("(?<=\\w)#\\d+", "#N") // expression ids
    }
    val c1 = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val p1 = plan(c1)
    assert(!p1.contains("[[D@"), p1)
    assert(p1.contains("k=2×dim=3 #") && p1.contains("m=1×ksub=2×dsub=3 #"),
      p1)
    assert(plan(c1.map(_.clone)) === p1)
    assert(plan(Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0))) !== p1)
  }

  test("kMeans parallel (k-means‖) seeding: deterministic, one-round " +
    "recovery on separated clusters, candidate shrink mirrors the other " +
    "seedings") {
    val bases = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val clustered = (0 until 18).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + (if (d == 3) 0.05f * (i / 3 + 1) else 0f) })
    }.toDF("vec_id", "embedding")
    val par = Similarity.KMeansSeeding.Parallel(l = 6, rounds = 3)
    // the weighted reduction lands one seed per true mode => a single
    // Lloyd round recovers the structure, exactly like FarthestPoint
    val oneRound = Similarity.kMeans(clustered, k = 3, iters = 1,
        seeding = par)
      .as[(Long, Int)].collect().toMap
    val grouped = (0 until 18).groupBy(_ % 3)
      .map { case (_, ids) => ids.map(i => oneRound(i.toLong)).toSet }
    assert(grouped.forall(_.size === 1), s"split a true cluster: $oneRound")
    assert(grouped.reduce(_ ++ _).size === 3, s"merged clusters: $oneRound")
    // hash-draw randomness is a pure function of the corpus: identical
    // centroids run-to-run AND partitioning-invariant
    val c1 = Similarity.kMeansCentroids(clustered, k = 3, iters = 2,
      seeding = par)
    val c2 = Similarity.kMeansCentroids(clustered.repartition(7), k = 3,
      iters = 2, seeding = par)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    // a corpus that yields fewer candidates than k shrinks the seed set
    // instead of failing — same contract as HashOrder/FarthestPoint on
    // corpora smaller than k
    val tiny = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kMeansCentroids(tiny, k = 10, iters = 1,
      seeding = Similarity.KMeansSeeding.Parallel(l = 4, rounds = 2))
    assert(cents.length <= 10 && cents.nonEmpty)
    val assigned = Similarity.kMeans(tiny, k = 10, iters = 1,
        seeding = Similarity.KMeansSeeding.Parallel(l = 4, rounds = 2))
      .as[(Long, Int)].collect().toMap
    assert(assigned(1L) !== assigned(2L)) // orthogonal rows split
    // a fully-covered corpus (every row identical) stops drawing early
    // and still trains: one candidate covers everything, phi = 0
    val same = (0 until 8).map(i => (i.toLong, Array(3f, 4f)))
      .toDF("vec_id", "embedding")
    val sameCents = Similarity.kMeansCentroids(same, k = 2, iters = 1,
      seeding = Similarity.KMeansSeeding.Parallel(l = 4, rounds = 3))
    assert(sameCents.length === 1) // phi=0 after candidate 0: no more draws
  }

  test("annRecall: hand-computed hit counts — a probe the ANN route " +
    "missed entirely scores 0 (not a dropped row), a probe absent from " +
    "exact is ignored, short exact lists set the denominator") {
    val exact = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),  // probe 1: 3 exact nbrs
      (2L, 1, 20L), (2L, 2, 21L),                // probe 2: 2 exact nbrs
      (3L, 1, 30L))                              // probe 3: never in approx
      .toDF("probe_id", "rank", "nbr_id")
    val approx = Seq(
      (1L, 1, 11L), (1L, 2, 99L), (1L, 3, 12L),  // 2 of 3 hit
      (2L, 1, 21L), (2L, 2, 20L),                // both hit, order differs
      (9L, 1, 90L))                              // probe 9: not in exact
      .toDF("probe_id", "rank", "nbr_id")
    val r = Similarity.annRecall(exact, approx)
      .orderBy("probe_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(r === Seq((1L, 3L, 2L, 2.0 / 3.0), (2L, 2L, 2L, 1.0),
      (3L, 1L, 0L, 0.0)))
  }

  test("randomProject: driver replay is bit-identical, exact copies " +
    "keep equal projections, layout-free, degenerate rows excluded") {
    val rnd = new scala.util.Random(11)
    val base = (1L to 40L).map(i =>
      (i, Array.fill(24)(rnd.nextFloat() * 2 - 1)))
    // 41 duplicates 1's vector; 42 is null, 43 carries a null element,
    // 44 is dim-mismatched — all three excluded
    val rows = base ++ Seq((41L, base.head._2.clone()),
      (42L, null.asInstanceOf[Array[Float]]),
      (44L, Array(1f, 2f)))
    val df = rows.toDF("vec_id", "embedding")
      .unionByName(Seq((43L, Seq(Some(1f), None, Some(2f)) ++
        Seq.fill(21)(Some(0f)))).toDF("vec_id", "embedding"))
    val outDim = 8
    val got = Similarity.randomProject(df, outDim, seed = 3)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet === (1L to 41L).toSet)
    assert(got(41L) === got(1L))
    // replay: ascending-index fold of double products, one division
    val signs = Similarity.rpSigns(24, outDim, 3)
    val scale = math.sqrt(outDim.toDouble)
    base.foreach { case (id, v) =>
      val expect = (0 until outDim).map { j =>
        var s = 0.0
        var i = 0
        while (i < 24) { s += v(i).toDouble * signs(j)(i).toDouble; i += 1 }
        s / scale
      }
      assert(got(id) === expect, s"id=$id")
    }
    val re = Similarity.randomProject(df.repartition(7), outDim, seed = 3)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(re === got)
  }

  test("randomProject: JL distance concentration — norms preserved " +
    "within loose statistical bounds at outDim 32") {
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 60L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(df, 32, seed = 9)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ratios = vecs.map { case (id, v) =>
      val orig = math.sqrt(v.map(x => x.toDouble * x).sum)
      val p = proj(id)
      math.sqrt(p.map(x => x * x).sum) / orig
    }
    // E[ratio²] = 1; at k=32 the ratio concentrates in ~[0.5, 1.6]
    // except with vanishing probability, and the MEAN much tighter
    assert(ratios.forall(r => r > 0.4 && r < 1.8), ratios.min -> ratios.max)
    val mean = ratios.sum / ratios.size
    assert(mean > 0.9 && mean < 1.1, mean)
  }

  test("pcaTrain: recovers a planted principal axis with its variance; " +
    "modes agree on tiny data; malformed rows excluded; k > dim rejected") {
    // all variance on axis 0: x0 ∈ {0, 8} (μ = 4, var = 16), x1 = 5
    // (constant → no variance); a null-element and a short row must
    // be ignored
    val df = Seq(
      (1L, Array(0f, 5f)), (2L, Array(8f, 5f)),
      (3L, Array(0f, 5f)), (4L, Array(8f, 5f))
    ).toDF("vec_id", "embedding")
      .union(Seq((5L, Array[Float](1f))).toDF("vec_id", "embedding"))
    val m = Similarity.pcaTrain(df, k = 1, powerIters = 3,
      deterministic = true)
    assert(m.n === 4L && m.dim === 2)
    assert(m.mean(0) === 4.0 && m.mean(1) === 5.0)
    assert(math.abs(m.eigenvalues(0) - 16.0) < 1e-12, m.eigenvalues(0))
    assert(math.abs(math.abs(m.components(0)(0)) - 1.0) < 1e-12)
    assert(math.abs(m.components(0)(1)) < 1e-12)
    // production-mode sums agree here (2 cells per dimension)
    val mp = Similarity.pcaTrain(df, k = 1, powerIters = 3,
      deterministic = false)
    assert(mp.components(0).toSeq === m.components(0).toSeq &&
      mp.eigenvalues(0) === m.eigenvalues(0))
    assertThrows[IllegalArgumentException] {
      Similarity.pcaTrain(df, k = 3, powerIters = 3)
    }
  }

  test("pcaProject: per-row scores replay the literal left-assoc fold; " +
    "projection onto the planted axis is the centered coordinate") {
    // uncorrelated axes, var 16 on axis 0 and 4 on axis 1 — full-rank
    // covariance so deflated component 2 survives
    val vecs = Seq((1L, Array(0f, 4f)), (2L, Array(8f, 4f)),
      (3L, Array(0f, 0f)), (4L, Array(8f, 0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val m = Similarity.pcaTrain(df, k = 2, powerIters = 20,
      deterministic = true)
    val got = Similarity.pcaProject(df, m).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val exp = vecs.map { case (id, v) =>
      val p = m.components.map { comp =>
        (0 until m.dim).map(j =>
          (v(j).toDouble - m.mean(j)) * comp(j)).reduceLeft(_ + _)
      }
      (id, p(0), p(1))
    }
    assert(got.toSeq === exp)
    // axis-0 projection = x0 − μ0 up to the component's sign
    val s = m.components(0)(0)
    assert(math.abs(math.abs(s) - 1.0) < 1e-9, s)
    got.zip(Seq(0.0, 8.0, 0.0, 8.0)).foreach { case ((_, p1, _), x0) =>
      assert(math.abs(p1 - s * (x0 - m.mean(0))) < 1e-9, (p1, x0))
    }
    // whitening divides each score by sqrt(eigenvalue), exactly
    val white = Similarity.pcaProject(df, m, whiten = true)
      .orderBy("vec_id").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    white.zip(got).foreach { case ((w1, w2), (_, p1, p2)) =>
      assert(w1 === p1 / math.sqrt(m.eigenvalues(0)))
      assert(w2 === p2 / math.sqrt(m.eigenvalues(1)))
    }
  }

  test("persistPcaModel/readPcaModel: bit-exact round trip; unmarked " +
    "artifact refused") {
    val df = Seq((1L, Array(0f, 4f)), (2L, Array(8f, 4f)),
      (3L, Array(0f, 0f)), (4L, Array(8f, 0f)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_pca_spec").toString + "/model"
    val m = Similarity.persistPcaModel(df, path, k = 2, powerIters = 5,
      deterministic = true)
    val r = Similarity.readPcaModel(spark, path)
    assert(r.dim === m.dim && r.n === m.n)
    assert(r.mean.toSeq === m.mean.toSeq)
    assert(r.components.map(_.toSeq).toSeq ===
      m.components.map(_.toSeq).toSeq)
    assert(r.eigenvalues.toSeq === m.eigenvalues.toSeq)
    // served projection == in-session projection, bit for bit
    val a = Similarity.pcaProject(df, m, whiten = true).orderBy("vec_id")
      .collect().map(x => (x.getDouble(1), x.getDouble(2))).toSeq
    val b = Similarity.pcaProject(df, r, whiten = true).orderBy("vec_id")
      .collect().map(x => (x.getDouble(1), x.getDouble(2))).toSeq
    assert(a === b)
    // marker-last discipline: no marker -> loud refusal
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/meta/_GRAFT_COMMITTED"), false)
    val e = intercept[IllegalArgumentException] {
      Similarity.readPcaModel(spark, path)
    }
    assert(e.getMessage.contains("commit marker"))
  }

  test("meanPoolEmbeddings: hand-computed per-dimension means, " +
    "dim-mismatched chunks excluded, modes agree") {
    val chunks = Seq(
      (10L, Array(1f, 2f)), (11L, Array(3f, 6f)),   // doc 1: mean (2,4)
      (20L, Array(5f, 5f)),                          // doc 2: itself
      (30L, Array(9f))                               // short row: dropped
    ).toDF("vec_id", "embedding")
    val got = Similarity.meanPoolEmbeddings(chunks,
        expr("vec_id DIV 10").as("doc_id"), deterministic = true)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toSeq))
    assert(got.toSeq === Seq((1L, 2L, Seq(2.0, 4.0)),
      (2L, 1L, Seq(5.0, 5.0))))
    val prod = Similarity.meanPoolEmbeddings(chunks,
        expr("vec_id DIV 10").as("doc_id"), deterministic = false)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toSeq))
    assert(prod.toSeq === got.toSeq)
  }

  test("ivfSampleCentroids trains on the corpus-canonical dimension even " +
    "when the hash-ordered sample's FIRST row is a dim-mismatched outlier") {
    // Regression: the canonical dim used to be taken from the sample's
    // first element; an outlier landing first (by xxhash64 order) filtered
    // the whole sample down to outlier-dim rows and the centroids silently
    // trained on the wrong dimension. Pin the probeDim rule instead.
    val base = (0L until 40L).map { i =>
      (i, Array(1f + i, 2f, 3f, 4f))
    }.toDF("vec_id", "embedding")
    // find the id that sorts FIRST under (xxhash64(id), id) — the same
    // ordering the sampler uses — and make THAT row the dim-2 outlier
    val firstId = base
      .sort(xxhash64(col("vec_id")), col("vec_id"))
      .select("vec_id").as[Long].head()
    val corpus = base.withColumn("embedding",
      when(col("vec_id") === firstId, typedlit(Array(9f, 9f)))
        .otherwise(col("embedding")))
    val cents = Similarity.ivfSampleCentroids(corpus, "vec_id",
      "embedding", nCentroids = 4, iters = 3)
    assert(cents.nonEmpty)
    assert(cents.forall(_.length === 4),
      s"centroids trained on dims ${cents.map(_.length).toSeq}")
  }
}
