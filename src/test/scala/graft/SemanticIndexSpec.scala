package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** The persisted semantic index + continuous semantic ingest gate —
  * the embedding-side mirror of the minhash persistIndex /
  * ingestGateBatch contract (DedupSpec), including the crash-injection
  * shapes. Fixtures use EXACT duplicate vectors (cos = 1.0) so every
  * probe/dedup decision is deterministic arithmetic, never a
  * borderline float. */
class SemanticIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def hadoopFs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sem_$tag").toString

  private def indexIds(idx: String): Set[Long] =
    spark.read.parquet(s"$idx/vectors").select("id").as[Long]
      .collect().toSet

  // two separated clusters + degenerate rows
  private val corpus = Seq(
    (1L, Array(10f, 0f, 0f)), (2L, Array(9f, 1f, 0f)),
    (3L, Array(0f, 10f, 0f)), (4L, Array(0f, 9f, 1f)),
    (5L, null.asInstanceOf[Array[Float]])
  ).toDF("vec_id", "embedding")

  test("persistSemanticIndex + probeSemanticIndex: probe equals the " +
    "recompute composition, persisted centroids are the trained ones") {
    val idx = tmp("probe")
    Similarity.persistSemanticIndex(corpus, idx, kClusters = 2, iters = 2)
    // persisted centroids == a fresh deterministic-path training run
    val persisted = Similarity.readSemanticCentroids(spark, idx)
    val trained = Similarity.kMeansCentroids(corpus, k = 2, iters = 2)
    assert(persisted.map(_.toSeq).toSeq === trained.map(_.toSeq).toSeq)
    // degenerate corpus rows are not in the index
    assert(indexIds(idx) === Set(1L, 2L, 3L, 4L))
    // batch: 10 = exact dup of corpus 1; 11 = novel direction; 12 = null
    val batch = Seq(
      (10L, Array(10f, 0f, 0f)), (11L, Array(0f, 0f, 10f)),
      (12L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val got = Similarity.probeSemanticIndex(batch, idx, threshold = 0.95)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // 10 matches 1 (cos 1.0) and NOT 2 (cos ≈ 0.994 ≥ 0.95 — same
    // cluster, also matched); nothing reaches 11; 12 never probes
    val expect = Set((10L, 1L), (10L, 2L))
    assert(got === expect)
    // the probe equals assigning the batch against the persisted
    // centroids and exact-cosine within the cluster — the recompute
    // composition the index replaces
    val asn = batch.where(col("embedding").isNotNull)
      .select(col("vec_id").as("batch_id"),
        col("embedding").as("b_emb"),
        Similarity.assignExpr(col("embedding"), persisted).as("cluster"))
    val recompute = corpus.where(col("embedding").isNotNull)
      .select(col("vec_id").as("corpus_id"),
        col("embedding").as("c_emb"),
        Similarity.assignExpr(col("embedding"), persisted).as("cluster"))
      .join(asn, Seq("cluster"))
      .where(Similarity.cosine(col("b_emb"), col("c_emb")) >= 0.95)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got === recompute)
    // dimension contract: a batch of another dimension is refused
    val wrongDim = Seq((20L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](
      Similarity.probeSemanticIndex(wrongDim, idx, threshold = 0.5))
    assert(ex.getMessage.contains("dim"))
  }

  // gate fixtures: epoch 1 carries a corpus dup, a novel vector, and an
  // internal dup pair
  private val semEpoch0 = Seq(
    (1L, Array(10f, 0f, 0f)), (2L, Array(0f, 10f, 0f)))
  private val semEpoch1 = Seq(
    (10L, Array(10f, 0f, 0f)),  // exact dup of corpus 1 -> probe drops
    (11L, Array(0f, 0f, 10f)),  // novel direction -> admitted
    (12L, Array(5f, 5f, 0f)), (13L, Array(5f, 5f, 0f))) // internal dups

  test("semanticGateBatch: bootstrap, corpus probe, batch-internal " +
    "dedup, idempotent epoch replay, index growth") {
    val idx = tmp("gate")
    val gate = Similarity.semanticGateBatch(idx, kClusters = 2, iters = 2,
      threshold = 0.95) _
    gate(semEpoch0.toDF("vec_id", "embedding"), 0L)
    assert(indexIds(idx) === Set(1L, 2L))
    gate(semEpoch1.toDF("vec_id", "embedding"), 1L)
    // 10 dropped (matches 1), 11 admitted, 12 survives its dup 13
    assert(indexIds(idx) === Set(1L, 2L, 11L, 12L))
    // crash-replay of the SAME epoch: dynamic overwrite + everything
    // self-matching => no dupes, byte-stable corpus
    gate(semEpoch1.toDF("vec_id", "embedding"), 1L)
    assert(indexIds(idx) === Set(1L, 2L, 11L, 12L))
    // the index grew: a dup of epoch-1's novel vector is now dropped
    gate(Seq((20L, Array(0f, 0f, 10f))).toDF("vec_id", "embedding"), 2L)
    assert(indexIds(idx) === Set(1L, 2L, 11L, 12L))
    // threshold > 1.0 would break replay idempotence — refused loudly
    intercept[IllegalArgumentException](
      Similarity.semanticGateBatch(idx, 2, 2, threshold = 1.5)(
        semEpoch0.toDF("vec_id", "embedding"), 3L))
  }

  test("semanticGateBatch composes with a persistSemanticIndex base: " +
    "appended epochs keep one partition depth and the index stays " +
    "readable") {
    val idx = tmp("compose")
    Similarity.persistSemanticIndex(corpus, idx, kClusters = 2, iters = 2)
    // the batch-built index reads as committed (marker, not just the
    // committer's _SUCCESS), so the gate probes instead of re-training
    assert(hadoopFs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/meta/_GRAFT_COMMITTED")))
    val gate = Similarity.semanticGateBatch(idx, kClusters = 2, iters = 2,
      threshold = 0.95) _
    gate(semEpoch1.toDF("vec_id", "embedding"), 0L)
    // 10 dups corpus 1/2 -> dropped; 11 novel -> admitted; 12 survives
    // its in-batch dup 13. Before vectors/ was partition-aligned, this
    // very read died with conflicting directory structures.
    assert(indexIds(idx) === Set(1L, 2L, 3L, 4L, 11L, 12L))
    // a second epoch probes the GROWN index: a dup of 11 is now gated
    gate(Seq((20L, Array(0f, 0f, 10f))).toDF("vec_id", "embedding"), 1L)
    assert(indexIds(idx) === Set(1L, 2L, 3L, 4L, 11L, 12L))
    // replay of epoch 0 rewrites its own partition, nothing dupes
    gate(semEpoch1.toDF("vec_id", "embedding"), 0L)
    assert(indexIds(idx) === Set(1L, 2L, 3L, 4L, 11L, 12L))
  }

  test("semanticGateBatch crash injection: uncommitted meta " +
    "re-bootstraps; committed meta is never rewritten") {
    import org.apache.hadoop.fs.Path
    // shape 1: crash between the vectors write and the meta write
    val d1 = tmp("boot1")
    val gate1 = Similarity.semanticGateBatch(d1, 2, 2, 0.95) _
    gate1(semEpoch0.toDF("vec_id", "embedding"), 0L)
    hadoopFs.delete(new Path(s"$d1/meta"), true)
    gate1(semEpoch0.toDF("vec_id", "embedding"), 0L) // re-bootstrap
    assert(indexIds(d1) === Set(1L, 2L))
    assert(hadoopFs.exists(new Path(s"$d1/meta/_GRAFT_COMMITTED")))
    // shape 2: mid-meta-job crash — directory with data files, no
    // commit evidence (neither _SUCCESS nor the marker)
    val d2 = tmp("boot2")
    val gate2 = Similarity.semanticGateBatch(d2, 2, 2, 0.95) _
    gate2(semEpoch0.toDF("vec_id", "embedding"), 0L)
    hadoopFs.delete(new Path(s"$d2/meta/_GRAFT_COMMITTED"), false)
    hadoopFs.delete(new Path(s"$d2/meta/_SUCCESS"), false)
    gate2(semEpoch0.toDF("vec_id", "embedding"), 0L) // re-bootstrap
    assert(indexIds(d2) === Set(1L, 2L))
    assert(hadoopFs.exists(new Path(s"$d2/meta/_GRAFT_COMMITTED")))
    // the rebuilt indexes actually probe
    for (d <- Seq(d1, d2)) {
      Similarity.semanticGateBatch(d, 2, 2, 0.95)(
        semEpoch1.toDF("vec_id", "embedding"), 1L)
      assert(indexIds(d) === Set(1L, 2L, 11L, 12L))
    }
    // shape 3 (legacy): marker deleted but _SUCCESS present — reads as
    // committed, later epochs never rewrite meta/ or centroids/
    val d3 = tmp("boot3")
    val gate3 = Similarity.semanticGateBatch(d3, 2, 2, 0.95) _
    gate3(semEpoch0.toDF("vec_id", "embedding"), 0L)
    hadoopFs.delete(new Path(s"$d3/meta/_GRAFT_COMMITTED"), false)
    def state(sub: String): Map[String, Long] = hadoopFs
      .listStatus(new Path(s"$d3/$sub"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val metaBefore = state("meta")
    val centsBefore = state("centroids")
    gate3(semEpoch1.toDF("vec_id", "embedding"), 1L)
    gate3(semEpoch1.toDF("vec_id", "embedding"), 1L) // replay
    assert(indexIds(d3) === Set(1L, 2L, 11L, 12L))
    assert(state("meta") === metaBefore,
      "a post-bootstrap epoch rewrote meta/ — write-once contract broken")
    assert(state("centroids") === centsBefore,
      "a post-bootstrap epoch RETRAINED centroids — assignments now torn")
  }

  test("streaming semantic gate: later microbatches probe the persisted " +
    "centroids earlier ones trained (MemoryStream end-to-end)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("stream")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStreams.startGate(
      mem.toDF.toDF("vec_id", "embedding"), s"$dir/ckpt")(
      Similarity.semanticGateBatch(s"$dir/idx", kClusters = 2, iters = 2,
        threshold = 0.95))
    try {
      mem.addData(semEpoch0: _*)
      q.processAllAvailable()
      assert(indexIds(s"$dir/idx") === Set(1L, 2L))
      mem.addData(semEpoch1: _*)
      q.processAllAvailable()
      // 10 near-dups corpus 1 (gated), 11 novel (admitted), 12 survives
      // its in-batch dup 13 — identical decisions to the batch gate
      assert(indexIds(s"$dir/idx") === Set(1L, 2L, 11L, 12L))
      // the bootstrap quantizer was not retrained by epoch 1
      assert(hadoopFs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/idx/meta/_GRAFT_COMMITTED")))
    } finally q.stop()
  }

  test("semanticDedup equals gate-admitted survivors on a single batch " +
    "(the gate's internal dedup is the batch operator)") {
    val data = semEpoch1.toDF("vec_id", "embedding")
    val idx = tmp("parity")
    Similarity.semanticGateBatch(idx, kClusters = 2, iters = 2,
      threshold = 0.95)(data, 0L)
    val sem = Similarity.semanticDedup(data, kClusters = 2, iters = 2,
        threshold = 0.95)
      .where(col("survivor_id") === col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(indexIds(idx) === sem,
      "bootstrap self-dedup diverged from the batch semanticDedup")
  }

  test("semanticGateBatch reads centroids/ in one action per " +
    "post-bootstrap epoch") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val idx = tmp("reads")
    val gate = Similarity.semanticGateBatch(idx, kClusters = 2, iters = 2,
      threshold = 0.95) _
    gate(semEpoch0.toDF("vec_id", "embedding"), 0L)
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(qe)
      def onFailure(funcName: String, qe: QueryExecution,
                    e: Exception): Unit = seen.put(qe)
    }
    spark.listenerManager.register(listener)
    val actions = try {
      gate(semEpoch1.toDF("vec_id", "embedding"), 1L)
      // events arrive in order on one queue: once the fence action's
      // event is in, every action of the epoch has been seen
      val fence = spark.range(1).toDF("fence")
      fence.collect()
      val out = Seq.newBuilder[QueryExecution]
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      var fenced = false
      while (!fenced && System.nanoTime() < deadline) {
        val next = seen.poll(1, TimeUnit.SECONDS)
        if (next eq fence.queryExecution) fenced = true
        else if (next != null) out += next
      }
      assert(fenced, "no QueryExecutionListener event for the fence")
      out.result()
    } finally spark.listenerManager.unregister(listener)
    def scansCentroids(qe: QueryExecution): Boolean =
      qe.optimizedPlan.collectWithSubqueries {
        case l: LogicalRelation => l.relation
      }.exists {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.getName == "centroids")
        case _ => false
      }
    assert(indexIds(idx) === Set(1L, 2L, 11L, 12L))
    assert(actions.count(scansCentroids) === 1,
      s"${actions.count(scansCentroids)} of ${actions.size} actions scan " +
        "centroids/")
  }
}
