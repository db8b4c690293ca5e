package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only weak-scaling / adversarial probes for the near-dup and
  * embedding operators (run with
  * `SPARK_DRIVER_MEM=24g sbt "Test/runMain graft.tools.ScaleProbe [probe ...]"`).
  *
  * Probes (all built from sf0.1 — results land in BASELINE.md):
  *   - `docs-weak`: 10 vocabulary-disjoint replicas of the 5k-doc corpus
  *     (tokens prefixed per replica, ids offset) = 50k docs of independent
  *     data. minhashLshPairs must return exactly 10x the per-replica pair
  *     count, sublinear wall growth; then connectedComponents + survivors
  *     over the pair graph.
  *   - `emb-adversarial`: every embedding replicated x10 under new ids
  *     (20k vectors, 90,000 true cos=1.0 pairs). lshNearDupPairs in the
  *     SELECTIVE production regime (threshold 0.9, nBits=16, nTables=8)
  *     must find exactly 2000*C(10,2) pairs with bounded candidates.
  *   - `emb-weak`: 10 sign-flipped replicas (elementwise deterministic
  *     +/-1 per replica — a diagonal orthogonal transform: within-replica
  *     cosines are EXACTLY preserved, cross-replica cosines become
  *     ~N(0, 1/dim) noise) = 20k independent vectors; selective regime
  *     must return 0 pairs (nothing reaches 0.9) quickly.
  *   - `pq-100k`: product quantization at 100k vectors — sample-bounded
  *     train, one-pass encode, at-rest raw-vs-coded parquet bytes, and
  *     ADC-vs-brute top-10 recall.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val which = if (args.isEmpty) Set("docs-weak", "emb-adversarial",
      "emb-weak") else args.toSet
    val dir = "/root/testdata/sf0.1"
    val spark = graft.Session.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"PROBE $name result=$n t=${(System.nanoTime() - t0) / 1e9}%.1f")
    }

    if (which("docs-weak")) {
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          // per-replica token prefix => vocabulary-disjoint shingles
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("docs_weak_50k_rows")(big.count())
      var pairs: org.apache.spark.sql.DataFrame = null
      // checkpoint INSIDE the timed block — an eager checkpoint at val
      // definition would run the whole detector untimed
      t("docs_weak_minhash_pairs") {
        pairs = graft.operators.Dedup.minhashLshPairs(big, col("doc_id"),
          col("text"), threshold = 0.6, k = 128, bands = 32)
          .localCheckpoint(true)
        pairs.count()
      }
      t("docs_weak_survivors")(
        graft.operators.Dedup.nearDupSurvivors(big, col("doc_id"), pairs)
          .where(col("survivor_id") === col("doc_id")).count())
    }

    if (which("wh-weak")) {
      // warehouse tier weak scaling: 10 user-disjoint replicas of the
      // sf0.1 events table = 1M rows / 15k entities of independent data.
      // Island counts must be EXACTLY 10x the per-replica 80,440 (+15k
      // open intervals), the spine exactly 15,000 x 30 — per-entity
      // independence means any deviation is an operator bug, not noise.
      val ev = graft.Tables.events(spark, dir)
      val replicas = (0 until 10).map { k =>
        ev.select((col("user_id") + lit(k * 1000000L)).as("user_id"),
          col("ts"),
          (col("event_id") + lit(k * 10000000L)).as("event_id"),
          col("event_type"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      val one = replicas.head.localCheckpoint(true)
      t("wh_rows_1x")(one.count())
      t("wh_scd2_1x")(graft.operators.Warehouse.scd2History(one,
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .count()) // 80,440 + 1,500 open
      t("wh_rows_10x")(big.count())
      var hist: DataFrame = null
      t("wh_scd2_10x") {
        hist = graft.operators.Warehouse.scd2History(big, col("user_id"),
          col("ts"), col("event_id"), col("event_type"))
          .localCheckpoint(true)
        hist.count() // exactly 819,400 = 10 x (80,440 + 1,500)
      }
      t("wh_scd2_10x_current")(hist.where(col("is_current")).count()) // 15,000
      t("wh_pointintime_10x") {
        val tagged = big.select(col("user_id"), to_date(col("ts")).as("day"))
        val probes = tagged
          .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
          .crossJoin(tagged.select(col("user_id")).distinct())
          .withColumn("pts", col("day").cast("timestamp"))
        graft.operators.AsOfJoin.asOf(probes,
          hist.select(col("entity").as("user_id"), col("valid_from"),
            col("state")),
          "user_id", "pts", "valid_from", Seq("state")).count() // 450,000
      }
      t("wh_gapfill_10x")(graft.operators.Warehouse.gapfillDaily(big,
        col("user_id"), col("ts")).count()) // 450,000
    }

    if (which("docs-stages")) {
      // stage attribution for the 50k minhash pipeline: shingle postings,
      // signature minima, banding+candidates, then the end-to-end detector
      import org.apache.spark.sql.expressions.Window
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("stages_rows")(big.count())
      val posted = big.select(col("doc_id").as("id"), col("text"))
        .repartition(32)
        .select(col("id"), posexplode(
          split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
          .as(Seq("pos", "word")))
      val ordered = Window.partitionBy("id").orderBy("pos")
      val perDoc = Window.partitionBy("id")
      val sh = posted.withColumn("n_words", count(lit(1)).over(perDoc))
        .withColumn("shingle", concat_ws(" ", col("word"),
          lead(col("word"), 1).over(ordered),
          lead(col("word"), 2).over(ordered)))
        .where((col("n_words") >= 3 && col("pos") <= col("n_words") - 3) ||
          (col("n_words") < 3 && col("pos") === 0))
        .groupBy("id", "shingle").agg(first(lit(1)))
        .select("id", "shingle")
      t("stages_postings")(sh.count())
      val hashed = sh.select(col("id"), xxhash64(col("shingle")).as("base"))
        .select(col("id") +:
          (0 until 128).map(j => xxhash64(col("base"), lit(j)).as(s"h$j")): _*)
      val mins = hashed.groupBy("id").agg(min(col("h0")).as("m0"),
        (1 until 128).map(j => min(col(s"h$j")).as(s"m$j")): _*)
      t("stages_mins128")(mins.count())
      val banded = mins.select(col("id"),
        posexplode(array((0 until 32).map { b =>
          xxhash64(concat_ws(",",
            (0 until 4).map(i => col(s"m${b * 4 + i}")): _*))
        }: _*)).as(Seq("band_idx", "band_hash")))
      val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      t("stages_candidates")(cand.count())
      t("stages_full_detector")(
        graft.operators.Dedup.minhashLshPairs(big, col("doc_id"),
          col("text"), threshold = 0.6, k = 128, bands = 32).count())
    }

    def emb: DataFrame = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")

    if (which("idx-weak")) {
      // persisted-index probe at 10x: 50k-doc corpus persisted once, a
      // 5k near-dup batch probes it — the recompute path re-signatures
      // all 50k docs per probe, the persisted path none of them
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val corpus = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("idx_corpus_rows")(corpus.count())
      // batch = replica-0 docs with one appended token: true near-dups
      // of exactly the replica-0 slice of the corpus
      val batch = docs.select(
        (col("doc_id") + lit(50000000L)).as("doc_id"),
        concat(regexp_replace(col("text"), "(\\S+)", "r0$1"), lit(" zz"))
          .as("text")).localCheckpoint(true)
      t("idx_batch_rows")(batch.count())
      t("idx_direct_recompute_pairs")(
        graft.operators.Dedup.incrementalNearDupPairs(
          batch, col("doc_id"), col("text"),
          corpus, col("doc_id"), col("text"), threshold = 0.6).count())
      val idxPath = "/tmp/graft_scaleprobe_idx"
      t("idx_persist_once") {
        graft.operators.Dedup.persistIndex(corpus, col("doc_id"),
          col("text"), idxPath)
        0L
      }
      t("idx_probe_persisted_pairs")(
        graft.operators.Dedup.probePersistedIndex(batch, col("doc_id"),
          col("text"), idxPath, threshold = 0.6).count())
      t("idx_probe_persisted_again")(
        graft.operators.Dedup.probePersistedIndex(batch, col("doc_id"),
          col("text"), idxPath, threshold = 0.6).count())
    }

    if (which("gate-crash")) {
      // crash-injection at size: bootstrap the continuous ingest gate on
      // the 50k-doc corpus, kill it "mid-bootstrap" (meta uncommitted +
      // a partial band partition — the worst on-disk state the committer
      // can leave), replay epoch 0, then probe with a 5k batch at the
      // 10:1 ratio and check admissions against the composed batch
      // operators as an exact oracle
      import org.apache.hadoop.fs.Path
      val base = "/tmp/graft_scaleprobe_gate"
      val fs = new Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true)
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val corpus = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      // batch = half near-dups of replica 0 (must be REJECTED against the
      // persisted index) + half vocabulary-novel docs (must be ADMITTED),
      // so the probe exercises both gate outcomes at size
      val batch = docs.select(
        (col("doc_id") + lit(50000000L)).as("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(regexp_replace(col("text"), "(\\S+)", "r0$1"), lit(" zz")))
          .otherwise(regexp_replace(col("text"), "(\\S+)", "r99$1"))
          .as("text")).localCheckpoint(true)
      val gate = graft.operators.Dedup.ingestGateBatch(
        s"$base/idx", s"$base/corpus", threshold = 0.6) _
      def corpusRows(path: String): Long =
        spark.read.parquet(path).count()
      t("gate_bootstrap_50k") { gate(corpus, 0L); corpusRows(s"$base/corpus") }
      // the injected crash state: job commit never happened for meta,
      // and one band partition file is torn
      fs.delete(new Path(s"$base/idx/meta/_GRAFT_COMMITTED"), false)
      fs.delete(new Path(s"$base/idx/meta/_SUCCESS"), false)
      val aBand = fs.globStatus(
        new Path(s"$base/idx/bands/ingest_batch=0/part-*")).head.getPath
      fs.delete(aBand, false)
      t("gate_replay_bootstrap_50k") {
        gate(corpus, 0L); corpusRows(s"$base/corpus")
      }
      t("gate_epoch1_probe_5k_batch") {
        gate(batch, 1L)
        spark.read.parquet(s"$base/corpus")
          .where(col("ingest_batch") === 1).count()
      }
      // exact oracle for the admissions: batch docs with no corpus match,
      // collapsed to within-batch survivors by the same composed operators
      t("gate_epoch1_expected") {
        val matched = graft.operators.Dedup.incrementalNearDupPairs(
          batch, col("doc_id"), col("text"),
          corpus, col("doc_id"), col("text"), threshold = 0.6)
          .select(col("batch_id").as("doc_id")).distinct()
        val fresh = batch.join(matched, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val pairs = graft.operators.Dedup.minhashLshPairs(fresh,
          col("doc_id"), col("text"), threshold = 0.6)
        graft.operators.Dedup.nearDupSurvivors(fresh, col("doc_id"), pairs)
          .where(col("survivor_id") === col("doc_id")).count()
      }
    }

    if (which("ivf-recall")) {
      // honest ANN quality numbers: recall@5 of ivfTopK vs brute force at
      // nProbe << nCentroids, on (a) the near-orthogonal sf0.1 corpus
      // (worst case: no cluster structure for the quantizer to exploit)
      // and (b) a x10-replicated corpus (real clusters — each vector's
      // true neighbors are its replicas)
      val emb = graft.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding").localCheckpoint(true)
      def recall(corpus: DataFrame, nProbe: Int,
                 cents: Option[Array[Array[Double]]] = None): Double = {
        val probes = corpus.where(col("vec_id") % 20 === 0)
        val exact = graft.operators.Similarity
          .bruteForceTopK(corpus, probes, k = 5)
          .select("probe_id", "nbr_id").localCheckpoint(true)
        val denom = exact.count().toDouble
        val hit = graft.operators.Similarity
          .ivfTopK(corpus, probes, k = 5, nCentroids = 16, nProbe = nProbe,
            centroids = cents)
          .select("probe_id", "nbr_id")
          .join(exact, Seq("probe_id", "nbr_id"), "left_semi").count()
        hit / denom
      }
      for (np <- Seq(1, 4, 8, 16))
        t(f"ivf_recall_flat_nprobe$np%02d_x1000")(
          math.round(recall(emb, np) * 1000))
      val replicas = (0 until 10).map { k =>
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"))
      }
      val clustered = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      for (np <- Seq(1, 4))
        t(f"ivf_recall_clustered_nprobe$np%02d_x1000")(
          math.round(recall(clustered, np) * 1000))
      // same corpus, FULL-CORPUS kMeans quantizer instead of the built-in
      // 4096-row sample — the kMeans-feeds-IVF integration's recall story
      val km = graft.operators.Similarity
        .kMeansCentroids(clustered, k = 16, iters = 5)
      for (np <- Seq(1, 4))
        t(f"ivf_recall_clustered_kmeans_nprobe$np%02d_x1000")(
          math.round(recall(clustered, np, Some(km)) * 1000))
    }

    if (which("emb-semdedup")) {
      // SemDeDup at 20k: every vector x10 exact replicas under new ids.
      // Replicas assign to the SAME k-means cluster (identical vectors),
      // pair at cos=1 inside it, and must collapse to exactly 2,000
      // survivor groups — near-orthogonal base vectors never merge at 0.9
      val replicas = (0 until 10).map { k =>
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("semdedup_20k_rows")(big.count())
      t("semdedup_kmeans_k64_train")(
        graft.operators.Similarity.kMeans(big, k = 64, iters = 3).count())
      // kClusters sized so clusters stay small (~300 rows) — the SemDeDup
      // operating point: per-cluster all-pairs is the design's bounded
      // cost, and the shuffle key cardinality must exceed the core count
      t("semdedup_survivor_groups") {
        graft.operators.Similarity
          .semanticDedup(big, kClusters = 64, iters = 3, threshold = 0.9)
          .select("survivor_id").distinct().count()
      }
    }

    if (which("docs-spans")) {
      // span dedup at 50k docs (10 vocabulary-disjoint replicas): spans
      // never collide across replicas, so output = 10x the base corpus's
      // dedup — the probe checks every doc comes back and measures the
      // two-shuffle plan's wall at 10x
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("spans_50k_rows")(big.count())
      t("spans_dedup_all_docs_back")(
        graft.operators.Dedup.spanDedup(big, col("doc_id"), col("text"), 3)
          .count())
      t("spans_docs_fully_emptied")(
        graft.operators.Dedup.spanDedup(big, col("doc_id"), col("text"), 3)
          .where(col("text_deduped") === "").count())
    }

    if (which("emb-kmeans-100k")) {
      // full-corpus trainer at 50x sf0.1 (100k vectors): 50 sign-flipped
      // replicas (independent data, see emb-weak) — wall should track
      // rows linearly (assignment = one codegen pass, update = one
      // partial-agg groupBy of 6.4M cells per round)
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("kmeans100k_rows")(big.count())
      t("kmeans100k_k64_iters3")(
        graft.operators.Similarity.kMeans(big, k = 64, iters = 3).count())
    }

    if (which("pq-100k")) {
      // PQ at 50x sf0.1 (100k vectors, production-shaped codebook:
      // m=8 subspaces x 256 codewords): train cost is sample-bounded,
      // encode is one codegen pass, and the at-rest size win is measured
      // directly by writing raw vs coded parquet side by side
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("pq100k_rows")(big.count())
      var cb: graft.operators.Pq.Codebook = null
      t("pq100k_train_m8_k256") {
        cb = graft.operators.Pq.pqTrain(big, m = 8, ksub = 256, iters = 3)
        cb.cents.length
      }
      var coded: DataFrame = null
      t("pq100k_encode_pass") {
        coded = graft.operators.Pq.encoded(big, cb).localCheckpoint(true)
        coded.count()
      }
      def dirBytes(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.length()).sum
      }
      val base = java.nio.file.Files
        .createTempDirectory("graft_pq_probe").toString
      big.write.parquet(s"$base/raw")
      coded.write.parquet(s"$base/codes")
      t("pq100k_raw_bytes")(dirBytes(s"$base/raw"))
      t("pq100k_coded_bytes")(dirBytes(s"$base/codes"))
      val probes = big.where(col("vec_id") < 10)
      var bruteSet: Set[(Long, Long)] = null
      t("pq100k_brute_topk10") {
        bruteSet = graft.operators.Similarity
          .bruteForceTopK(big, probes, k = 10)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        bruteSet.size
      }
      var pqSet: Set[(Long, Long)] = null
      t("pq100k_adc_topk10") {
        pqSet = graft.operators.Pq.pqTopK(big, probes, k = 10, cb)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        pqSet.size
      }
      t("pq100k_recall_of_100")(
        pqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
      // int8 scalar quantization: the near-lossless 4x tier — recall
      // should stay ~exact where PQ's 32x trades it away
      val sqp = graft.operators.Sq.sqTrain(big)
      var sqCoded: DataFrame = null
      t("pq100k_sq_encode_pass") {
        sqCoded = graft.operators.Sq.encoded(big, sqp).localCheckpoint(true)
        sqCoded.count()
      }
      sqCoded.write.parquet(s"$base/sqcodes")
      t("pq100k_sq_bytes")(dirBytes(s"$base/sqcodes"))
      var sqSet: Set[(Long, Long)] = null
      t("pq100k_sq_topk10") {
        sqSet = graft.operators.Sq.sqTopK(big, probes, k = 10, sqp)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        sqSet.size
      }
      t("pq100k_sq_recall_of_100")(
        sqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
      // IVF-PQ: routing cuts the scan to ~nProbe/nCentroids of the
      // corpus; recall loss is routing + quantization combined
      var ivfpqSet: Set[(Long, Long)] = null
      t("pq100k_ivfpq_c64_p8_topk10") {
        ivfpqSet = graft.operators.Pq.ivfPqTopK(big, probes, k = 10,
            nCentroids = 64, nProbe = 8, coarseIters = 3,
            m = 8, ksub = 256, pqIters = 3)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        ivfpqSet.size
      }
      t("pq100k_ivfpq_recall_of_100")(
        ivfpqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
    }

    if (which("emb-classify")) {
      // perceptron at 20k rows (sign-flipped replicas keep a learnable
      // structure: label = replica parity is NOT separable, so epochs do
      // real gradient work every round — worst case for the train loop)
      val replicas = (0 until 10).map { k =>
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"), lit(k % 2 == 0).as("is_pos"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("classify_20k_rows")(big.count())
      var w: Array[Double] = null
      t("classify_train_5_epochs") {
        w = graft.operators.Classify.perceptronTrain(big, "vec_id",
          "embedding", positive = col("is_pos"), epochs = 5)
        w.length
      }
      t("classify_score_pass")(
        graft.operators.Classify.perceptronScore(big, "vec_id",
          "embedding", w).where(col("predicted")).count())
    }

    if (which("emb-adversarial")) {
      val replicas = (0 until 10).map { k =>
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("emb_adv_20k_rows")(big.count())
      t("emb_adv_lsh_pairs_t0.9")(
        graft.operators.Similarity.lshNearDupPairs(big, 0.9,
          nBits = 16, nTables = 8).count())
    }

    if (which("emb-weak")) {
      // deterministic +/-1 sign per (replica, dim index): diagonal
      // orthogonal transform preserves within-replica dot products exactly
      val replicas = (0 until 10).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("emb_weak_20k_rows")(big.count())
      t("emb_weak_lsh_pairs_t0.9")(
        graft.operators.Similarity.lshNearDupPairs(big, 0.9,
          nBits = 16, nTables = 8).count())
    }

    if (which("text-pipeline")) {
      // 5k -> 50k weak scaling for the r9 text operators: 10 id-offset
      // SAME-vocabulary replicas (tf/df/model counts grow 10x, the
      // selection problems stay statistically identical), so wall
      // growth isolates the operators' shuffle scaling
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "text", "source")
      val big = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("text"), col("source"))
      }.reduce(_.unionByName(_)).localCheckpoint(true)
      def runAll(tag: String, d: DataFrame, quota: Int): Unit = {
        t(s"textpipe_${tag}_bm25_top100")(
          graft.functions.Retrieval.bm25TopK(d, col("doc_id"),
            col("text"), Seq("spark", "join", "window"), k = 100).count())
        t(s"textpipe_${tag}_importance_resample")(
          graft.operators.Importance.importanceResample(d, col("doc_id"),
            col("text"), col("source") === "src0", quota = quota).count())
        t(s"textpipe_${tag}_perplexity_gate")(
          graft.operators.Perplexity.perplexityGate(d, col("doc_id"),
            col("text"), col("source") === "src0", quota = quota).count())
      }
      t("textpipe_5k_rows")(docs.count())
      runAll("5k", docs, quota = 500)
      t("textpipe_50k_rows")(big.count())
      runAll("50k", big, quota = 5000)
      // the composed selection pipeline (gate -> resample over the
      // gated population) and the derived-quota mixture draw at 50k
      t("textpipe_50k_pipeline_selection") {
        val gated = graft.operators.Perplexity.perplexityGate(big,
            col("doc_id"), col("text"), col("source") === "src0",
            quota = 20000)
          .select("doc_id")
        graft.operators.Importance.importanceResample(
          big.join(gated, Seq("doc_id")), col("doc_id"), col("text"),
          col("source") === "src0", quota = 5000).count()
      }
      t("textpipe_50k_mixture_sample")(
        graft.operators.Mixture.temperatureSample(big, col("doc_id"),
          col("source"), budget = 10000).count())
    }

    if (which("semdedup-imbalanced")) {
      // the hot-cluster guard under an ADVERSARIALLY imbalanced corpus:
      // 48k vectors = 12 exact copies of 4,000 identities (identity =
      // one of the 2,000 sf0.1 base vectors under one of 2 sign-flip
      // replicas). The IMBALANCED corpus adds one shared dominant
      // direction h to 80% of identities — k-means hands those ~38k
      // rows to a handful of hot clusters (pairwise cos ≈ 0.5 between
      // DISTINCT hot identities, far below threshold 0.99, so the hot
      // cluster is fat but NOT mostly-duplicate: the all-pairs regime
      // the guard exists for). The BALANCED reference is the same rows
      // without h. Both corpora carry exactly C(12,2)=66 copy-pairs ×
      // 4,000 identities; copies are identical vectors, so cluster
      // routing and LSH collision are deterministic — the survivor
      // count must be EXACTLY 4,000 in both, guard engaged or not.
      def corpus(withHot: Boolean): DataFrame = {
        val h = typedlit(emb.where(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray)
        val flips = (0 until 2).map { r =>
          val signs = typedlit(Array.tabulate(64) { i =>
            var z = (r.toLong << 32) + i + 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
          })
          emb.select((col("vec_id") + lit(r * 2000L)).as("t"),
            zip_with(col("embedding"), signs, (x, s) => x * s).as("b"))
        }
        val ident = flips.reduce(_.unionByName(_))
          .withColumn("b",
            when(lit(withHot) && col("t") % 2000 < 1600,
              zip_with(col("b"), h, (x, y) => x + y)).otherwise(col("b")))
        (0 until 12).map(c =>
          ident.select((col("t") + lit(c * 10000L)).as("vec_id"),
            col("b").as("embedding")))
          .reduce(_.unionByName(_))
      }
      // kClusters = 4 models the k-too-small-for-the-lumpiness regime
      // (the SemDeDup-paper reality: few Lloyd rounds + a dominant mode
      // => long-tailed cell sizes; with enough centroids k-means would
      // re-split the mode itself — measured: at kClusters=64 every cell
      // stays under the cap and guarded == unguarded == ~7 s). Every
      // cell here exceeds maxClusterSize, so the guard carries BOTH
      // corpora; the judged claim is that the 80%-mode corpus stays
      // within ~2x the even corpus at identical (exact) output.
      def run(tag: String, withHot: Boolean,
              maxClusterSize: Long = 5000L): Unit = {
        val big = corpus(withHot).localCheckpoint(true)
        t(s"semdedup_${tag}_rows")(big.count())
        t(s"semdedup_${tag}_survivors") {
          graft.operators.Similarity.semanticDedup(big, kClusters = 4,
              iters = 2, threshold = 0.99,
              maxClusterSize = maxClusterSize)
            .where(col("survivor_id") === col("doc_id")).count()
        }
      }
      run("balanced", withHot = false)
      run("imbalanced", withHot = true)
      // the cost the guard removes: same imbalanced corpus, guard off —
      // exact all-pairs inside the ~28k-row hot cell (~400M fused
      // cosines + candidate-row materialization). Run separately; it is
      // minutes where the guarded run is seconds.
      if (which("semdedup-unguarded"))
        run("imbalanced_UNGUARDED", withHot = true,
          maxClusterSize = Long.MaxValue)
    }

    if (which("kmeans-earlystop")) {
      // early stop + seeding at 100k, on a corpus with TRUE cluster
      // structure (64 well-separated modes + 0.3-scaled noise): k-means
      // on structureless noise never settles (measured: max drift stays
      // > 1e-2 through 10 rounds on the sign-flip corpus — boundary
      // vectors churn forever), so that corpus cannot demonstrate
      // convergence; a 100 TB SemDeDup corpus is clustered by
      // construction or the operator wouldn't be running. Member i =
      // h_{i%64} + 0.3 · flip_{i/2000}(e_{i%2000}) — within-mode cos ≈
      // 0.92, cross-mode ≈ noise; 1e6 % 64 = 0, so replica offsets
      // preserve the mode pattern.
      val hs = emb.where(col("vec_id") < 64).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toSeq)
      val hLit = typedlit(hs.toSeq)
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("noise"))
      }
      val big = replicas.reduce(_.unionByName(_))
        .withColumn("h", element_at(hLit,
          (pmod(col("vec_id"), lit(64)) + 1).cast("int")))
        .select(col("vec_id"),
          zip_with(col("h"), col("noise"),
            (h, n) => h + n * lit(0.3f)).as("embedding"))
        .localCheckpoint(true)
      t("earlystop_rows")(big.count())
      import graft.operators.Similarity
      var full: Similarity.KMeansResult = null
      t("earlystop_full_rounds_cap10") {
        full = Similarity.kMeansTrain(big, k = 64, iters = 10)
        full.rounds.toLong
      }
      def diffs(cents: Array[Array[Double]]): Long = {
        val a = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), cents).as("ca"))
        val b = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), full.centroids).as("cb"))
        a.join(b, Seq("vec_id")).where(col("ca") =!= col("cb")).count()
      }
      // drift-tolerance sweep: rounds saved vs assignments changed
      // relative to the full 10-round run — BASELINE records the pair
      // (the production answer is tol where diffs ~ 0 at fewer rounds)
      for ((tol, tag) <- Seq((1e-2, "1e-2"), (3e-3, "3e-3"),
          (1e-3, "1e-3"))) {
        var early: Similarity.KMeansResult = null
        t(s"earlystop_tol${tag}_rounds_cap10") {
          early = Similarity.kMeansTrain(big, k = 64, iters = 10, tol = tol)
          early.rounds.toLong
        }
        t(s"earlystop_tol${tag}_assignment_diffs_of100k")(
          diffs(early.centroids))
      }
      // farthest-point seeding: one seed per true mode => converges in
      // ~2 rounds where hash-order still churns at the cap; the early
      // stop banks the saved rounds, and the banked rounds change
      // NOTHING (early-stopped assignments == the full capped run's)
      var fpEarly: Similarity.KMeansResult = null
      t("earlystop_fp_seeding_rounds_tol1e-3_cap10") {
        fpEarly = Similarity.kMeansTrain(big, k = 64, iters = 10,
          tol = 1e-3, seeding = Similarity.KMeansSeeding.FarthestPoint)
        fpEarly.rounds.toLong
      }
      t("earlystop_fp_vs_fpfull_assignment_diffs") {
        val fpFull = Similarity.kMeansTrain(big, k = 64, iters = 10,
          seeding = Similarity.KMeansSeeding.FarthestPoint)
        val a = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), fpEarly.centroids)
            .as("ca"))
        val b = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), fpFull.centroids)
            .as("cb"))
        a.join(b, Seq("vec_id")).where(col("ca") =!= col("cb")).count()
      }
    }

    if (which("kmeans-par")) {
      // k-means‖ seeding at 100k on the same 64-mode corpus as
      // kmeans-earlystop. Two regimes:
      //  (a) k=64 (the SemDeDup oracle regime): Parallel seeding must
      //      reach the FarthestPoint convergence profile (~2 Lloyd
      //      rounds at tol=1e-3) WITHOUT any driver-sample step — the
      //      evidence that production runs can drop the 4096-row sample
      //      entirely;
      //  (b) k=6000 (the big-k regime the semanticDedup Scaladoc
      //      recommends): FarthestPoint hard-caps at its 4096-row
      //      sample, so it silently returns 4096 seeds; Parallel draws
      //      candidates from the FULL corpus and delivers all 6000,
      //      with mean residual cost (1 - bestCos, ppm) reported for
      //      both so the coverage win is a measured number, not an
      //      assertion.
      import graft.operators.Similarity
      val hs = emb.where(col("vec_id") < 64).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toSeq)
      val hLit = typedlit(hs.toSeq)
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("noise"))
      }
      val big = replicas.reduce(_.unionByName(_))
        .withColumn("h", element_at(hLit,
          (pmod(col("vec_id"), lit(64)) + 1).cast("int")))
        .select(col("vec_id"),
          zip_with(col("h"), col("noise"),
            (h, n) => h + n * lit(0.3f)).as("embedding"))
        .localCheckpoint(true)
      t("par_rows")(big.count())
      var par: Similarity.KMeansResult = null
      t("par_k64_rounds_tol1e-3_cap10") {
        par = Similarity.kMeansTrain(big, k = 64, iters = 10, tol = 1e-3,
          seeding = Similarity.KMeansSeeding.Parallel(l = 128, rounds = 5))
        par.rounds.toLong
      }
      // different seedings permute the cluster LABELS, so a direct
      // label comparison is meaningless; the partitions are identical
      // up to relabeling iff the (ca, cb) contingency table has exactly
      // k=64 occupied cells (a permutation matrix)
      t("par_vs_fp_contingency_cells_64_means_identical_partitions") {
        val fp = Similarity.kMeansTrain(big, k = 64, iters = 10,
          tol = 1e-3, seeding = Similarity.KMeansSeeding.FarthestPoint)
        val a = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), par.centroids).as("ca"))
        val b = big.select(col("vec_id"),
          Similarity.assignExpr(col("embedding"), fp.centroids).as("cb"))
        a.join(b, Seq("vec_id")).select("ca", "cb").distinct().count()
      }
      // big-k regime: seeding only (iters=0 trains nothing; the probe
      // isolates what each seeding can deliver)
      def meanCostPpm(cents: Array[Array[Double]]): Long = {
        val n = 100000.0
        val phi = big.agg(sum(lit(1.0) - graft.functions.VectorExpressions
          .nearestCentroidScore(col("embedding"), cents)))
          .collect().head.getDouble(0)
        math.round(phi / n * 1e6)
      }
      var fpBig: Array[Array[Double]] = null
      t("par_bigk_fp_seed_count_k6000") {
        fpBig = Similarity.kMeansCentroids(big, k = 6000, iters = 0,
          seeding = Similarity.KMeansSeeding.FarthestPoint)
        fpBig.length.toLong
      }
      t("par_bigk_fp_mean_cost_ppm")(meanCostPpm(fpBig))
      var parBig: Array[Array[Double]] = null
      t("par_bigk_par_seed_count_k6000") {
        parBig = Similarity.kMeansCentroids(big, k = 6000, iters = 0,
          seeding = Similarity.KMeansSeeding.Parallel(l = 4096, rounds = 2))
        parBig.length.toLong
      }
      t("par_bigk_par_mean_cost_ppm")(meanCostPpm(parBig))
    }

    if (which("bpe-50k")) {
      // BPE's scale claim is corpus-size INDEPENDENCE of the merge
      // rounds: the corpus is reduced once to the word-frequency vocab
      // and every round runs over the vocab alone. 10 vocabulary-
      // disjoint replicas (docs-weak recipe) grow the corpus 10× AND
      // the vocab 10× (~31 → ~310 distinct words) — the hardest case
      // for the claim, since both passes grow; walls should still be
      // dominated by the fixed per-round job overhead, not data size.
      import graft.operators.Bpe
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("bpe_rows_5k")(docs.count())
      t("bpe_rows_50k")(big.count())
      var m5: Array[(String, String)] = null
      t("bpe_5k_train20_merges") {
        m5 = Bpe.train(docs, col("text"), 20); m5.length.toLong
      }
      var m50: Array[(String, String)] = null
      t("bpe_50k_train20_merges") {
        m50 = Bpe.train(big, col("text"), 20); m50.length.toLong
      }
      // one-pass encode of the 50k corpus with the trained table:
      // total token count (the Pack/token-budget input at scale)
      t("bpe_50k_encode_tokens") {
        big.select(explode(Bpe.encode(col("text"), m50)).as("t"))
          .count()
      }
    }

    if (which("docs-curation")) {
      // round-9 curation tier at 50k docs (10 id-offset replicas): the
      // chunker, the gopher gate + datacard single-pass rollup, and the
      // composed curation pipeline — all linear scans / skinny shuffles,
      // so wall should track rows ~1:1 vs the 5k baseline
      import graft.functions.TextAnalysis
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "source", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("source"), col("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("curation_rows_50k")(big.count())
      t("curation_chunks_50k")(
        TextAnalysis.chunkDocs(big, "doc_id", "text", 200, 150).count())
      val ok = TextAnalysis.gopherFlags(col("text"), minAvgWordLen = 4.0)
        .map(_._2).reduce(_ && _)
      t("curation_gate_pass_50k")(big.where(ok).count())
      t("curation_datacard_rows_50k")(
        big.select(col("source"),
            TextAnalysis.wsTokenCount(col("text")).as("toks"),
            length(col("text")).as("chars"),
            TextAnalysis.fingerprint(col("text")).as("fp"),
            ok.cast("int").as("okk"))
          .rollup("source")
          .agg(count(lit(1)), sum(col("toks")), sum(col("chars")),
            countDistinct(col("fp")), sum(col("okk")))
          .count())
      // identical replica TEXT means the fingerprint dedup inside the
      // pipeline collapses every 10-replica family (and any natural
      // exact dups already in the 5k corpus) to one survivor: the
      // kept-doc count must equal the DISTINCT passing fingerprints of
      // the 5k base exactly
      import org.apache.spark.sql.expressions.Window
      t("curation_survivors_50k") {
        big.where(ok)
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .where(col("rn") === 1).count()
      }
      t("curation_gate_pass_5k")(docs.where(ok).count())
      t("curation_distinct_pass_5k")(
        docs.where(ok)
          .select(TextAnalysis.fingerprint(col("text")).as("fp"))
          .distinct().count())
    }

    if (which("emb-mine")) {
      // contrastive mining at 20k vectors (10 exact replicas of the 2k
      // corpus): each anchor's replicas are cos=1.0 positives, so with
      // kPos=2/kNeg=5 over 100 anchors the output size is EXACTLY
      // 100*(2+5) — an exactness check riding on the wall measurement
      val base = graft.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val replicas = (0 until 10).map { k =>
        base.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("mine_rows_20k")(big.count())
      val probes = big.where(col("vec_id") < 100)
      t("mine_100anchors_20k") {
        graft.operators.Similarity.contrastiveMine(big, probes,
          kPos = 2, kNeg = 5, posThreshold = 0.9).count()
      }
      // FULL-CORPUS mining: every one of the 20k vectors an anchor,
      // candidates from its k-means cluster. Identical replicas land in
      // one cluster (same assignment), so each anchor has 9 cos=1.0
      // positives in-cluster and ~300 peers for negatives — the output
      // is EXACTLY 20k·(kPos+kNeg) rows
      t("mine_clustered_allanchors_20k") {
        graft.operators.Similarity.contrastiveMineClustered(big,
          kPos = 2, kNeg = 5, posThreshold = 0.9,
          kClusters = 64, iters = 3).count()
      }
      // honesty metric for the cluster restriction: of the TRUE global
      // top-5 hard negatives (brute force over all 20k), what fraction
      // does in-cluster mining retain for the same 100 anchors? (in
      // parts-per-thousand so the probe prints an integer)
      // the kClusters dial trades this recall against per-cluster cost
      // — the synthetic corpus is near-UNIFORM (no lumps), the worst
      // case for cluster routing, exactly why IVF probes >1 list
      // pinned once: the brute mine feeds both recall calls' semi-join
      // AND denominator — unpinned it would re-run the full 20k scoring
      // pass four times and inflate the recorded walls
      val globalNeg = graft.operators.Similarity.contrastiveMine(
        big, probes, kPos = 0, kNeg = 5, posThreshold = 0.9)
        .select("probe_id", "nbr_id").localCheckpoint(true)
      val nGlobal = globalNeg.count()
      def recallPpt(kClusters: Int): Long = {
        val clusteredNeg = graft.operators.Similarity
          .contrastiveMineClustered(big, kPos = 0, kNeg = 5,
            posThreshold = 0.9, kClusters = kClusters, iters = 3)
          .where(col("probe_id") < 100)
          .select("probe_id", "nbr_id")
        val hit = globalNeg.join(clusteredNeg,
          Seq("probe_id", "nbr_id"), "left_semi").count()
        math.round(1000.0 * hit / nGlobal)
      }
      t("mine_clustered_recall_at5_k64_ppt")(recallPpt(64))
      t("mine_clustered_recall_at5_k8_ppt")(recallPpt(8))
    }

    if (which("emb-bq")) {
      // binary quantization at 20k vectors (10 exact replicas of 2k):
      // Hamming pre-rank + exact rerank vs full brute force — wall and
      // top-10 recall (ppt). Replicas guarantee 9 hamming-0 twins per
      // probe, so the positive tail of the candidate set is exact.
      val base = graft.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val replicas = (0 until 10).map { k =>
        base.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      val probes = big.where(col("vec_id") < 100)
      t("bq_rows_20k")(big.count())
      var bq: org.apache.spark.sql.DataFrame = null
      t("bq_top10_rerank100_20k") {
        bq = graft.operators.Bq.hammingTopK(big, probes, k = 10,
          rerank = 100).localCheckpoint(true)
        bq.count()
      }
      var brute: org.apache.spark.sql.DataFrame = null
      t("bq_brute_top10_20k") {
        brute = graft.operators.Similarity.bruteForceTopK(big, probes,
          k = 10).localCheckpoint(true)
        brute.count()
      }
      t("bq_recall_at10_ppt") {
        val hit = brute.select("probe_id", "nbr_id")
          .join(bq.select("probe_id", "nbr_id"),
            Seq("probe_id", "nbr_id"), "left_semi").count()
        math.round(1000.0 * hit / brute.count())
      }
      // the rerank dial's recall curve (ppt vs exact top-10): how many
      // candidates the Hamming pre-rank must admit before the exact
      // rerank recovers the true neighbors
      for (rr <- Seq(20, 50, 400)) {
        t(s"bq_recall_at10_rerank${rr}_ppt") {
          val hit = brute.select("probe_id", "nbr_id")
            .join(graft.operators.Bq.hammingTopK(big, probes, k = 10,
                rerank = rr).select("probe_id", "nbr_id"),
              Seq("probe_id", "nbr_id"), "left_semi").count()
          math.round(1000.0 * hit / brute.count())
        }
      }
    }
    if (which("passages-50k")) {
      // passage dedup at 50k docs (10 id-offset replicas of the SAME
      // text): replica-0 must reproduce the 5k base outcome exactly and
      // every other replica must collapse to "" (all its windows are
      // replica-0 re-quotes) — so the TOTAL surviving word count at 50k
      // equals the base run's, an exactness invariant riding on the
      // wall measurement. Then the incremental shape: index 9 replicas,
      // probe the 10th (an all-near-dup batch).
      import graft.operators.Dedup
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("passages_rows_50k")(big.count())
      def outWords(df: DataFrame): Long = df
        .select(when(col("text_deduped") === "", 0)
          .otherwise(size(split(col("text_deduped"), " "))).as("nw"))
        .agg(sum("nw")).collect()(0).getLong(0)
      var w50 = 0L; var w5 = 0L
      t("passages_dedup_50k") {
        val d = Dedup.passageDedup(big, col("doc_id"), col("text"),
          windowWords = 6).localCheckpoint(true)
        val c = d.count(); w50 = outWords(d); c
      }
      t("passages_dedup_5k_base") {
        val d = Dedup.passageDedup(docs, col("doc_id"), col("text"),
          windowWords = 6).localCheckpoint(true)
        val c = d.count(); w5 = outWords(d); c
      }
      t("passages_surviving_words_equal")(if (w50 == w5) 1L else -w50)
      val corpus = big.where(col("doc_id") < 9000000L)
      val batch = big.where(col("doc_id") >= 9000000L)
      val idxp = System.getProperty("java.io.tmpdir") +
        "/graft_probe_passage_idx"
      t("passages_persist_45k") {
        Dedup.persistPassageIndex(corpus, col("doc_id"), col("text"),
          idxp, windowWords = 6)
        spark.read.parquet(s"$idxp/windows").count()
      }
      t("passages_probe_5k_nonempty") {
        Dedup.probePassageIndex(batch, col("doc_id"), col("text"),
            idxp, windowWords = 6)
          .where(col("text_deduped") =!= "").count()
      }
    }

    if (which("passage-gate-50k")) {
      // continuous passage gate at size: bootstrap 45k docs, inject the
      // worst bootstrap crash state (meta present, no commit marker),
      // replay idempotently, then run a 5k all-near-dup epoch, replay
      // it POST-COMMIT (the self-exclusion case), compact, and verify a
      // later epoch still excises base-partition passages
      import graft.operators.Dedup
      import org.apache.hadoop.fs.Path
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("text"))
      }
      val corpus45k = replicas.take(9).reduce(_.unionByName(_))
        .localCheckpoint(true)
      val batch5k = replicas(9).localCheckpoint(true)
      val root = System.getProperty("java.io.tmpdir") + "/graft_probe_pgate"
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(root), true)
      def corpusRows(): Long =
        spark.read.parquet(s"$root/corpus").count()
      t("pgate_bootstrap_45k") {
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(corpus45k, 0L)
        corpusRows()
      }
      val afterBootstrap = corpusRows()
      t("pgate_torn_meta_replay_45k") {
        fs.delete(new Path(s"$root/idx/meta/_GRAFT_COMMITTED"), false)
        fs.delete(new Path(s"$root/idx/meta/_SUCCESS"), false)
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(corpus45k, 0L)
        corpusRows()
      }
      require(corpusRows() == afterBootstrap, "torn-meta replay diverged")
      t("pgate_neardup_epoch_5k") {
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(batch5k, 1L)
        corpusRows()
      }
      val afterEpoch1 = corpusRows()
      t("pgate_postcommit_replay_5k") {
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(batch5k, 1L)
        corpusRows()
      }
      require(corpusRows() == afterEpoch1, "post-commit replay diverged")
      // an all-near-dup epoch admits nothing and writes NO partitions
      // (that itself is the exactly-once contract working); a NOVEL
      // epoch must land before compaction has two epochs to fold
      t("pgate_novel_epoch_5k") {
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(
          docs.select((col("doc_id") + lit(10000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "n$1").as("text")), 2L)
        corpusRows()
      }
      t("pgate_compact_to_base") {
        Dedup.compactSetIndex(spark, s"$root/idx/windows", Seq("h"), 0L)
        spark.read.parquet(s"$root/idx/windows")
          .select("ingest_batch").distinct().count()
      }
      t("pgate_epoch_after_compaction") {
        // re-quotes of epoch-0 text must still be excised from the
        // compacted base partition
        Dedup.passageGateBatch(s"$root/idx", s"$root/corpus",
          windowWords = 6)(
          docs.select((col("doc_id") + lit(20000000L)).as("doc_id"),
            col("text")), 3L)
        spark.read.parquet(s"$root/corpus")
          .where(col("ingest_batch") === 3)
          .where(col("text_deduped") =!= "").count()
      }
    }

    if (which("layout-50k")) {
      // physical-layout tier at 50k docs (10 id-offset replicas):
      // (1) range-sorted parquet — fraction of FILES a ~5%-selectivity
      // n_chars range predicate must read, from the same footer stats
      // the reader prunes with, sorted vs unsorted control;
      // (2) bucketed co-located join at sf0.1 — zero exchanges in the
      // plan vs the plain shuffle join, identical row count
      import graft.operators.Layout
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "n_chars", "lang", "text")
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("n_chars"), col("lang"), col("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("layout_rows_50k")(big.count())
      val tmp = System.getProperty("java.io.tmpdir")
      t("layout_sorted_write_50k") {
        Layout.sortedLayout(big, s"$tmp/graft_probe_sorted",
          Seq(col("n_chars"), col("doc_id")), numFiles = 32)
        32L
      }
      t("layout_unsorted_write_50k") {
        big.repartition(32).write.mode("overwrite")
          .parquet(s"$tmp/graft_probe_unsorted")
        32L
      }
      val bounds = big.selectExpr("min(n_chars)", "max(n_chars)")
        .collect()(0)
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val lo = mn + (mx - mn) * 40 / 100
      val hi = mn + (mx - mn) * 45 / 100
      t("layout_sorted_files_hit_of_32") {
        Layout.matchingFiles(Layout.rowGroupLongStats(spark,
          s"$tmp/graft_probe_sorted", "n_chars"), lo, hi).size.toLong
      }
      t("layout_unsorted_files_hit_of_32") {
        Layout.matchingFiles(Layout.rowGroupLongStats(spark,
          s"$tmp/graft_probe_unsorted", "n_chars"), lo, hi).size.toLong
      }
      t("layout_sorted_filtered_count") {
        spark.read.parquet(s"$tmp/graft_probe_sorted")
          .where(col("n_chars") >= lo && col("n_chars") <= hi).count()
      }
      t("layout_unsorted_filtered_count") {
        spark.read.parquet(s"$tmp/graft_probe_unsorted")
          .where(col("n_chars") >= lo && col("n_chars") <= hi).count()
      }
      // Z-order vs lexicographic for a CONJUNCTIVE 2-d predicate:
      // per-file combined [min,max] on BOTH columns (what the reader
      // consults), a ~5% n_chars band x ~20% doc_id band
      t("layout_zorder_write_50k") {
        Layout.sortedLayout(
          big.withColumn("__z",
            Layout.zValue(col("n_chars"), col("doc_id"))),
          s"$tmp/graft_probe_z", Seq(col("__z")), numFiles = 32)
        32L
      }
      val idB = big.selectExpr("min(doc_id)", "max(doc_id)").collect()(0)
      val (bLo, bHi) = {
        val (a, b) = (idB.getLong(0), idB.getLong(1))
        (a + (b - a) * 40 / 100, a + (b - a) * 60 / 100)
      }
      def fileRanges(dirp: String, c: String): Map[String, (Long, Long)] =
        Layout.rowGroupLongStats(spark, dirp, c).groupBy(_._1)
          .map { case (f, xs) => f -> (xs.map(_._3).min, xs.map(_._4).max) }
      def hit2d(dirp: String): Long = {
        val ra = fileRanges(dirp, "n_chars")
        val rb = fileRanges(dirp, "doc_id")
        ra.keys.count { f =>
          ra(f)._2 >= lo && ra(f)._1 <= hi &&
          rb(f)._2 >= bLo && rb(f)._1 <= bHi
        }.toLong
      }
      t("layout_zorder_2d_files_hit_of_32")(hit2d(s"$tmp/graft_probe_z"))
      t("layout_lex_2d_files_hit_of_32")(hit2d(s"$tmp/graft_probe_sorted"))
      // the regime Z-order exists for: a predicate on the NON-leading
      // column only — the lexicographic layout cannot prune at all
      // (every n_chars-sorted file spans the full doc_id range)
      def hitDocId(dirp: String): Long =
        fileRanges(dirp, "doc_id")
          .count { case (_, (mn, mx)) => mx >= bLo && mn <= bHi }.toLong
      t("layout_zorder_docid_files_hit_of_32")(
        hitDocId(s"$tmp/graft_probe_z"))
      t("layout_lex_docid_files_hit_of_32")(
        hitDocId(s"$tmp/graft_probe_sorted"))
      val orders = graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val customer = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey")
      t("layout_bucket_write_orders") {
        Layout.bucketedTable(orders, "graft_probe_bkt_orders",
          s"$tmp/graft_probe_bkt_orders", "o_custkey", nBuckets = 16)
        orders.count()
      }
      t("layout_bucket_write_customer") {
        Layout.bucketedTable(customer, "graft_probe_bkt_customer",
          s"$tmp/graft_probe_bkt_customer", "c_custkey", nBuckets = 16)
        customer.count()
      }
      t("layout_bucketed_join") {
        val j = spark.table("graft_probe_bkt_orders")
          .join(spark.table("graft_probe_bkt_customer"),
            col("o_custkey") === col("c_custkey"))
        val n = j.count()
        val p = j.queryExecution.executedPlan.toString
        require(!p.contains("Exchange hashpartitioning"),
          "bucketed join shuffled")
        n
      }
      t("layout_plain_join") {
        orders.join(customer, col("o_custkey") === col("c_custkey"))
          .count()
      }
    }
    if (which("cooccur-50k")) {
      // weak-scaling with an EXACT combinatorial invariant: 10
      // vocabulary-disjoint replicas (the docs-weak corpus) must produce
      // exactly 10x the base corpus's distinct pairs and 10x its slot
      // mass — every replica reproduces the base pair structure under its
      // own prefix, and no pair can cross replicas
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val base = docs.localCheckpoint(true)
      val replicas = (0 until 10).map { k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("cooccur_rows")(big.count())
      var basePairs = 0L; var baseSlots = 0L
      t("cooccur_base") {
        val co = graft.operators.Cooccur.windowCooccur(base,
          col("doc_id"), col("text"), window = 3).localCheckpoint(true)
        basePairs = co.count()
        baseSlots = co.limit(1).collect()(0).getAs[Long]("n_slots")
        basePairs
      }
      t("cooccur_50k") {
        val co = graft.operators.Cooccur.windowCooccur(big,
          col("doc_id"), col("text"), window = 3).localCheckpoint(true)
        val pairs = co.count()
        val slots = co.limit(1).collect()(0).getAs[Long]("n_slots")
        require(pairs == 10 * basePairs,
          s"pairs $pairs != 10 x $basePairs")
        require(slots == 10 * baseSlots,
          s"slots $slots != 10 x $baseSlots")
        pairs
      }
    }

    if (which("entity-weak")) {
      // Entity resolution weak scaling: 4 syllable-prefix-disjoint
      // replicas of the sf0.1 variant construction = 180k records /
      // 60k true entities. Replicas share BLOCK keys (same digit
      // suffixes), so blocks grow 4x (~180 records) — the probe
      // stresses exactly the per-block quadratic the guard bounds,
      // while the disjoint prefixes keep cross-replica distances >= 4.
      // Invariant: exactly 60k entities, every one of size 3.
      import org.apache.spark.sql.Column
      val syls = Seq("0" -> "bar", "1" -> "dex", "2" -> "fin",
        "3" -> "gol", "4" -> "hup", "5" -> "jyc", "6" -> "kwm",
        "7" -> "mrd", "8" -> "nsk", "9" -> "ptz")
      val name0 = syls.foldLeft(
        lpad(col("c_custkey").cast("string"), 6, "0"): Column) {
        case (c, (d, sy)) => regexp_replace(c, d, sy)
      }
      val cust = graft.Tables.customer(spark, dir)
      // replica prefixes pairwise distinct at EVERY position (lev 3
      // apart) — a 1-char prefix would put same-custkey records of two
      // replicas at distance 1, inside the gate
      val prefixes = Seq("zub", "vok", "wim", "yat")
      val recs = prefixes.zipWithIndex.map { case (pfx, k) =>
        cust.select((col("c_custkey") + lit(k * 1000000L))
            .as("c_custkey"),
          concat(lit(pfx), name0).as("name0"),
          (col("c_custkey") % 3).cast("int").as("p"))
      }.reduce(_.unionByName(_))
        .select(explode(array(
          struct((col("c_custkey") * 3).as("id"), col("name0").as("name")),
          struct((col("c_custkey") * 3 + 1).as("id"),
            concat(lit("dr. "), col("name0")).as("name")),
          // deletion inside the replica prefix's following syllable
          // block start (chars 4..6 = the constant "bar|dex|.." of
          // digit 0): keep 1..(3+p), skip one, take the rest
          struct((col("c_custkey") * 3 + 2).as("id"),
            concat(expr("substr(name0, 1, 3 + p)"),
              expr("substr(name0, 5 + p, 24)")).as("name"))))
          .as("r"))
        .select(col("r.id").as("id"), col("r.name").as("name"))
        .localCheckpoint(true)
      t("entity_weak_180k_rows")(recs.count())
      t("entity_weak_resolve") {
        val resolved = graft.operators.EntityResolution.resolveEntities(
          recs, col("id"), col("name"), n => substring(n, -9, 9))
          .localCheckpoint(true)
        val sizes = resolved.groupBy("entity_id").count()
          .groupBy("count").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        require(sizes == Map(3L -> 60000L),
          s"entity size histogram wrong: $sizes")
        resolved.select("entity_id").distinct().count()
      }
    }

    if (which("entity-gate")) {
      // Continuous-ER lifecycle at size: bootstrap the gate on 3
      // prefix-disjoint replicas of the sf0.1 variant construction
      // (135k records / 45k entities), then an epoch of 15k NEW
      // titled forms of replica-0's canonicals ("md " head, suffix
      // blocks intact) — every one must ADOPT a persisted entity —
      // then a post-commit replay of that epoch (self-excluding read:
      // row-identical, nothing duplicated).
      import org.apache.spark.sql.Column
      val syls = Seq("0" -> "bar", "1" -> "dex", "2" -> "fin",
        "3" -> "gol", "4" -> "hup", "5" -> "jyc", "6" -> "kwm",
        "7" -> "mrd", "8" -> "nsk", "9" -> "ptz")
      val name0 = syls.foldLeft(
        lpad(col("c_custkey").cast("string"), 6, "0"): Column) {
        case (c, (d, sy)) => regexp_replace(c, d, sy)
      }
      val cust = graft.Tables.customer(spark, dir)
      val prefixes = Seq("zub", "vok", "wim")
      val corpus = prefixes.zipWithIndex.map { case (pfx, k) =>
        cust.select((col("c_custkey") + lit(k * 1000000L))
            .as("c_custkey"),
          concat(lit(pfx), name0).as("name0"),
          (col("c_custkey") % 3).cast("int").as("p"))
      }.reduce(_.unionByName(_))
        .select(explode(array(
          struct((col("c_custkey") * 3).as("id"),
            col("name0").as("name")),
          struct((col("c_custkey") * 3 + 1).as("id"),
            concat(lit("dr. "), col("name0")).as("name")),
          struct((col("c_custkey") * 3 + 2).as("id"),
            concat(expr("substr(name0, 1, 3 + p)"),
              expr("substr(name0, 5 + p, 24)")).as("name"))))
          .as("r"))
        .select(col("r.id").as("id"), col("r.name").as("name"))
        .localCheckpoint(true)
      val epoch = cust
        .select((col("c_custkey") + lit(9000000L) * 3).as("id"),
          concat(lit("md "), lit("zub"), name0).as("name"))
        .localCheckpoint(true)
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_er_gate_probe").toString
      val gate = graft.operators.EntityResolution.entityGateBatch(
        idxDir, "id", "name", n => substring(n, -9, 9)) _
      def records = spark.read.parquet(s"$idxDir/records")
      t("entity_gate_bootstrap_135k") {
        gate(corpus, 0L)
        val n = records.select("entity_id").distinct().count()
        require(n == 45000L, s"bootstrap entities: $n != 45000")
        n
      }
      t("entity_gate_epoch_15k_adopts") {
        gate(epoch, 1L)
        val ep = records.where(col("ingest_batch") === 1L)
        val adopted = ep.where(col("entity_id") < col("id")).count()
        require(adopted == 15000L, s"adopted: $adopted != 15000")
        require(records.select("entity_id").distinct().count() == 45000L,
          "epoch minted unexpected new entities")
        adopted
      }
      t("entity_gate_epoch_replay_identical") {
        val before = records.orderBy("id").collect()
        gate(epoch, 1L)
        val after = records.orderBy("id").collect()
        require(before.sameElements(after), "replay not row-identical")
        after.length
      }
    }

    if (which("pagerank-50k")) {
      // PageRank over the full sf0.1 customer-supplier graph (the bench
      // query's graph at 10x bench iterations) — exercises the round
      // loop's materialize/release discipline at depth; invariant: total
      // rank mass stays 1 to fp tolerance after 30 rounds
      val e = graft.Tables.orders(spark, dir)
        .join(graft.Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      t("pagerank_30_rounds") {
        val r = graft.operators.Graph.pageRank(e, col("src"), col("dst"),
          iters = 30).localCheckpoint(true)
        val mass = r.agg(sum(col("rank"))).collect()(0).getDouble(0)
        require(math.abs(mass - 1.0) < 1e-6, s"mass drifted: $mass")
        r.count()
      }
    }

    if (which("graph-weak")) {
      // k-core + BFS at ~2M edges over graphs with EXACT closed-form
      // answers (disjoint components make any deviation an operator
      // bug, not noise — the family's weak-scaling protocol).
      // k-core: 100k disjoint K6 cliques (every vertex degree 5,
      // survives k=3) + 100k disjoint 5-chains (peel to nothing at
      // k=3) = 600k + 500k vertices, 1.5M + 0.4M edges.
      val m = 100000L
      val cliquePairs = for { j <- 0 until 6; j2 <- j + 1 until 6 }
        yield (j, j2)
      val cliqueEdges = spark.range(m)
        .select(col("id"), explode(typedlit(cliquePairs)).as("p"))
        .select((col("id") * 10 + col("p._1")).as("s"),
          (col("id") * 10 + col("p._2")).as("d"))
      val chainBase = m * 10
      val chainPairs = (0 until 4).map(j => (j, j + 1))
      val chainEdges = spark.range(m)
        .select(col("id"), explode(typedlit(chainPairs)).as("p"))
        .select((lit(chainBase) + col("id") * 10 + col("p._1")).as("s"),
          (lit(chainBase) + col("id") * 10 + col("p._2")).as("d"))
      val edges = cliqueEdges.unionByName(chainEdges).localCheckpoint(true)
      t("graph_kcore_1p9m_edges") {
        val r = graft.operators.Graph.kCore(edges, col("s"), col("d"),
          k = 3, rounds = 2).localCheckpoint(true)
        val n = r.count()
        require(n == 6 * m, s"expected ${6 * m} core vertices, got $n")
        val bad = r.where(col("degree") =!= 5L).count()
        require(bad == 0, s"$bad core vertices with degree != 5")
        n
      }
      // BFS: 100k disjoint directed 10-chains, sources = chain heads;
      // at rounds=6 exactly 100k vertices sit at every dist 0..6
      val bfsPairs = (0 until 9).map(j => (j, j + 1))
      val bfsEdges = spark.range(m)
        .select(col("id"), explode(typedlit(bfsPairs)).as("p"))
        .select((col("id") * 16 + col("p._1")).as("s"),
          (col("id") * 16 + col("p._2")).as("d")).localCheckpoint(true)
      val sources = spark.range(m).select((col("id") * 16).as("v"))
      t("graph_bfs_1m_vertices_6_rounds") {
        val r = graft.operators.Graph.bfs(bfsEdges, col("s"), col("d"),
          sources, rounds = 6).localCheckpoint(true)
        val byDist = r.groupBy("dist").count().collect()
          .map(x => x.getInt(0) -> x.getLong(1)).toMap
        require((0 to 6).forall(d => byDist.getOrElse(d, 0L) == m),
          s"per-dist counts off: $byDist")
        r.count()
      }
    }

    if (which("walks-weak")) {
      // random-walk + link-prediction tier at ~2M edges, closed-form:
      // 100k disjoint K6 cliques (1.5M edges) — every walk is TRAPPED
      // in its clique, so row counts and clique-confinement are exact;
      // 100k disjoint 5-chains — link prediction has exactly 3
      // candidates per chain with hand-computable scores; and on the
      // cliques the candidate set must be EMPTY (every wedge pair is
      // an edge → the anti-join must kill all of them).
      val m = 100000L
      val cliquePairs = for { j <- 0 until 6; j2 <- j + 1 until 6 }
        yield (j, j2)
      val cliqueEdges = spark.range(m)
        .select(col("id"), explode(typedlit(cliquePairs)).as("p"))
        .select((col("id") * 10 + col("p._1")).as("s"),
          (col("id") * 10 + col("p._2")).as("d")).localCheckpoint(true)
      var walks: DataFrame = null
      t("walks_600k_nodes_5_steps_1p5m_edges") {
        walks = graft.operators.Graph.randomWalks(cliqueEdges,
          col("s"), col("d"), walkLen = 5).localCheckpoint(true)
        val n = walks.count()
        require(n == 6 * m * 6, s"expected ${6 * m * 6} rows, got $n")
        val esc = walks.where(expr("node DIV 10") =!=
          expr("start DIV 10")).count()
        require(esc == 0, s"$esc walk steps escaped their clique")
        n
      }
      t("walk_skipgram_pairs_3p6m_rows_window2") {
        // per walk: 5 adjacent + 4 skip-1 pairs = 9; totals exact
        val p = graft.operators.Graph.walkSkipGramPairs(walks,
          window = 2).localCheckpoint(true)
        val total = p.agg(sum("n_pair")).head().getLong(0)
        require(total == 9 * 6 * m,
          s"expected ${9 * 6 * m} pair occurrences, got $total")
        val cross = p.where(expr("w1 DIV 10") =!= expr("w2 DIV 10"))
          .count()
        require(cross == 0, s"$cross cross-clique pairs")
        p.count()
      }
      t("walk_negatives_3p6m_draws_total_lookup") {
        // every draw must land in EXACTLY one noise interval: the
        // output row count equals draws (walk rows × k) iff the
        // cumulative intervals tile [0, total) with no gap/overlap
        val n = graft.operators.Graph.negativeSamples(walks,
          negatives = 1).count()
        require(n == 6 * m * 6, s"expected ${6 * m * 6} draws, got $n")
        n
      }
      val chainBase = m * 10
      val chainPairs = (0 until 4).map(j => (j, j + 1))
      val chainEdges = spark.range(m)
        .select(col("id"), explode(typedlit(chainPairs)).as("p"))
        .select((lit(chainBase) + col("id") * 10 + col("p._1")).as("s"),
          (lit(chainBase) + col("id") * 10 + col("p._2")).as("d"))
        .localCheckpoint(true)
      t("linkpred_100k_chains_exact_candidates") {
        // chain a-b-c-d-e: candidates (a,c) (b,d) (c,e), all CN=1,
        // all wedge centers degree 2 → resource_alloc 0.5 everywhere;
        // jaccard 0.5 / (1/3) / 0.5
        val r = graft.operators.Graph.linkPrediction(chainEdges,
          col("s"), col("d")).localCheckpoint(true)
        val n = r.count()
        require(n == 3 * m, s"expected ${3 * m} candidates, got $n")
        val badCn = r.where(col("n_common") =!= 1L).count()
        require(badCn == 0, s"$badCn candidates with n_common != 1")
        val j13 = r.where(col("jaccard") === lit(1.0 / 3.0)).count()
        val j05 = r.where(col("jaccard") === lit(0.5)).count()
        require(j13 == m && j05 == 2 * m,
          s"jaccard histogram off: third=$j13 half=$j05")
        val badRa = r.where(col("resource_alloc") =!= lit(0.5)).count()
        require(badRa == 0, s"$badRa candidates with RA != 0.5")
        n
      }
      t("linkpred_cliques_empty_candidate_set") {
        // K6: every wedge-generated pair is an edge → all anti-joined
        val n = graft.operators.Graph.linkPrediction(cliqueEdges,
          col("s"), col("d")).count()
        require(n == 0, s"expected 0 candidates on cliques, got $n")
        n + 1
      }
      t("weighted_walks_1m_walkers_exact_alternation") {
        // 500k disjoint single edges with varying weights: each node's
        // adjacency is ONE interval, so every draw must resolve to the
        // unique partner — walks alternate endpoints exactly. Pins the
        // grid lookup's totality and the nbr_total state threading at
        // 1M walkers × 4 steps.
        val half = 500000L
        val we = spark.range(half).select((col("id") * 2).as("s"),
          (col("id") * 2 + 1).as("d"),
          (pmod(col("id"), lit(97)) + 1).as("w")).localCheckpoint(true)
        val r = graft.operators.Graph.randomWalksWeighted(we, col("s"),
          col("d"), col("w"), walkLen = 4).localCheckpoint(true)
        val n = r.count()
        require(n == 2 * half * 5, s"expected ${2 * half * 5}, got $n")
        val bad = r.where(
          (expr("step % 2 = 0") && col("node") =!= col("start")) ||
          (expr("step % 2 = 1") &&
            col("node") =!= (col("start") - expr("start % 2") * 2 + 1)))
          .count()
        require(bad == 0, s"$bad steps off the alternation")
        n
      }
    }

    if (which("pca-recall")) {
      // PCA as a SEARCH reduction, on data where reduction is the
      // right tool: the 100k sign-flip corpus with dims 0-15 scaled
      // 8x (variance 64:1 — an anisotropic spectrum, PCA's operating
      // point, vs rp-recall's isotropic worst case). PCA-16 trained
      // on a 2k slice must (a) concentrate every component on the
      // scaled subspace and (b) preserve brute top-10 recall through
      // a 4x-fewer-flops projected search.
      val emb = graft.Tables.embeddings(spark, dir)
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_))
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => when(j < 16, x * lit(8.0f)).otherwise(x))
          .as("embedding"))
        .localCheckpoint(true)
      t("pcarec_100k_rows")(big.count())
      var exact: DataFrame = null
      t("pcarec_100k_brute64_top10") {
        exact = graft.operators.Similarity.bruteForceTopK(big,
            big.where(col("vec_id") % 5000 === 0), k = 10)
          .select("probe_id", "nbr_id").localCheckpoint(true)
        exact.count()
      }
      t("pcarec_100k_train16_project_hits") {
        val m = graft.operators.Similarity.pcaTrain(
          big.where(col("vec_id") % 50 === 0), k = 16, powerIters = 8)
        // every component's mass sits in the scaled subspace
        m.components.foreach { c =>
          val inSub = c.take(16).map(x => x * x).sum
          require(inSub > 0.9, s"component leaks: $inSub in subspace")
        }
        val proj = graft.operators.Similarity.pcaProject(big, m)
          .select(col("vec_id"), array((1 to 16).map(c =>
            col(s"proj_$c").cast("float")): _*).as("embedding"))
          .localCheckpoint(true)
        val approx = graft.operators.Similarity.bruteForceTopK(proj,
          proj.where(col("vec_id") % 5000 === 0), k = 10)
          .select("probe_id", "nbr_id")
        val hits = approx.join(exact, Seq("probe_id", "nbr_id"),
          "left_semi").count()
        val nExact = exact.count()
        require(hits * 10 >= nExact * 7,
          s"pca-16 recall $hits/$nExact below 0.7")
        hits
      }
    }

    if (which("interval-weak")) {
      // Interval overlap join at 1M x 1M intervals: the naive overlap
      // predicate is 10^12 comparisons (BroadcastNestedLoopJoin — does
      // not finish and cannot ship 1M rows as a broadcast anyway); the
      // grid join must do it in seconds. Deterministic lattice with an
      // EXACT invariant: left i = [10i, 10i+5]; right family A
      // j = [10j+3, 10j+8] overlaps left j only; family B
      // j = [10j+9, 10j+12] overlaps left j+1 only (last j has no
      // left N) -> exactly N + (N-1) pairs, at ANY bucket width.
      val n = 1000000L
      val left = spark.range(n)
        .select(col("id").as("a_id"), (col("id") * 10).as("a_s"),
          (col("id") * 10 + 5).as("a_e")).localCheckpoint(true)
      val right = spark.range(n)
        .select(col("id").as("b_id"), (col("id") * 10 + 3).as("b_s"),
          (col("id") * 10 + 8).as("b_e"))
        .unionByName(spark.range(n)
          .select((col("id") + n).as("b_id"), (col("id") * 10 + 9).as("b_s"),
            (col("id") * 10 + 12).as("b_e")))
        .localCheckpoint(true)
      val expect = 2 * n - 1
      for (w <- Seq(10L, 7L)) {
        t(s"interval_1m_x_2m_w$w") {
          val got = graft.operators.IntervalJoin.overlapJoin(
            left, right, "a_s", "a_e", "b_s", "b_e", bucketWidth = w)
            .count()
          require(got == expect, s"expected $expect pairs, got $got")
          got
        }
      }
      // hot-row caveat measured: one interval spanning the whole domain
      // fans out to domain/width cells — the documented split-or-cap
      // contract, NOT a silent failure; at width 10 that is 1M cells
      // from one row, still linear and bounded
      t("interval_sentinel_row") {
        val sentinel = spark.range(1)
          .select(lit(9999999L).as("b_id"), lit(0L).as("b_s"),
            lit(n * 10 - 1).as("b_e"))
        graft.operators.IntervalJoin.overlapJoin(
          left, sentinel, "a_s", "a_e", "b_s", "b_e", bucketWidth = 10L)
          .count() // overlaps every left interval: exactly n
      }
    }

    if (which("sketch-weak")) {
      // HLL + PPS at 2M rows with closed-form invariants. HLL: 2M rows
      // over exactly 1M distinct keys (each key twice — duplication
      // must not move a single register) sketched per 16 groups and
      // merged; the estimate must land within 5 standard errors
      // (5·1.04/√256 ≈ 32%) of 1M, and the relational merge must equal
      // the direct sketch of the union REGISTER-FOR-REGISTER.
      import graft.functions.SketchAggregates
      val n = 1000000L
      val src = spark.range(2 * n)
        .select((col("id") % 16).cast("int").as("grp"),
          concat(lit("k"), (col("id") % n).cast("string")).as("item"))
        .localCheckpoint(true)
      t("sketch_hll_2m_rows")(src.count())
      var perGroup: DataFrame = null
      t("sketch_hll_2m_group_sketches") {
        perGroup = src.groupBy("grp")
          .agg(SketchAggregates.hllSketch(col("item"), 2).as("sk"))
          .localCheckpoint(true)
        perGroup.count()
      }
      t("sketch_hll_2m_merge_estimate_pct") {
        val merged = perGroup
          .select(posexplode(col("sk")).as(Seq("idx", "r")))
          .groupBy("idx").agg(max(col("r")).as("r"))
          .agg(collect_list(struct(col("idx"), col("r"))).as("xs"))
          .select(SketchAggregates.hllEstimateFromCells(col("xs"), 2)
            .as("e"))
          .head().getDouble(0)
        val direct = src.agg(SketchAggregates.hllSketch(col("item"), 2)
            .as("sk"))
          .select(SketchAggregates.hllEstimate(col("sk"), 2).as("e"))
          .head().getDouble(0)
        require(merged == direct,
          s"merge-of-partials estimate $merged != direct $direct")
        val errPct = math.abs(merged - n) / n * 100
        require(errPct < 32.5, s"estimate $merged vs $n")
        math.round(errPct * 10) // tenths of a percent
      }
      // PPS: 2M rows, weight = 1 + id%13, n = 10,000 draws — the draw
      // count is EXACTLY n by construction at any scale
      t("sketch_pps_2m_draws") {
        val weighted = spark.range(2 * n)
          .select(col("id").as("doc_id"), (lit(1L) + col("id") % 13).as("w"))
        val got = graft.operators.Shard.systematicPps(weighted, 10000,
          col("w")).agg(sum(col("mult"))).head().getLong(0)
        require(got == 10000L, s"expected 10000 draws, got $got")
        got
      }
    }

    if (which("hits-weak")) {
      // HITS at 1M edges over 100k disjoint 10-leaf stars — closed
      // form after 2 rounds: every center hub = 100 (= leafcount²),
      // every leaf authority = 10; any deviation is an operator bug.
      val stars = 100000L
      val e = spark.range(stars * 10)
        .select((col("id") / 10).as("src"),
          (lit(stars) + col("id")).as("dst"))
        .localCheckpoint(true)
      t("hits_1m_edges")(e.count())
      t("hits_1m_2rounds") {
        val h = graft.operators.Graph.hits(e, col("src"), col("dst"),
          iters = 2).localCheckpoint(true)
        val badC = h.where(col("id") < stars &&
          (col("hub") =!= 100L || col("auth") =!= 0L)).count()
        val badL = h.where(col("id") >= stars &&
          (col("hub") =!= 0L || col("auth") =!= 10L)).count()
        require(badC == 0 && badL == 0, s"centers off=$badC leaves off=$badL")
        h.count() // 1.1M vertices
      }
    }

    if (which("ppr-weak")) {
      // personalized PageRank at 1M edges (the hits-weak star corpus),
      // sources = 1% of star centers. Closed-form invariants on the
      // DISJOINT graph: every node outside a source star has rank
      // EXACTLY 0.0 (zero teleport + zero contributions is exact in
      // floats), mass stays 1 up to float folding, and within a source
      // star the two-level chain is replayable on the driver.
      val stars = 100000L
      val e = spark.range(stars * 10)
        .select((col("id") / 10).as("src"),
          (lit(stars) + col("id")).as("dst"))
        .localCheckpoint(true)
      val sources = spark.range(stars).where(col("id") % 100 === 0)
        .select(col("id"))
      t("ppr_1m_3rounds") {
        val r = graft.operators.Graph.personalizedPageRank(e, col("src"),
          col("dst"), sources, iters = 3).localCheckpoint(true)
        // Column `/` is double division — floor back to the integer
        // center id before the mod, or source-star leaves misclassify
        val leafCenter =
          floor((col("id") - lit(stars)) / 10).cast("long")
        val leak = r.where(
          (col("id") % 100 =!= 0 && col("id") < stars ||
            col("id") >= stars && leafCenter % 100 =!= 0)
            && col("rank") =!= 0.0).count()
        require(leak == 0, s"$leak nodes outside source stars have mass")
        val mass = r.agg(sum(col("rank"))).head().getDouble(0)
        require(math.abs(mass - 1.0) < 1e-9, s"total mass $mass")
        r.where(col("rank") > 0.0).count() // 11 nodes per source star
      }
    }

    if (which("kmv-weak")) {
      // KMV at 2M (source, token) rows / 500k distinct tokens over 20
      // sources with EXACT closed-form overlaps: sources come in 10
      // disjoint-vocabulary pairs, each pair sharing exactly half its
      // tokens. Invariants: cross-pair sketch intersections are exactly
      // 0 (disjoint vocabularies cannot collide in md5 space), and the
      // within-pair estimate lands near the true J = 1/3.
      val n = 100000L // tokens per source
      // Column `/` is double division — keep every index integral
      // (cast-long floor for the source index, shiftright for the pair)
      val srcIdx = (col("id") / n).cast("long")
      val pairIdx = shiftright(srcIdx, 1)
      val src = spark.range(20 * n)
        .select(concat(lit("s"), srcIdx.cast("string")).as("source"),
          // first half of each source's tokens is shared pair-wide,
          // the second half source-unique
          concat(lit("w"),
            when(col("id") % n < n / 2,
              concat(pairIdx.cast("string"),
                lit("_shared_"), (col("id") % n).cast("string")))
            .otherwise(concat(srcIdx.cast("string"),
              lit("_only_"), (col("id") % n).cast("string"))))
            .as("tok"))
        .select(col("source"), concat(col("tok"), lit(" "),
          col("tok")).as("text")) // two tokens per row, same token
        .localCheckpoint(true)
      t("kmv_2m_rows")(src.count())
      t("kmv_2m_overlap_pairs") {
        val out = graft.operators.Kmv.sourceOverlap(src, col("source"),
          col("text"), k = 256).localCheckpoint(true)
        val within = out.where(
          expr("shiftright(CAST(substr(src_a, 2, 10) AS INT), 1) = " +
            "shiftright(CAST(substr(src_b, 2, 10) AS INT), 1)"))
        val cross = out.where(
          expr("shiftright(CAST(substr(src_a, 2, 10) AS INT), 1) != " +
            "shiftright(CAST(substr(src_b, 2, 10) AS INT), 1)"))
        val badCross = cross.where(col("n_inter") =!= 0L).count()
        require(badCross == 0, s"$badCross cross-pair sketches intersect")
        val ests = within.select(col("jaccard_est"), col("jaccard_exact"))
          .collect()
        require(ests.length == 10, s"${ests.length} within-pairs")
        ests.foreach { r =>
          require(math.abs(r.getDouble(1) - 1.0 / 3.0) < 1e-9)
          // bottom-k error ~1/sqrt(256) = 6.25%; allow 4 sigma
          require(math.abs(r.getDouble(0) - 1.0 / 3.0) < 0.25,
            s"est ${r.getDouble(0)}")
        }
        out.count() // 190 pairs
      }
    }

    if (which("uniques-gate-weak")) {
      // continuous distinct counting lifecycle at 1M-row bootstrap +
      // 10 × 100k epochs: the snapshot holds REGISTER rows (a few KiB
      // per day), so epoch cost tracks the batch, never the corpus —
      // and the end state must equal the direct per-day sketch of ALL
      // rows, register for register (max-merge ≡ recompute at scale).
      import graft.functions.SketchAggregates
      import graft.operators.Warehouse
      val dir = java.nio.file.Files
        .createTempDirectory("graft_uniq_gate").toString
      def mk(n: Long, dayOff: Int, uOff: Long) = spark.range(n)
        .select(date_add(lit("2024-01-01").cast("date"),
          (col("id") % 30).cast("int") + dayOff).as("day"),
          concat(lit("u"), (col("id") % 200000 + uOff).cast("string"))
            .as("user"))
      val boot = mk(1000000L, 0, 0L).localCheckpoint(true)
      t("uniq_gate_bootstrap_1m") {
        Warehouse.uniquesGateBatch(dir, 2, "day", "user")(boot, 0L)
        Warehouse.readSnapshot(spark, dir).count() // 30 day rows
      }
      val epochs = (1 to 10).map(k =>
        mk(100000L, k % 5, k * 1000000L).localCheckpoint(true))
      t("uniq_gate_10_epochs_100k") {
        epochs.zipWithIndex.foreach { case (b, i) =>
          Warehouse.uniquesGateBatch(dir, 2, "day", "user")(b,
            (i + 1).toLong)
        }
        Warehouse.readSnapshot(spark, dir).count() // 34 day rows
      }
      t("uniq_gate_parity_registers") {
        val all = (boot +: epochs).reduce(_.unionByName(_))
        val direct = all.groupBy("day")
          .agg(SketchAggregates.hllSketch(col("user"), 2).as("sk"))
          .collect().map(r => r.getDate(0).toString ->
            r.getSeq[Int](1).toVector).toMap
        val snap = Warehouse.readSnapshot(spark, dir)
          .collect().map(r => r.getDate(0).toString ->
            r.getSeq[Int](1).toVector).toMap
        require(snap == direct,
          "snapshot registers != direct sketch of all rows")
        snap.size.toLong
      }
      t("uniq_gate_range_readout") {
        val r = Warehouse.uniquesOverRange(spark, dir,
          "2024-01-01", "2024-01-07").head()
        r.getLong(0) // 7 days
      }
    }

    if (which("rp-recall")) {
      // JL projection at 100k vectors (50 sign-flip replicas of sf0.1,
      // dim 64 — the pq-100k corpus): project 64 → 16, brute top-10 for
      // 20 probes in PROJECTED space vs exact in original space. The
      // near-orthogonal corpus is JL's worst case (every inter-vector
      // gap is the same magnitude as the distortion), so this recall is
      // the honest floor — clustered real corpora sit far above it; the
      // wall comparison is the 4x-fewer-flops payoff.
      val emb = graft.Tables.embeddings(spark, dir)
      // 50 INDEPENDENT splitmix sign transforms (the pq-100k corpus) —
      // a parity-based flip would leave only 2 distinct transforms and
      // fill every top-10 with exact copies, trivializing the recall
      val replicas = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val big = replicas.reduce(_.unionByName(_)).localCheckpoint(true)
      t("rp_100k_rows")(big.count())
      val probes = big.where(col("vec_id") % 5000 === 0)
      var exact: DataFrame = null
      t("rp_100k_brute64_top10") {
        exact = graft.operators.Similarity
          .bruteForceTopK(big, probes, k = 10)
          .select("probe_id", "nbr_id").localCheckpoint(true)
        exact.count()
      }
      var proj: DataFrame = null
      t("rp_100k_project16") {
        proj = graft.operators.Similarity.randomProject(big, 16)
          .select(col("vec_id"),
            col("proj").cast("array<float>").as("embedding"))
          .localCheckpoint(true)
        proj.count()
      }
      t("rp_100k_brute16_top10_hits") {
        val approx = graft.operators.Similarity.bruteForceTopK(proj,
          proj.where(col("vec_id") % 5000 === 0), k = 10)
          .select("probe_id", "nbr_id")
        approx.join(exact, Seq("probe_id", "nbr_id"), "left_semi").count()
      }
      t("rp_100k_brute32_top10_hits") {
        val proj32 = graft.operators.Similarity.randomProject(big, 32)
          .select(col("vec_id"),
            col("proj").cast("array<float>").as("embedding"))
          .localCheckpoint(true)
        val approx = graft.operators.Similarity.bruteForceTopK(proj32,
          proj32.where(col("vec_id") % 5000 === 0), k = 10)
          .select("probe_id", "nbr_id")
        val hits = approx.join(exact, Seq("probe_id", "nbr_id"),
          "left_semi").count()
        proj32.unpersist()
        hits
      }
      // the STRUCTURED case RP exists for: 10 exact copies per identity
      // (10k identities) — copies project to exactly equal vectors, so
      // the projected top-10 recovers them by construction; recall here
      // must be >= 0.9 (9 of any probe's top-10 are its copies)
      t("rp_100k_structured_top10_hits") {
        val copies = (0 until 10).map { c =>
          replicas.head.select(
            (col("vec_id") + lit(c * 50000000L)).as("vec_id"),
            col("embedding"))
        }.reduce(_.unionByName(_))
          .unionByName(big.where(col("vec_id") >= 1000000L)
            .limit(80000).select(
              (col("vec_id") + lit(900000000L)).as("vec_id"),
              col("embedding")))
          .localCheckpoint(true)
        val sprobes = copies.where(col("vec_id") % 500 === 0 &&
          col("vec_id") < 1000000L)
        val sexact = graft.operators.Similarity
          .bruteForceTopK(copies, sprobes, k = 10)
          .select("probe_id", "nbr_id").localCheckpoint(true)
        val sproj = graft.operators.Similarity.randomProject(copies, 16)
          .select(col("vec_id"),
            col("proj").cast("array<float>").as("embedding"))
          .localCheckpoint(true)
        val approx = graft.operators.Similarity.bruteForceTopK(sproj,
          sproj.where(col("vec_id") % 500 === 0 &&
            col("vec_id") < 1000000L), k = 10)
          .select("probe_id", "nbr_id")
        val nExact = sexact.count()
        val hits = approx.join(sexact, Seq("probe_id", "nbr_id"),
          "left_semi").count()
        require(hits * 10 >= nExact * 9,
          s"structured recall $hits/$nExact below 0.9")
        hits
      }
    }

    if (which("als-weak")) {
      // 2M ratings forming a PERFECT MATCHING (user i <-> item i,
      // rating (i%9)+1): every factor solve has a single-term sum, so
      // production-mode partial aggregation is closed-form checkable —
      // u/v/pred per pair depend only on the rating value. 3 rounds.
      val n = 2000000L
      val ra = spark.range(n).select(col("id").as("u"), col("id").as("i"),
        (pmod(col("id"), lit(9)) + 1).as("r")).localCheckpoint(true)
      t("als_weak_2m_matching_exact_closed_form") {
        val out = graft.operators.Recommend.alsRank1(ra, col("u"),
          col("i"), col("r"), iters = 3, lambda = 0.1).localCheckpoint(true)
        // driver replay of the single-term chain per rating value
        val expect = (1L to 9L).map { rv =>
          val r = rv.toDouble
          var v = 1.0
          var u = 0.0
          for (_ <- 1 to 3) {
            u = r * v / (0.1 + v * v)
            v = r * u / (0.1 + u * u)
          }
          rv -> u * v
        }.toMap
        val expDf = spark.createDataFrame(expect.toSeq)
          .toDF("rating", "exp_pred")
        val bad = out.join(expDf, Seq("rating"))
          .where(col("pred") =!= col("exp_pred")).count()
        require(bad == 0, s"$bad predictions off the closed form")
        val cnt = out.count()
        require(cnt == n, s"expected $n rows, got $cnt")
        cnt
      }
      t("als2_weak_2m_matching_exact_closed_form") {
        // rank-2 on the same matching: per pair the 2x2 solve depends
        // only on (rating, md5-seed class) — 72 closed-form combos
        // replayed on the driver with the operator's exact IEEE tree
        val out2 = graft.operators.Recommend.alsRank2(ra, col("u"),
          col("i"), col("r"), iters = 3, lambda = 0.1)
          .localCheckpoint(true)
        val lam = 0.1
        val exp2 = (for (rv <- 1L to 9L; m <- 0L to 7L) yield {
          val r = rv.toDouble
          var (v1, v2) = (1.0, (m + 1).toDouble / 8.0)
          var (u1, u2) = (0.0, 0.0)
          def slv(f1: Double, f2: Double) = {
            val b1 = r * f1; val b2 = r * f2
            val s11 = f1 * f1; val s12 = f1 * f2; val s22 = f2 * f2
            val det = (lam + s11) * (lam + s22) - s12 * s12
            (((lam + s22) * b1 - s12 * b2) / det,
              ((lam + s11) * b2 - s12 * b1) / det)
          }
          for (_ <- 1 to 3) {
            val us = slv(v1, v2); u1 = us._1; u2 = us._2
            val vs = slv(u1, u2); v1 = vs._1; v2 = vs._2
          }
          (rv, m, u1 * v1 + u2 * v2)
        })
        val expDf2 = spark.createDataFrame(exp2)
          .toDF("rating", "imod", "exp_pred")
        val bad2 = out2.withColumn("imod",
            conv(substring(md5(col("item").cast("string")), 1, 2),
              16, 10).cast("long") % 8)
          .join(expDf2, Seq("rating", "imod"))
          .where(col("pred") =!= col("exp_pred")).count()
        require(bad2 == 0, s"$bad2 rank-2 predictions off the closed form")
        out2.count()
      }
    }

    if (which("pca-weak")) {
      // 100k 64-dim vectors with a PLANTED dominant axis: replicate the
      // 2k corpus 50x under sign flips (variance structure preserved
      // per replica) and add a strong common axis-0 component via a
      // deterministic per-row offset. Production-mode moments (plain
      // partial sums). Invariants: spectral order, near-unit loadings,
      // projection sample variance tracking the eigenvalue.
      val emb = graft.Tables.embeddings(spark, dir)
        .where(col("embedding").isNotNull)
      val copies = (0 until 50).map { k =>
        val signs = typedlit(Array.tabulate(64) { i =>
          var z = (k.toLong << 32) + i + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
        })
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s).as("embedding"))
      }
      val planted = copies.reduce(_.unionByName(_))
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => when(j === 0,
            x + (pmod(col("vec_id"), lit(7)) - lit(3))
              .cast("float")).otherwise(x)).as("embedding"))
        .localCheckpoint(true)
      t("pca_weak_100k_rows")(planted.count())
      t("pca_weak_100k_train_top2") {
        val m = graft.operators.Similarity.pcaTrain(planted, k = 2,
          powerIters = 8)
        require(m.n == 100000L, s"n=${m.n}")
        require(m.eigenvalues(0) > m.eigenvalues(1) &&
          m.eigenvalues(1) > 0, m.eigenvalues.mkString(","))
        // the planted +/-3 axis-0 offset (var = 4) dominates the float
        // noise: the top loading concentrates on dimension 0
        require(math.abs(m.components(0)(0)) > 0.9,
          s"top loading ${m.components(0)(0)}")
        val nrm = math.sqrt(m.components(0).map(x => x * x).sum)
        require(math.abs(nrm - 1.0) < 1e-9, s"norm $nrm")
        // projected sample variance ~ eigenvalue (population / n)
        val p = graft.operators.Similarity.pcaProject(planted, m)
        val stats = p.agg(sum(col("proj_1")).as("s"),
          sum(col("proj_1") * col("proj_1")).as("ss")).head()
        val vhat = stats.getDouble(1) / m.n -
          math.pow(stats.getDouble(0) / m.n, 2)
        require(math.abs(vhat - m.eigenvalues(0)) <
          0.05 * m.eigenvalues(0), s"var $vhat vs ${m.eigenvalues(0)}")
        m.n
      }
    }

    if (which("grouped-ntile")) {
      // The grouped two-phase NTILE vs the per-group window it
      // replaces, on a 90/10-skewed 2M-row corpus (the pretraining
      // language shape: 90% "en", the rest over 9 small languages).
      // Exactness is the invariant; the window form funnels 1.8M rows
      // through ONE task on the hot key, the grouped cut spreads them
      // over (group, bucket). Wall times land in BASELINE.md.
      val n = 2000000L
      val df = spark.range(n)
        .select(col("id"),
          when(pmod(col("id"), lit(10)) =!= 0, "en")
            .otherwise(concat(lit("l"),
              pmod(expr("id div 10"), lit(9)))).as("lang"),
          pmod(col("id") * 7919, lit(1000)).as("metric"))
        .localCheckpoint(true)
      t("grouped_ntile_2m_rows")(df.count())
      var two: DataFrame = null
      t("grouped_ntile_bucketed") {
        two = graft.operators.Shard.scalableNtileByGroup(df, 3,
          col("lang"), col("metric"), col("id"), "t", windowFormMax = 0)
          .localCheckpoint(true)
        two.count()
      }
      var glob: DataFrame = null
      t("grouped_ntile_hotkey_window") {
        glob = df.withColumn("t", ntile(3).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy(col("metric").asc, col("id").asc)))
          .localCheckpoint(true)
        glob.count()
      }
      t("grouped_ntile_zero_mismatches") {
        val bad = two.select("id", "t").as("a")
          .join(glob.select("id", "t").as("b"), Seq("id"))
          .where(col("a.t") =!= col("b.t")).count()
        require(bad == 0, s"$bad rows disagree with the window ntile")
        // per-group tercile sizes: 1.8M "en" rows split 600k each;
        // every small language's 3 tiles within 1 of each other
        val sizes = two.groupBy("lang", "t").count()
          .collect().map(r => ((r.getString(0), r.getInt(1)),
            r.getLong(2))).toMap
        require((1 to 3).forall(t => sizes(("en", t)) == 600000L),
          sizes.filter(_._1._1 == "en").toString)
        (0 until 9).foreach { l =>
          val s = (1 to 3).map(t => sizes((s"l$l", t)))
          require(s.max - s.min <= 1, s"l$l: $s")
        }
        n
      }
    }

    if (which("twophase-weak")) {
      // The bucketed two-phase prefix helpers vs the global window they
      // replace, head-to-head at 2M rows. Exactness is the invariant
      // (zero disagreeing rows — the whole point of the construction);
      // wall times land in BASELINE.md. Collision-heavy metric (1,000
      // distinct values over 2M rows) so tie groups straddle split
      // points, plus a hostile sparse id key for the running sum.
      val n = 2000000L
      val df = spark.range(n)
        .select(col("id"), pmod(col("id") * 7919, lit(1000)).as("metric"),
          (col("id") % 13).as("v"))
        .localCheckpoint(true)
      t("twophase_2m_rows")(df.count())
      var two: DataFrame = null
      t("twophase_ntile_bucketed") {
        two = graft.operators.Shard.scalableNtileMulti(df,
          Seq(graft.operators.Shard.NtileSpec(5, col("metric"), col("id"),
            "t", descending = true)), windowFormMax = 0).localCheckpoint(true)
        two.count()
      }
      var glob: DataFrame = null
      t("twophase_ntile_global_window") {
        glob = df.withColumn("t", ntile(5).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("metric").desc, col("id").asc)))
          .localCheckpoint(true)
        glob.count()
      }
      t("twophase_ntile_zero_mismatches") {
        val bad = two.select("id", "t").as("a")
          .join(glob.select("id", "t").as("b"), Seq("id"))
          .where(col("a.t") =!= col("b.t")).count()
        require(bad == 0, s"$bad rows disagree with the global ntile")
        // quintile sizes exactly n/5 each (5 divides 2M)
        val sizes = two.groupBy("t").count().orderBy("t")
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        require(sizes.toSeq == (1 to 5).map(t => (t, n / 5)),
          sizes.mkString(","))
        n
      }
      // running sum over 2M DISTINCT sparse keys (id * 31 — gaps force
      // the quantile bucketing, not dense ranges)
      val rs = spark.range(n)
        .select((col("id") * 31).as("k"), (col("id") % 13).as("v"))
        .localCheckpoint(true)
      var rsTwo: DataFrame = null
      t("twophase_runsum_bucketed") {
        rsTwo = graft.operators.Shard.twoPhaseRunningSum(rs, col("k"),
          col("v"), "cs").localCheckpoint(true)
        rsTwo.count()
      }
      var rsGlob: DataFrame = null
      t("twophase_runsum_global_window") {
        rsGlob = rs.withColumn("cs", sum(col("v")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("k"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
          .localCheckpoint(true)
        rsGlob.count()
      }
      t("twophase_runsum_zero_mismatches") {
        val bad = rsTwo.select("k", "cs").as("a")
          .join(rsGlob.select("k", "cs").as("b"), Seq("k"))
          .where(col("a.cs") =!= col("b.cs")).count()
        require(bad == 0, s"$bad rows disagree with the global window")
        val last = rsTwo.agg(max("cs")).head().getLong(0)
        val expect = (0L until 13L).map(r => (n / 13) * r).sum +
          (0L until n % 13).sum // Σ id%13 in closed form
        require(last == expect, s"total $last != $expect")
        n
      }
    }

    if (which("vec-768")) {
      // Production-dim ANN probe: the BQ/PQ sizing claims ("32× wins at
      // dims 768-4096") were extrapolated from dim-64 corpora; this pins
      // brute-force vs BQ walls and BQ/SQ/PQ recall at 100k × 768.
      // Graded-neighbor geometry (the regime ANN serves): 10k groups of
      // 10, member m = the group's hash direction + m·3% member-specific
      // perturbation — a probe's true neighbors are its 9 group-mates at
      // graded radii, foreign groups sit near cosine 0 (random 768-dim
      // directions). Every value is an engine-deterministic integer
      // hash, so the corpus is identical across runs. (A first attempt
      // drew 32 shared centers + iid noise: there intra-cluster order IS
      // the noise, which no 32×-compressed code can rank — recall
      // probed the geometry, not the operator.)
      val dim768 = 768
      val nv = 100000L
      def h01(seed: org.apache.spark.sql.Column,
              i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        pmod(xxhash64(seed, i), lit(1000L)).cast("double") / 500.0 - 1.0
      val big = spark.range(nv).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim768 - 1)),
          i => (h01(expr("id div 10"), i) +
            h01(col("id"), i) * (pmod(col("id"), lit(10L)).cast("double")
              * 0.03)).cast("float")).as("embedding"))
        .localCheckpoint(true)
      t("vec768_rows")(big.count())
      // probes = member 0 of the first 20 groups
      val probes = big.where(col("vec_id") % 10 === 0 &&
        col("vec_id") < 200)
      var bruteSet: Set[(Long, Long)] = null
      t("vec768_brute_topk10") {
        bruteSet = graft.operators.Similarity
          .bruteForceTopK(big, probes, k = 10)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        bruteSet.size
      }
      // BQ in its production shape: the one-off interpreted encode pass
      // is PERSISTED (that is the serving contract — hammingTopK's
      // in-flight encode is the one-shot form), then the search runs
      // against the 32×-compressed words parquet
      val bqIdx = java.nio.file.Files
        .createTempDirectory("graft_vec768_bq").toString
      t("vec768_bq_persist_encode") {
        graft.operators.Bq.persistBqIndex(big, bqIdx)
        1L
      }
      var bqSet: Set[(Long, Long)] = null
      t("vec768_bq_probe_topk10_rerank100") {
        bqSet = graft.operators.Bq
          .probeBqIndex(probes, bqIdx, big, k = 10, rerank = 100)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        bqSet.size
      }
      t("vec768_bq_recall_of_100")(
        bqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
      var sqp: graft.operators.Sq.SqParams = null
      var sqSet: Set[(Long, Long)] = null
      t("vec768_sq_topk10") {
        sqp = graft.operators.Sq.sqTrain(big)
        sqSet = graft.operators.Sq.sqTopK(big, probes, k = 10, sqp)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        sqSet.size
      }
      t("vec768_sq_recall_of_100")(
        sqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
      // m=96 subspaces × 256 codewords: dsub=8, 96-byte codes = the 32×
      // payload point at production dims
      var cb: graft.operators.Pq.Codebook = null
      t("vec768_pq_train_m96_k256") {
        cb = graft.operators.Pq.pqTrain(big, m = 96, ksub = 256, iters = 3)
        cb.cents.length
      }
      var pqSet: Set[(Long, Long)] = null
      t("vec768_pq_adc_topk10") {
        pqSet = graft.operators.Pq.pqTopK(big, probes, k = 10, cb)
          .select("probe_id", "nbr_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        pqSet.size
      }
      t("vec768_pq_recall_of_100")(
        pqSet.intersect(bruteSet).size.toLong * 100L / bruteSet.size)
      // at-rest bytes at production dims: raw floats vs BQ words vs PQ
      // codes (real-valued floats, so the raw side does NOT dictionary-
      // compress the way the synthetic dim-64 corpus did)
      val b768 = java.nio.file.Files
        .createTempDirectory("graft_vec768").toString
      def dirBytes768(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.length()).sum
      }
      big.write.parquet(s"$b768/raw")
      graft.operators.Bq.encoded(big, dim768).write.parquet(s"$b768/bq")
      graft.operators.Pq.encoded(big, cb).write.parquet(s"$b768/pq")
      t("vec768_raw_bytes")(dirBytes768(s"$b768/raw"))
      t("vec768_bq_bytes")(dirBytes768(s"$b768/bq"))
      t("vec768_pq_bytes")(dirBytes768(s"$b768/pq"))
    }

    spark.stop()
  }
}
