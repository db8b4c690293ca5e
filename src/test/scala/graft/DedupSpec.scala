package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** A3 priority dedup edge cases (reference main.py:101-166) and the
  * near-dup family's exactness properties on small literal corpora. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val bib = Seq(
    // (id, doi, source, priority)
    (1L, "10.1/a", "wos", 3),
    (2L, "10.1/a", "pubmed", 2),   // duplicate, lower priority -> dropped
    (3L, "10.1/b", "pubmed", 2),
    (4L, null.asInstanceOf[String], "wos", 3),      // null key -> always kept
    (5L, "", "sciencedirect", 1),                    // empty key -> always kept
    (6L, "10.1/b", "sciencedirect", 1),              // dropped
    (7L, "10.1/c", "pubmed", 2),
    (8L, "10.1/c", "wos", 2)                         // tie -> lowest id wins
  ).toDF("id", "doi", "source", "prio")

  test("priorityDedup keeps highest priority per key, all null/empty keys") {
    val out = Dedup.priorityDedup(bib, col("doi"), col("prio"), col("id"))
      .select("id").as[Long].collect().sorted
    assert(out === Seq(1L, 3L, 4L, 5L, 7L))
  }

  test("priorityDedup is idempotent") {
    val once = Dedup.priorityDedup(bib, col("doi"), col("prio"), col("id"))
    val twice = Dedup.priorityDedup(once, col("doi"), col("prio"), col("id"))
    assert(twice.select("id").as[Long].collect().sorted ===
      once.select("id").as[Long].collect().sorted)
  }

  test("priorityDedup surviving row has max priority within its key") {
    val out = Dedup.priorityDedup(bib, col("doi"), col("prio"), col("id"))
    val maxByKey = bib.where(col("doi").isNotNull && col("doi") =!= "")
      .groupBy("doi").agg(max("prio").as("mx"))
    val bad = out.join(maxByKey, "doi").where(col("prio") =!= col("mx"))
    assert(bad.count() === 0)
  }

  test("priorityDedup property: the one-window form equals the keyed " +
    "∪ keyless union on random frames (null/empty/repeated keys, " +
    "repeated priorities and tiebreaks)") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the former two-branch formula, kept as the oracle
    def oracle(df: DataFrame, key: Column, priority: Column,
               tiebreak: Column): DataFrame = {
      val keyed   = df.where(key.isNotNull && key =!= "")
      val keyless = df.where(key.isNull || key === "")
      val w = Window.partitionBy(key).orderBy(priority.desc, tiebreak.asc)
      keyed.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
        .unionByName(keyless)
    }
    val rowGen = for {
      k <- Gen.frequency(2 -> Gen.const(null: String), 2 -> Gen.const(""),
        5 -> Gen.oneOf("10.1/a", "10.1/b", "10.1/c", " "))
      p <- Gen.choose(0, 2)
      t <- Gen.choose(0L, 3L)
    } yield (k, p, t)
    val frameGen = for {
      n <- Gen.choose(0, 24)
      rows <- Gen.listOfN(n, rowGen)
    } yield rows.zipWithIndex.map { case ((k, p, t), i) => (i.toLong, k, p, t) }
    // among rows tied on (key, priority, tiebreak) either formula may keep
    // any one, so compare (key, priority, tiebreak) of every survivor and
    // the full identity of the keyless survivors
    def summary(df: DataFrame) = {
      val rows = df.select("id", "doi", "prio", "tb")
        .as[(Long, Option[String], Int, Long)].collect().toSeq
      (rows.map { case (_, k, p, t) => (k, p, t) }.sorted,
        rows.collect { case (id, k, _, _) if k.forall(_.isEmpty) => id }.sorted)
    }
    val prop = Prop.forAll(frameGen) { rows =>
      val df = rows.toDF("id", "doi", "prio", "tb")
      val args = (col("doi"), col("prio"), col("tb"))
      val got = summary(Dedup.priorityDedup(df, args._1, args._2, args._3))
      val want = summary(oracle(df, args._1, args._2, args._3))
      got == want && want._2.size ==
        rows.count { case (_, k, _, _) => k == null || k.isEmpty }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("priorityDedup keeps every keyless row, duplicates sharing a " +
    "tiebreak included") {
    val df = Seq[(Long, String, Int, Long)](
      (1L, null, 1, 7L), (2L, null, 1, 7L), (3L, "", 1, 7L), (4L, "", 2, 7L),
      (5L, "10.1/a", 1, 7L), (6L, "10.1/a", 2, 7L)).toDF("id", "doi", "prio", "tb")
    val out = Dedup.priorityDedup(df, col("doi"), col("prio"), col("tb"))
      .select("id").as[Long].collect().sorted
    assert(out === Seq(1L, 2L, 3L, 4L, 6L))
  }

  test("exactDedup groups identical normalized text") {
    val docs = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),      // same after normalization
      (3L, "different text")
    ).toDF("id", "text")
    val out = Dedup.exactDedup(docs, col("text"), col("id"))
      .orderBy("survivor_id")
      .select("survivor_id", "n_copies").as[(Long, Long)].collect()
    assert(out === Seq((1L, 2L), (3L, 1L)))
  }

  test("shingles: w=3 word shingles, short text falls back to whole text") {
    val r = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(col("t"))).as[Seq[String]].collect()
    assert(r(0).toSet === Set("a b c", "b c d"))
    assert(r(1) === Seq("a b"))
  }

  test("jaccardPairs equals brute force on a planted corpus") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (3L, "completely unrelated words appear in this document body"),
      (4L, "the quick brown fox jumps over the lazy dog today")    // exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // exact dup pair has jaccard exactly 1.0
    val j14 = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .where(col("id_a") === 1 && col("id_b") === 4)
      .select("jaccard").as[Double].head()
    assert(j14 === 1.0)
  }

  test("containmentPairs catches a short doc embedded in a long one that " +
    "jaccard misses") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      // doc 1's full text embedded in a much longer doc: containment 1.0,
      // jaccard |A|/|B| well under the threshold
      (2L, "the quick brown fox jumps over the lazy dog and then many " +
        "further unrelated words follow here making this document much " +
        "longer than the embedded one by a wide margin indeed truly"),
      (3L, "completely unrelated words appear in this document body")
    ).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jac === Set.empty) // symmetric score misses the subset dup
    val cont = Dedup.containmentPairs(docs, col("doc_id"), col("text"), 0.6)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(cont === Set((1L, 2L, 1.0)))
  }

  test("contaminationScores: exact overlap fraction, zero-match docs kept") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // shingles: {alpha beta gamma, beta gamma delta, gamma delta zeta}:
      // first two occur in the benchmark -> 2/3
      (1L, "alpha beta gamma delta zeta"),
      // no shingle overlap at all -> 0/‖sh‖, must still be in the output
      (2L, "one two three four five"),
      // exact benchmark doc -> 3/3
      (3L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationScores(docs, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"))
      .select("id", "n_sh", "n_matched", "contamination")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 2L, 2.0 / 3.0)))
    assert(got(2L) === ((2L, 3L, 0L, 0.0)))
    assert(got(3L) === ((3L, 3L, 3L, 1.0)))
  }

  test("minhashLshPairs finds the same pairs as exact jaccard") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"),
      (5L, "totally distinct content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 0.5,
      k = 128, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(mh === exact)
  }

  test("incrementalNearDupPairs reports only batch×corpus matches, " +
    "never corpus-internal ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // corpus-internal near-dup of 1 — must NOT appear in the output
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus 1 and 2
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      // novel content — admitted
      (11L, "totally distinct content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(
        batch, col("doc_id"), col("text"),
        corpus, col("doc_id"), col("text"), threshold = 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 1L), (10L, 2L)))
    // scores are the exact shingle jaccard (7 shared of 8+8 shingles)
    val j = Dedup.incrementalNearDupPairs(
        batch, col("doc_id"), col("text"),
        corpus, col("doc_id"), col("text"), threshold = 0.5)
      .where(col("batch_id") === 10L && col("corpus_id") === 1L)
      .select("jaccard").as[Double].head()
    assert(j === 7.0 / 9.0)
  }

  test("incrementalNearDupPairs broadcasts the batch side") {
    val corpus = (1L to 40L)
      .map(i => (i, s"corpus doc number $i with filler words appended"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "corpus doc number 7 with filler words appended"))
      .toDF("doc_id", "text")
    val df = Dedup.incrementalNearDupPairs(
      batch, col("doc_id"), col("text"),
      corpus, col("doc_id"), col("text"), threshold = 0.9)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for the batch side, got:\n$plan")
    val got = df.select("batch_id", "corpus_id").as[(Long, Long)]
      .collect().toSet
    assert(got === Set((100L, 7L)))
  }

  test("persistIndex/probePersistedIndex: probe equals recompute path, " +
    "scans index parquet not corpus text, rejects parameter mismatch") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      (11L, "totally distinct content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_idx_spec").toString
    Dedup.persistIndex(corpus, col("doc_id"), col("text"), idx)
    val probe = Dedup.probePersistedIndex(batch, col("doc_id"),
      col("text"), idx, threshold = 0.5)
    val direct = Dedup.incrementalNearDupPairs(
      batch, col("doc_id"), col("text"),
      corpus, col("doc_id"), col("text"), threshold = 0.5)
    assert(probe.collect().toSet === direct.collect().toSet)
    assert(probe.count() === 2)
    // the probe's corpus side is the persisted artifact: the physical
    // plan reads index parquet and holds NO scan of the corpus relation
    // (the whole point — zero corpus signature recompute per probe)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains(idx.replace("\\", "/").stripPrefix("/")) ||
      plan.contains("parquet"), s"expected index parquet scans:\n$plan")
    assert(!plan.contains("LocalTableScan [doc_id#") ||
      probe.queryExecution.optimizedPlan.collectLeaves().size === 4,
      "probe should touch batch relation + index files only")
    // probing with different signature parameters must fail loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.probePersistedIndex(batch, col("doc_id"), col("text"), idx,
        threshold = 0.5, k = 64, bands = 16)
    }
    assert(ex.getMessage.contains("built with"))
  }

  test("ingest gate: corpus probe + batch-internal dedup + idempotent " +
    "epoch replay (continuous ingestion shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val idx = s"$dir/idx"
    val corpusPath = s"$dir/corpus"
    val gate = Dedup.ingestGateBatch(idx, corpusPath, threshold = 0.5) _
    def corpusIds(): Set[Long] = spark.read.parquet(corpusPath)
      .select("doc_id").as[Long].collect().toSet
    // epoch 0 bootstraps: two distinct docs admitted, index written
    gate(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text"), 0L)
    assert(corpusIds() === Set(1L, 2L))
    // epoch 1: 10 near-dups corpus doc 1 (dropped by the probe);
    // 11 is novel; 12/13 are near-dups of EACH OTHER (internal dedup
    // keeps min id 12)
    val epoch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      (11L, "completely novel content with no overlap whatsoever at all"),
      (12L, "red orange yellow green blue indigo violet pink brown black"),
      (13L, "red orange yellow green blue indigo violet pink brown white")
    ).toDF("doc_id", "text")
    gate(epoch1, 1L)
    assert(corpusIds() === Set(1L, 2L, 11L, 12L))
    // crash-replay: the SAME epoch re-runs (offset commit lost) — the
    // dynamic partition overwrite rewrites ingest_batch=1, no dupes
    gate(epoch1, 1L)
    assert(corpusIds() === Set(1L, 2L, 11L, 12L))
    // the index grew with the admissions: a near-dup of epoch-1 doc 11
    // is now caught by the probe in epoch 2
    gate(Seq(
      (20L, "completely novel content with no overlap whatsoever at most")
    ).toDF("doc_id", "text"), 2L)
    assert(corpusIds() === Set(1L, 2L, 11L, 12L))
  }

  private val gateEpoch0 = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"))
  private val gateEpoch1 = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
    (11L, "completely novel content with no overlap whatsoever at all"))

  private def hadoopFs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def gateCorpusIds(corpusPath: String): Set[Long] =
    spark.read.parquet(corpusPath).select("doc_id").as[Long].collect().toSet

  test("ingest gate: a crash anywhere inside the bootstrap epoch " +
    "(meta absent, or present but uncommitted) re-bootstraps on replay") {
    import org.apache.hadoop.fs.Path
    // shape 1: crash BETWEEN the shingle write and the meta write —
    // bands/shingles/corpus partitions on disk, no meta/ at all
    val d1 = java.nio.file.Files.createTempDirectory("graft_boot1").toString
    val gate1 = Dedup.ingestGateBatch(s"$d1/idx", s"$d1/corpus",
      threshold = 0.5) _
    gate1(gateEpoch0.toDF("doc_id", "text"), 0L)
    hadoopFs.delete(new Path(s"$d1/idx/meta"), true)
    gate1(gateEpoch0.toDF("doc_id", "text"), 0L) // must re-bootstrap, not throw
    assert(gateCorpusIds(s"$d1/corpus") === Set(1L, 2L))
    assert(hadoopFs.exists(new Path(s"$d1/idx/meta/_GRAFT_COMMITTED")))
    // shape 2: crash DURING the meta write — the directory exists with
    // data files but no commit evidence at all (neither the committer's
    // _SUCCESS nor the explicit marker: a mid-job crash writes neither)
    val d2 = java.nio.file.Files.createTempDirectory("graft_boot2").toString
    val gate2 = Dedup.ingestGateBatch(s"$d2/idx", s"$d2/corpus",
      threshold = 0.5) _
    gate2(gateEpoch0.toDF("doc_id", "text"), 0L)
    hadoopFs.delete(new Path(s"$d2/idx/meta/_GRAFT_COMMITTED"), false)
    hadoopFs.delete(new Path(s"$d2/idx/meta/_SUCCESS"), false)
    gate2(gateEpoch0.toDF("doc_id", "text"), 0L) // uncommitted ⇒ bootstrap
    assert(gateCorpusIds(s"$d2/corpus") === Set(1L, 2L))
    assert(hadoopFs.exists(new Path(s"$d2/idx/meta/_GRAFT_COMMITTED")))
    // shape 3 (upgrade): an index committed by code that predates the
    // explicit marker carries only the committer's _SUCCESS — it must
    // read as COMMITTED, not silently re-bootstrap and delete itself
    val d3 = java.nio.file.Files.createTempDirectory("graft_boot3").toString
    val gate3 = Dedup.ingestGateBatch(s"$d3/idx", s"$d3/corpus",
      threshold = 0.5) _
    gate3(gateEpoch0.toDF("doc_id", "text"), 0L)
    hadoopFs.delete(new Path(s"$d3/idx/meta/_GRAFT_COMMITTED"), false)
    val metaFiles = hadoopFs
      .listStatus(new Path(s"$d3/idx/meta"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    // epoch 1 on the legacy-format index: probes (near-dup dropped,
    // novel admitted) and never rewrites meta/
    gate3(gateEpoch1.toDF("doc_id", "text"), 1L)
    assert(gateCorpusIds(s"$d3/corpus") === Set(1L, 2L, 11L))
    assert(hadoopFs
      .listStatus(new Path(s"$d3/idx/meta"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
      === metaFiles, "legacy-committed meta was rewritten on upgrade")
    // either way the rebuilt index must actually PROBE: a near-dup of
    // corpus doc 1 is dropped in the next epoch, the novel doc admitted
    for (d <- Seq(d1, d2)) {
      Dedup.ingestGateBatch(s"$d/idx", s"$d/corpus", threshold = 0.5)(
        gateEpoch1.toDF("doc_id", "text"), 1L)
      assert(gateCorpusIds(s"$d/corpus") === Set(1L, 2L, 11L))
    }
  }

  test("ingest gate: post-bootstrap epochs never touch meta/") {
    import org.apache.hadoop.fs.Path
    val d = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val gate = Dedup.ingestGateBatch(s"$d/idx", s"$d/corpus",
      threshold = 0.5) _
    gate(gateEpoch0.toDF("doc_id", "text"), 0L)
    def metaState(): Map[String, Long] = hadoopFs
      .listStatus(new Path(s"$d/idx/meta"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val afterBootstrap = metaState()
    gate(gateEpoch1.toDF("doc_id", "text"), 1L) // normal later epoch
    gate(gateEpoch1.toDF("doc_id", "text"), 1L) // crash-replay of it
    assert(metaState() === afterBootstrap,
      "a post-bootstrap epoch rewrote meta/ — write-once contract broken")
  }

  test("the minhash, passage and boilerplate gates refuse a flat " +
    "persisted index, naming the dir and its one-shot probe, and write " +
    "nothing") {
    import org.apache.hadoop.fs.Path
    val corpus = gateEpoch0.toDF("doc_id", "text")
    // doc 20 is a verbatim copy of persisted doc 1
    val batch = Seq((20L, gateEpoch0.head._2)).toDF("doc_id", "text")
    val id = col("doc_id")
    val text = col("text")
    // (persisted dir, one-shot probe, persist with the gate's defaults,
    // the gate at its defaults)
    val cases = Seq[(String, String, String => Unit, (String, String) => Unit)](
      ("bands", "probePersistedIndex",
        Dedup.persistIndex(corpus, id, text, _),
        Dedup.ingestGateBatch(_, _)(batch, 0L)),
      ("windows", "probePassageIndex",
        Dedup.persistPassageIndex(corpus, id, text, _, windowWords = 6),
        Dedup.passageGateBatch(_, _)(batch, 0L)),
      ("spans", "probeBoilerplateIndex",
        Dedup.persistBoilerplateIndex(corpus, id, text, _, chunkWords = 8,
          minDocs = 4),
        Dedup.boilerplateGateBatch(_, _)(batch, 0L)))
    val dirs = for ((sub, probe, persist, gate) <- cases) yield {
      val d = java.nio.file.Files.createTempDirectory("graft_flat").toString
      persist(s"$d/idx")
      val ex = intercept[IllegalArgumentException](
        gate(s"$d/idx", s"$d/corpus"))
      assert(ex.getMessage.contains(s"$d/idx/$sub") &&
        ex.getMessage.contains(probe), ex.getMessage)
      assert(!hadoopFs.exists(new Path(s"$d/corpus")))
      assert(!hadoopFs.listStatus(new Path(s"$d/idx/$sub"))
        .exists(_.getPath.getName.startsWith("ingest_batch=")))
      d
    }
    // the persisted minhash index still finds the copy of doc 1
    assert(Dedup.probePersistedIndex(batch, id, text, s"${dirs.head}/idx",
      0.6).select("corpus_id").as[Long].collect().toSet === Set(1L))
  }

  test("ingest gate: admits the same set with and without a session " +
    "checkpoint dir, and reliable checkpoint storage is released") {
    import org.apache.hadoop.fs.Path
    def run(tag: String): Set[Long] = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_pin_$tag").toString
      val gate = Dedup.ingestGateBatch(s"$d/idx", s"$d/corpus",
        threshold = 0.5) _
      gate(gateEpoch0.toDF("doc_id", "text"), 0L)
      gate(gateEpoch1.toDF("doc_id", "text"), 1L)
      gateCorpusIds(s"$d/corpus")
    }
    val cpDir = java.nio.file.Files
      .createTempDirectory("graft_pin_cp").toString
    // without a checkpoint dir the admitted set is pinned with a
    // localCheckpoint, with one by a reliable checkpoint
    val local = run("local")
    // the session is shared across suites and a set checkpoint dir flips
    // Exec.materialize to reliable-checkpoint mode for every later test
    // — restore the previous state (normally unset => null => None) in a
    // finally
    val prevCpDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(cpDir)
    val reliable =
      try run("reliable")
      finally spark.sparkContext.setCheckpointDir(prevCpDir.orNull)
    assert(local === Set(1L, 2L, 11L))
    assert(reliable === local)
    // the finally released every reliable checkpoint (files deleted):
    // leftover rdd-* dirs would accumulate per microbatch for the
    // application's lifetime on a real stream
    val it = hadoopFs.listFiles(new Path(cpDir), true)
    var leftoverRdds = List.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.contains("/rdd-")) leftoverRdds ::= f
    }
    assert(leftoverRdds.isEmpty,
      s"unreleased reliable checkpoints: $leftoverRdds")
  }

  test("spanDedup: first occurrence survives corpus-wide, later re-quotes " +
    "vanish, docs reassemble in span order and never disappear") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff"),          // spans: "aa bb cc", "dd ee ff"
      (2L, "aa bb cc xx yy zz"),          // re-quotes doc 1's first span
      (3L, "dd ee ff dd ee ff"),          // re-quotes doc 1's second span twice
      (4L, null.asInstanceOf[String]),    // null text -> empty, kept
      (5L, "aa bb cc")                    // nothing left after dedup
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, col("doc_id"), col("text"), 3)
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "aa bb cc dd ee ff") // first occurrences all survive
    assert(got(2L) === "xx yy zz")          // quoted span removed, rest kept
    assert(got(3L) === "")                  // both spans are doc-1 re-quotes
    assert(got(4L) === "")
    assert(got(5L) === "")
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // short tail span (< chunkWords) is its own span, deduped like any
    val tails = Seq((1L, "aa bb cc dd"), (2L, "zz zz zz dd"))
      .toDF("doc_id", "text")
    val t = Dedup.spanDedup(tails, col("doc_id"), col("text"), 3)
      .as[(Long, String)].collect().toMap
    assert(t(1L) === "aa bb cc dd")
    assert(t(2L) === "zz zz zz") // trailing "dd" was doc 1's tail span
  }

  test("boilerplateDedup: spans in >= minDocs distinct docs vanish " +
    "EVERYWHERE (no survivor), within-doc repeats count once toward the " +
    "gate, counts ride along, docs never disappear") {
    val docs = Seq(
      (1L, "hh ii jj aa bb cc"),         // "hh ii jj" in docs 1,2,3 -> hot
      (2L, "hh ii jj dd ee ff"),
      (3L, "hh ii jj hh ii jj"),         // twice in ONE doc: df = 3, not 4
      (4L, "dd ee ff dd ee ff"),         // df("dd ee ff") = 2 docs -> kept
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateDedup(docs, col("doc_id"), col("text"),
        chunkWords = 3, minDocs = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === (("aa bb cc", 2L, 1L)))
    assert(got(2L) === (("dd ee ff", 2L, 1L)))
    assert(got(3L) === (("", 2L, 2L)))   // ALL occurrences removed
    assert(got(4L) === (("dd ee ff dd ee ff", 2L, 0L))) // df 2 < 3: kept
    assert(got(5L) === (("", 0L, 0L)))   // null text: empty, zero counts
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // at minDocs = 2 the within-doc duplicate still counts once, but
    // "dd ee ff" (docs 2 and 4) now crosses the gate
    val g2 = Dedup.boilerplateDedup(docs, col("doc_id"), col("text"),
        chunkWords = 3, minDocs = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(g2(2L) === (("", 2L, 2L)))
    assert(g2(4L) === (("", 2L, 2L)))
    assert(g2(1L) === (("aa bb cc", 2L, 1L))) // "aa bb cc" df 1: kept
  }

  test("spanDedup differential property: matches an in-memory reference " +
    "on random corpora (chunk sizes 1-4, messy whitespace, case)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // sequential reference implementation of the same contract
    def ref(docs: Seq[(Long, String)], n: Int): Map[Long, String] = {
      def chunks(t: String): Vector[String] = {
        val w = t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
        val cs = w.grouped(n).map(_.mkString(" ")).toVector
        if (cs.isEmpty) Vector("") else cs
      }
      val spanned = docs.collect { case (id, t) if t != null =>
        id -> chunks(t)
      }
      val firsts = spanned
        .flatMap { case (id, cs) =>
          cs.zipWithIndex.map { case (c, i) => c -> (id, i) } }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).min }
      docs.map { case (id, t) =>
        if (t == null) id -> ""
        else id -> chunks(t).zipWithIndex
          .filter { case (c, i) => firsts(c) == (id, i) }
          .map(_._1).mkString(" ")
      }.toMap
    }
    val word = Gen.oneOf("aa", "bb", "CC", "dd")
    val docGen = for {
      nw <- Gen.choose(0, 8)
      ws <- Gen.listOfN(nw, word)
      sep <- Gen.oneOf(" ", "  ")
    } yield ws.mkString(sep)
    val corpusGen = for {
      nd <- Gen.choose(1, 6)
      texts <- Gen.listOfN(nd, Gen.option(docGen))
      n <- Gen.choose(1, 4)
    } yield (texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, t.orNull) }, n)
    val prop = Prop.forAll(corpusGen) { case (docs, n) =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.spanDedup(df, col("doc_id"), col("text"), n)
        .as[(Long, String)].collect().toMap
      got == ref(docs, n)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("passageDedup: overlapping windows excise repeated runs at " +
    "arbitrary offsets; short docs pass through; docs never disappear") {
    val docs = Seq(
      // doc 1 is the first occurrence of the run "cc dd ee ff"
      (1L, "aa bb cc dd ee ff gg"),
      // doc 2 embeds that run at a DIFFERENT offset (pos 1, not 2):
      // q_dedup_spans' chunk grid would miss it, the W=3 stride-1
      // windows "cc dd ee"/"dd ee ff" cover positions 1..5
      (2L, "xx cc dd ee ff yy"),
      (3L, "shorty"),                     // < windowWords: no windows, verbatim
      (4L, null.asInstanceOf[String]),    // null text -> empty, kept
      (5L, "aa bb cc dd ee ff gg")        // exact copy -> fully covered
    ).toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs, col("doc_id"), col("text"),
        windowWords = 3, strideWords = 1)
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "aa bb cc dd ee ff gg") // first occurrence intact
    // windows "cc dd ee" (st=1) and "dd ee ff" (st=2) are doc-1 dups ->
    // covered positions 1..4 = exactly the repeated run "cc dd ee ff";
    // both frame words survive
    assert(got(2L) === "xx yy")
    assert(got(3L) === "shorty")
    assert(got(4L) === "")
    assert(got(5L) === "")
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("passageDedup differential property: matches an in-memory " +
    "reference on random corpora (window 1-4, stride 1-3, messy text)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // sequential reference implementation of the same contract
    def ref(docs: Seq[(Long, String)], w: Int, s: Int): Map[Long, String] = {
      val words = docs.collect { case (id, t) if t != null =>
        id -> t.trim.toLowerCase.replaceAll("\\s+", " ")
          .split(" ", -1).toVector
      }.toMap
      val wins = for {
        (id, ws) <- words.toSeq
        st <- 0 to ws.length - w by s
      } yield ((id, st), ws.slice(st, st + w).mkString(" "))
      val firsts = wins.groupBy(_._2)
        .map { case (txt, xs) => txt -> xs.map(_._1).min }
      val covered = wins
        .filter { case (k, txt) => firsts(txt) != k }
        .flatMap { case ((id, st), _) => (st until st + w).map(id -> _) }
        .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
      docs.map { case (id, t) =>
        if (t == null) id -> ""
        else {
          val ws = words(id)
          val cov = covered.getOrElse(id, Set.empty[Int])
          id -> ws.indices.filterNot(cov).map(ws).mkString(" ")
        }
      }.toMap
    }
    val word = Gen.oneOf("aa", "bb", "CC", "dd")
    val docGen = for {
      nw <- Gen.choose(0, 9)
      ws <- Gen.listOfN(nw, word)
      sep <- Gen.oneOf(" ", "  ")
    } yield ws.mkString(sep)
    val corpusGen = for {
      nd <- Gen.choose(1, 6)
      texts <- Gen.listOfN(nd, Gen.option(docGen))
      w <- Gen.choose(1, 4)
      s <- Gen.choose(1, 3)
    } yield (texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, t.orNull) }, w, s)
    val prop = Prop.forAll(corpusGen) { case (docs, w, s) =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.passageDedup(df, col("doc_id"), col("text"), w, s)
        .as[(Long, String)].collect().toMap
      got == ref(docs, w, s)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("passage index: probe equals passageDedup over corpus+batch " +
    "restricted to batch docs; mismatched params fail loudly; append " +
    "makes later probes reject batch-introduced passages") {
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "mm nn oo pp qq rr")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "xx cc dd ee ff yy"),     // corpus passage at a shifted offset
      (11L, "zz ww vv uu tt ss"),     // novel text
      (12L, "zz ww vv uu tt ss"),     // within-batch re-quote of 11
      (13L, "shorty"),                // sub-window: passes verbatim
      (14L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val idx = System.getProperty("java.io.tmpdir") + "/graft_passage_idx_spec"
    Dedup.persistPassageIndex(corpus, col("doc_id"), col("text"), idx,
      windowWords = 3, strideWords = 1)
    val probe = Dedup.probePassageIndex(batch, col("doc_id"), col("text"),
        idx, windowWords = 3, strideWords = 1)
      .as[(Long, String)].collect().toMap
    // exact equivalence with the batch slice of the one-shot operator
    // (corpus ids order before batch ids, so "corpus is earlier" holds)
    val composed = Dedup.passageDedup(corpus.unionByName(batch),
        col("doc_id"), col("text"), windowWords = 3, strideWords = 1)
      .as[(Long, String)].collect().toMap
      .filter { case (k, _) => k >= 10L }
    assert(probe === composed)
    assert(probe(10L) === "xx yy")
    assert(probe(11L) === "zz ww vv uu tt ss")
    assert(probe(12L) === "")
    assert(probe(13L) === "shorty")
    assert(probe(14L) === "")
    // probing with different window params must fail, not silently no-op
    intercept[IllegalArgumentException] {
      Dedup.probePassageIndex(batch, col("doc_id"), col("text"), idx,
        windowWords = 4, strideWords = 1)
    }
    // fold batch 1 in; a later batch re-quoting batch-1 text is caught
    Dedup.appendToPassageIndex(batch, col("doc_id"), col("text"), idx,
      windowWords = 3, strideWords = 1)
    val batch2 = Seq((20L, "qq zz ww vv uu hh")).toDF("doc_id", "text")
    val probe2 = Dedup.probePassageIndex(batch2, col("doc_id"),
        col("text"), idx, windowWords = 3, strideWords = 1)
      .as[(Long, String)].collect().toMap
    // windows "zz ww vv" and "ww vv uu" are batch-1 passages -> covered
    // positions 1..4; the frame words survive
    assert(probe2(20L) === "qq hh")
  }

  test("simhashPairs matches exact jaccard on docs long enough for stable " +
    "majority votes") {
    // simhash majority margins scale with sqrt(token count): ~10-token docs
    // flip many bits on a single word change (Hamming > 7), which is why
    // the operator contract is Hamming<=7 — use realistic 60-token docs
    val w60 = (1 to 60).map(i => s"w$i").mkString(" ")
    val w60b = (1 to 59).map(i => s"w$i").mkString(" ") + " zz"
    val docs = Seq(
      (1L, w60), (2L, w60), (3L, w60b),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, (100 to 160).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhashPairs(docs, col("doc_id"), col("text"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(sh === exact)
  }

  test("maxDf cap drops hot shingles from candidate generation") {
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "x y z g h i")
    ).toDF("doc_id", "text")
    // shared shingle "x y z" has df=3; cap at 2 -> no candidates survive
    val capped = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.01,
      maxDf = Some(2))
    assert(capped.count() === 0)
  }

  test("connectedComponents fails loudly when the graph diameter " +
    "exceeds maxIter (silent wrong labels would keep extra survivors)") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 3)
    }
    // and with enough rounds the same chain collapses to one component
    val ok = Dedup.connectedComponents(chain, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(ok.forall(_._2 === 1L) && ok.length === 12)
  }

  test("connectedComponents propagates min labels across chains, " +
    "nearDupSurvivors keeps singletons as themselves") {
    // chain 1-2-3 (NOT a clique: 1-3 only transitively connected),
    // separate pair 5-6, singleton 4
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val surv = Dedup.nearDupSurvivors(docs, col("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    assert(surv === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L))
  }

  test("connectedComponentsStar converges on a 200-link chain that plain " +
    "propagation refuses at maxIter=20") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 20)
    }
    val star = Dedup.connectedComponentsStar(chain)
      .as[(Long, Long)].collect()
    assert(star.length === 200)
    assert(star.forall(_._2 === 1L)) // one component, min id 1
  }

  test("connectedComponentsStar: star-forest input is a fixpoint " +
    "(detected immediately), 2-level trees contract") {
    // already a star forest: children point at their component minimum
    val stars = Seq((2L, 1L), (3L, 1L), (4L, 1L), (6L, 5L))
      .toDF("id_a", "id_b")
    val out1 = Dedup.connectedComponentsStar(stars)
      .as[(Long, Long)].collect().toMap
    assert(out1 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
    // NOT a star forest even though every edge points at a smaller id:
    // 3 is both a parent (of 4, 5) and a child (of 1) — the probe must
    // keep iterating until 4 and 5 re-attach to 1 directly
    val chainish = Seq((3L, 1L), (4L, 3L), (5L, 3L)).toDF("id_a", "id_b")
    val out2 = Dedup.connectedComponentsStar(chainish)
      .as[(Long, Long)].collect().toMap
    assert(out2 === Map(1L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponentsStar labels equal plain propagation on a mixed " +
    "pseudo-random graph") {
    // deterministic multi-component graph: chains, a clique, crossing
    // edges, singleton-pair islands — both algorithms must agree exactly
    val rnd = new scala.util.Random(12345)
    val edges = (
      (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq ++   // chain
      (for (a <- 40L to 45L; b <- (a + 1) to 45L) yield (a, b)) ++ // clique
      Seq((30L, 40L), (50L, 51L), (60L, 61L), (61L, 62L)) ++
      (1 to 40).map { _ =>
        val a = 100L + rnd.nextInt(50); val b = 100L + rnd.nextInt(50)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
    ).toDF("id_a", "id_b")
    val plain = Dedup.connectedComponents(edges, maxIter = 50)
      .as[(Long, Long)].collect().toMap
    val star = Dedup.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toMap
    assert(star === plain)
  }

  test("boilerplate index: probe equals the full recompute restricted " +
    "to batch docs — spans hot from corpus alone, from summed " +
    "corpus+batch counts, and batch-only cold spans; meta mismatch " +
    "and re-persist retraction") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boiler_idx").toString
    val corpus = Seq(
      (1L, "nav bar xx yy"),   // "nav bar" in 2 corpus docs -> hot alone
      (2L, "nav bar zz ww"),
      (3L, "foot er aa bb"))   // "foot er" needs the batch to go hot
    .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "nav bar qq rr"),  // corpus-hot chrome excised
      (11L, "foot er cc dd"),  // 1 corpus + 1 batch = 2 >= minDocs
      (12L, "fresh text here okay"))
    .toDF("doc_id", "text")
    Dedup.persistBoilerplateIndex(corpus, col("doc_id"), col("text"),
      dir, chunkWords = 2, minDocs = 2)
    val got = Dedup.probeBoilerplateIndex(batch, col("doc_id"),
        col("text"), dir, chunkWords = 2, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // the exact-equivalence contract: full recompute over the union,
    // restricted to the batch ids
    val want = Dedup.boilerplateDedup(corpus.unionByName(batch),
        col("doc_id"), col("text"), chunkWords = 2, minDocs = 2)
      .where(col("doc_id") >= 10L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got === want)
    assert(got.map(r => r._1 -> r._2).toMap ===
      Map(10L -> "qq rr", 11L -> "cc dd", 12L -> "fresh text here okay"))
    // params are pinned: probing with different ones is refused
    val e = intercept[IllegalArgumentException] {
      Dedup.probeBoilerplateIndex(batch, col("doc_id"), col("text"),
        dir, chunkWords = 3, minDocs = 2)
    }
    assert(e.getMessage.contains("was built with"))
    // re-persist with new params retracts the old meta first and the
    // artifact answers under the NEW contract
    Dedup.persistBoilerplateIndex(corpus, col("doc_id"), col("text"),
      dir, chunkWords = 2, minDocs = 3)
    val relaxed = Dedup.probeBoilerplateIndex(batch, col("doc_id"),
        col("text"), dir, chunkWords = 2, minDocs = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // at minDocs=3 only "nav bar" (2 corpus + 1 batch) reaches the bar
    assert(relaxed.map(r => r._1 -> r._2).toMap ===
      Map(10L -> "qq rr", 11L -> "foot er cc dd",
        12L -> "fresh text here okay"))
  }

  test("probeBoilerplateIndex sums per-span counts when the index is " +
    "epoch-partitioned (gate layout): hotness uses the TOTAL corpus " +
    "frequency, not any single epoch's row") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boiler_epochs").toString
    // simulate a quiesced gate index: the same span counted once in
    // each of two epochs — no single row reaches minDocs=3, the sum
    // plus the batch does
    Seq(("chrome a", 1L, 0L), ("solo x", 1L, 0L))
      .toDF("span", "n_docs", "ingest_batch")
      .write.partitionBy("ingest_batch").parquet(s"$dir/spans")
    Seq(("chrome a", 1L, 1L))
      .toDF("span", "n_docs", "ingest_batch")
      .write.mode("append").partitionBy("ingest_batch")
      .parquet(s"$dir/spans")
    Seq((2, 3)).toDF("chunk_words", "min_docs")
      .write.parquet(s"$dir/meta")
    val batch = Seq((30L, "chrome a tt uu")).toDF("doc_id", "text")
    val got = Dedup.probeBoilerplateIndex(batch, col("doc_id"),
        col("text"), dir, chunkWords = 2, minDocs = 3)
      .as[(Long, String, Long, Long)].collect()
    // summed: 1 (epoch 0) + 1 (epoch 1) + 1 (batch) = 3 >= 3 -> excised;
    // a per-epoch-row join would see 2 < 3 twice and keep the chrome
    assert(got === Array((30L, "tt uu", 2L, 1L)))
  }
}
