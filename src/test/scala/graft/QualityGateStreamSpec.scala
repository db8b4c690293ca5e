package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Classify, Dedup, Importance, Perplexity}
import graft.streaming.EventStreams

/** Streaming closure of the round-9 quality gates: the persisted
  * frozen models (bigram LM / LLR table) drive foreachBatch gates whose
  * admissions must match the batch operators' scores row-for-row. */
class QualityGateStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val refDocs = Seq(
    (100L, "spark join spark join spark join spark join", "good"),
    (101L, "spark join spark window spark join spark join", "good"),
    (102L, "select where select where group order select where", "raw"),
    (103L, "select where group order select where group order", "raw")
  )
  private val batch1 = Seq(
    (1L, "spark join spark join"),          // on-model
    (2L, "select where group order"))       // off-model
  private val batch2 = Seq(
    (3L, "spark window spark join"),        // on-model
    (4L, "zeta eta theta iota"),            // unseen everything
    (5L, "x"))                              // featureless: never admitted

  test("streaming perplexity gate: frozen persisted model, admissions " +
    "match the batch scorer, replay-safe epochs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ppl_gate").toString
    val ref = refDocs.toDF("doc_id", "text", "src")
    Perplexity.persistModel(ref, col("doc_id"), col("text"),
      col("src") === "good", s"$dir/model")
    // threshold from the BATCH scorer: midway between the on-model and
    // off-model populations of the stream's union
    val union = (batch1 ++ batch2).toDF("doc_id", "text")
    val scores = Perplexity.scoresAgainstModel(union, col("doc_id"),
        col("text"), spark.read.parquet(s"$dir/model/model"),
        spark.read.parquet(s"$dir/model/meta"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) < scores(2L) && scores(3L) < scores(4L))
    val maxPpl = (scores(1L) max scores(3L)) * 1.001
    val expected = scores.filter(_._2 <= maxPpl).keySet
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Perplexity.perplexityGateBatch(s"$dir/model",
      s"$dir/out", maxPpl = maxPpl))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted === expected)
      // replaying epoch 1's body rewrites its partition, not appends
      Perplexity.perplexityGateBatch(s"$dir/model", s"$dir/out",
        maxPpl)(batch1.toDF("doc_id", "text"), 0L)
      val after = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect()
      assert(after.length === after.distinct.length &&
        after.toSet === expected, "replayed epoch duplicated rows")
    } finally q.stop()
    // a torn persist (no meta) must fail loudly, not refit silently
    intercept[Exception] {
      Perplexity.perplexityGateBatch(s"$dir/nonexistent", s"$dir/out2",
        10.0)(batch1.toDF("doc_id", "text"), 0L) }
  }

  test("streaming boost scoring: the fused integer CASE chain is a " +
    "stateless streaming projection with exact batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, 2L), (0L, 2L), (1L, 6L), (1L, 6L))
      .toDF("f", "y")
    val m = Classify.boostedStumpsTrain(train, col("y"),
      Seq(("f", col("f"))), rounds = 3, lrDen = 2, scale = 10L)
    val mem = MemoryStream[(Long, Long)]
    val q = Classify.boostedStumpsScore(mem.toDF.toDF("id", "f"), m,
        scale = 10L)
      .writeStream.format("memory").queryName("graft_boost_scored")
      .outputMode("append").start()
    try {
      mem.addData((10L, 0L), (11L, 1L)); q.processAllAvailable()
      mem.addData((12L, 0L)); q.processAllAvailable()
      val got = spark.table("graft_boost_scored")
        .select("id", "score_scaled", "pred")
        .as[(Long, Long, Double)].collect().toSet
      val exp = Classify.boostedStumpsScore(
          Seq((10L, 0L), (11L, 1L), (12L, 0L)).toDF("id", "f"), m,
          scale = 10L)
        .select("id", "score_scaled", "pred")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === exp && got.size === 3)
    } finally q.stop()
  }

  test("streaming importance gate: frozen LLR table, admissions match " +
    "the batch weights, unseen buckets priced with the add-1 mass") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_imp_gate").toString
    val ref = refDocs.toDF("doc_id", "text", "src")
    Importance.persistLlrModel(ref, col("doc_id"), col("text"),
      col("src") === "good", s"$dir/model")
    // batch-side weights ON THE REFERENCE CORPUS pin the model; the
    // stream docs are scored under it frozen — expected membership is
    // anything with positive target-affinity
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Importance.importanceGateBatch(s"$dir/model",
      s"$dir/out", minLogw = 0.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      // on-model docs score positive, off-model negative; doc 4's
      // unseen grams take the neutral-ish unseen mass (tgt_t < raw_t →
      // slightly positive constant), doc 5 has no features at all
      assert(admitted.contains(1L) && admitted.contains(3L))
      assert(!admitted.contains(2L) && !admitted.contains(5L))
      // replaying epoch 0's body rewrites its partition, not appends
      Importance.importanceGateBatch(s"$dir/model", s"$dir/out",
        0.0)(batch1.toDF("doc_id", "text"), 0L)
      val after = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect()
      assert(after.length === after.distinct.length &&
        after.toSet === admitted, "replayed epoch duplicated rows")
    } finally q.stop()
  }

  test("streaming curation gate: rule pack + persisted exact-fingerprint " +
    "dedup, replay-safe epochs, rule bounds pinned in meta") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cur_gate").toString
    val passA = "the quick brown fox jumps over the lazy dog and then " +
      "it runs down the long road to find a warm place to rest tonight"
    val passE = "a small cat sits by the open door and waits for the " +
      "rain to stop before it walks out into the cold night"
    val b1 = Seq((1L, passA), (2L, "too few words"), (3L, passA))
    val b2 = Seq((4L, passA), (5L, passE))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Dedup.curationGateBatch(s"$dir/idx", s"$dir/corpus"))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet
      // 2 fails the word-count rule; 3 is an in-batch dup of 1; 4 is a
      // cross-batch dup caught by the persisted fingerprint index
      assert(ids === Set(1L, 5L))
      // replaying a committed epoch admits nothing (every doc
      // self-matches the index) and duplicates nothing
      graft.operators.Dedup.curationGateBatch(s"$dir/idx", s"$dir/corpus")(
        b1.toDF("doc_id", "text"), 0L)
      val after = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect()
      assert(after.length === after.distinct.length &&
        after.toSet === Set(1L, 5L), "replayed epoch duplicated rows")
    } finally q.stop()
    // a restart with different rule bounds must fail loudly instead of
    // silently mixing curation policies in one corpus
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.curationGateBatch(s"$dir/idx", s"$dir/corpus",
        minWords = 5)(b1.toDF("doc_id", "text"), 7L)
    }
  }

  test("streaming passage gate: corpus-covered and within-batch " +
    "passages excised, novel windows fold in, replay-safe epochs " +
    "including post-commit bootstrap replay") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pass_gate").toString
    val b1 = Seq(
      (1L, "aa bb cc dd ee ff"),   // bootstrap: novel
      (2L, "aa bb cc dd ee ff"),   // in-batch exact re-quote -> ""
      (3L, "tiny"))                // sub-window doc: passes verbatim
    val b2 = Seq(
      (10L, "xx cc dd ee yy"),     // "cc dd ee" is an epoch-0 passage
      (11L, "pp qq rr ss"))        // novel
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
      windowWords = 3))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text_deduped").as[(Long, String)]
        .collect().toMap
      assert(out(1L) === "aa bb cc dd ee ff")
      assert(!out.contains(2L)) // reduced to "" -> not admitted
      assert(out(3L) === "tiny")
      assert(out(10L) === "xx yy") // covered positions 1..3 excised
      assert(out(11L) === "pp qq rr ss")
      // replaying committed epoch 1 rewrites its partition, not appends
      graft.operators.Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
        windowWords = 3)(b2.toDF("doc_id", "text"), 1L)
      val after = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect()
      assert(after.length === after.distinct.length &&
        after.toSet === Set(1L, 3L, 10L, 11L))
      // replaying the committed BOOTSTRAP epoch — the case the sibling
      // gates' reject-everything argument cannot handle (doc 3 passes
      // through on every attempt): the self-excluding index read makes
      // the replay recompute the original admitted set exactly
      graft.operators.Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
        windowWords = 3)(b1.toDF("doc_id", "text"), 0L)
      val after2 = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text_deduped").as[(Long, String)].collect()
      assert(after2.length === after2.map(_._1).distinct.length)
      assert(after2.toMap === out)
    } finally q.stop()
    // a restart with different window params fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
        windowWords = 4)(b1.toDF("doc_id", "text"), 5L)
    }
    // a flat persistPassageIndex artifact is probe-only for the gate
    val flat = java.nio.file.Files
      .createTempDirectory("graft_pass_flat").toString
    graft.operators.Dedup.persistPassageIndex(b1.toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$flat/idx", windowWords = 3)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.passageGateBatch(s"$flat/idx",
        s"$dir/corpus2", windowWords = 3)(b2.toDF("doc_id", "text"), 0L)
    }
  }

  test("passage gate: a bootstrap batch with no full windows defers " +
    "the meta commit instead of creating an unreadable empty index; " +
    "flat artifacts are refused even without a committer _SUCCESS") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pass_defer").toString
    def gate(rows: Seq[(Long, String)], epoch: Long): Unit =
      graft.operators.Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
        windowWords = 3)(rows.toDF("doc_id", "text"), epoch)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def exists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(p))
    // every doc shorter than windowWords: admitted non-empty (verbatim
    // passthrough) but zero windows — the brick case
    gate(Seq((1L, "tiny"), (2L, "wee bit")), 0L)
    assert(!exists(s"$dir/idx/meta/_GRAFT_COMMITTED"))
    assert(!exists(s"$dir/idx/windows"),
      "an empty windows/ dir would be unreadable forever")
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    // the next windowed batch bootstraps for real; the gate then works
    gate(Seq((10L, "aa bb cc dd")), 1L)
    assert(exists(s"$dir/idx/meta/_GRAFT_COMMITTED"))
    gate(Seq((20L, "xx bb cc dd yy")), 2L)
    val out = spark.read.parquet(s"$dir/corpus")
      .select("doc_id", "text_deduped").as[(Long, String)]
      .collect().toMap
    assert(out(20L) === "xx yy") // "bb cc dd" excised cross-epoch
    // flat persistPassageIndex artifact whose committer left no
    // _SUCCESS (marksuccessfuljobs=false clusters): the gate would see
    // bootstrap=true — the layout check must still refuse to destroy it
    val flat = java.nio.file.Files
      .createTempDirectory("graft_pass_flat2").toString
    graft.operators.Dedup.persistPassageIndex(
      Seq((1L, "aa bb cc dd")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$flat/idx", windowWords = 3)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$flat/idx/meta/_SUCCESS"), false)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.passageGateBatch(s"$flat/idx",
        s"$dir/corpus2", windowWords = 3)(
        Seq((5L, "pp qq rr ss")).toDF("doc_id", "text"), 0L)
    }
  }

  test("compactSetIndex folds committed epochs into the base " +
    "partition, preserves the key set, refuses the latest epoch, and " +
    "the gate keeps deduping against the compacted index") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pass_compact").toString
    def gate(rows: Seq[(Long, String)], epoch: Long): Unit =
      graft.operators.Dedup.passageGateBatch(s"$dir/idx", s"$dir/corpus",
        windowWords = 3)(rows.toDF("doc_id", "text"), epoch)
    gate(Seq((1L, "aa bb cc dd ee ff")), 0L)
    gate(Seq((10L, "pp qq rr ss tt")), 1L)
    gate(Seq((20L, "uu vv ww xx")), 2L)
    val before = spark.read.parquet(s"$dir/idx/windows")
      .select("h").distinct().as[String].collect().toSet
    // the latest epoch must stay intact (it is the only replayable one)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.compactSetIndex(spark, s"$dir/idx/windows",
        Seq("h"), upToBatch = 2L)
    }
    graft.operators.Dedup.compactSetIndex(spark, s"$dir/idx/windows",
      Seq("h"), upToBatch = 1L)
    val partsAfter = spark.read.parquet(s"$dir/idx/windows")
      .select("ingest_batch").distinct()
      .as[Long].collect().toSet
    assert(partsAfter === Set(-1L, 2L), s"partitions: $partsAfter")
    val after = spark.read.parquet(s"$dir/idx/windows")
      .select("h").distinct().as[String].collect().toSet
    assert(after === before, "compaction changed the key set")
    // the gate still excises passages folded into the base partition
    gate(Seq((30L, "zz bb cc dd kk"),     // "bb cc dd" is epoch-0 text
             (31L, "qq rr ss nn mm")), 3L) // "qq rr ss" is epoch-1 text
    val out = spark.read.parquet(s"$dir/corpus")
      .select("doc_id", "text_deduped").as[(Long, String)]
      .collect().toMap
    assert(out(30L) === "zz kk")
    assert(out(31L) === "nn mm")
  }

  test("curation gate bootstrap crash: a torn meta (no commit marker) " +
    "replays as a full re-bootstrap, byte-identical corpus") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cur_crash").toString
    val passA = "the quick brown fox jumps over the lazy dog and then " +
      "it runs down the long road to find a warm place to rest tonight"
    val passE = "a small cat sits by the open door and waits for the " +
      "rain to stop before it walks out into the cold night"
    val b1 = Seq((1L, passA), (5L, passE)).toDF("doc_id", "text")
    graft.operators.Dedup.curationGateBatch(s"$dir/idx",
      s"$dir/corpus")(b1, 0L)
    // fake the worst crash window: meta parquet landed but neither the
    // explicit marker nor the committer's _SUCCESS survived
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/idx/meta/_GRAFT_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/idx/meta/_SUCCESS"), false)
    // the at-least-once replay of epoch 0 must re-bootstrap (delete the
    // torn meta, rewrite it, recreate the marker) and leave the corpus
    // exactly as a clean run would: dynamic overwrite rewrites the same
    // ingest_batch=0 partitions
    graft.operators.Dedup.curationGateBatch(s"$dir/idx",
      s"$dir/corpus")(b1, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/idx/meta/_GRAFT_COMMITTED")))
    val ids = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect()
    assert(ids.length === ids.distinct.length && ids.toSet === Set(1L, 5L))
    val meta = spark.read.parquet(s"$dir/idx/meta").head()
    assert(meta.getInt(0) === 20 && meta.getInt(1) === 90)
    // and a later epoch against the recovered index still dedups
    graft.operators.Dedup.curationGateBatch(s"$dir/idx", s"$dir/corpus")(
      Seq((9L, passA)).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 5L))
  }

  test("streaming boilerplate gate: hotness sums counts across epochs, " +
    "batch text rewritten not dropped, replay-safe epochs including " +
    "post-commit bootstrap replay under the strictly-earlier read") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boiler_gate").toString
    // chunkWords=2, minDocs=3: "hdr x" reaches the bar only when epoch
    // 1 adds its third distinct document
    val b1 = Seq(
      (1L, "hdr x aa bb"),
      (2L, "hdr x cc dd"),
      (3L, "ee ff"))
    val b2 = Seq(
      (10L, "hdr x gg hh"),   // 2 corpus + 1 batch = 3 -> chrome excised
      (11L, "ee ff"))         // 1 + 1 = 2 -> kept
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Dedup.boilerplateGateBatch(s"$dir/idx", s"$dir/corpus",
      chunkWords = 2, minDocs = 3))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text_deduped").as[(Long, String)]
        .collect().toMap
      // epoch 0: nothing hot yet (max df = 2) -> everything verbatim;
      // earlier batches' chrome stays (documented incremental posture)
      assert(out(1L) === "hdr x aa bb" && out(2L) === "hdr x cc dd")
      assert(out(3L) === "ee ff")
      assert(out(10L) === "gg hh")
      assert(out(11L) === "ee ff")
      // replaying committed epoch 1 rewrites its partition identically
      graft.operators.Dedup.boilerplateGateBatch(s"$dir/idx",
        s"$dir/corpus", chunkWords = 2, minDocs = 3)(
        b2.toDF("doc_id", "text"), 1L)
      val after = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text_deduped").as[(Long, String)].collect()
      assert(after.length === after.map(_._1).distinct.length)
      assert(after.toMap === out)
      // replaying the committed BOOTSTRAP epoch — the case that forces
      // the strictly-earlier read: epoch 1's partition carries "hdr x"
      // counts, and a `!=`-style exclusion would see df=3 and excise
      // chrome the original bootstrap admitted
      graft.operators.Dedup.boilerplateGateBatch(s"$dir/idx",
        s"$dir/corpus", chunkWords = 2, minDocs = 3)(
        b1.toDF("doc_id", "text"), 0L)
      val after2 = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text_deduped").as[(Long, String)].collect()
      assert(after2.length === after2.map(_._1).distinct.length)
      assert(after2.toMap === out)
    } finally q.stop()
    // a restart with different params fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.boilerplateGateBatch(s"$dir/idx",
        s"$dir/corpus", chunkWords = 3, minDocs = 3)(
        b1.toDF("doc_id", "text"), 5L)
    }
    // a flat persistBoilerplateIndex artifact is probe-only for the gate
    val flat = java.nio.file.Files
      .createTempDirectory("graft_boiler_flat").toString
    graft.operators.Dedup.persistBoilerplateIndex(
      b1.toDF("doc_id", "text"), col("doc_id"), col("text"),
      s"$flat/idx", chunkWords = 2, minDocs = 3)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.boilerplateGateBatch(s"$flat/idx",
        s"$dir/corpus2", chunkWords = 2, minDocs = 3)(
        b2.toDF("doc_id", "text"), 0L)
    }
  }
}
