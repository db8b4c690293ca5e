package graft

import org.apache.spark.sql.functions._
import graft.operators.EntityResolution

class EntityResolutionSpec extends SparkTestBase {
  import spark.implicits._

  // prefix blocking for the block-guard test; the matching tests use a
  // single block so titled variants (whose prefix changes) stay testable
  private val block: org.apache.spark.sql.Column =>
    org.apache.spark.sql.Column = n => substring(n, 1, 4)
  private val oneBlock: org.apache.spark.sql.Column =>
    org.apache.spark.sql.Column = _ => lit("all")

  test("resolveEntities: variants cluster transitively, distinct names " +
    "stay apart, null/empty names survive as themselves") {
    val recs = Seq(
      (1L, "Jane Doe"), // canonical
      (2L, "jane-doe"), // normalizes identically → dist 0
      (3L, "Dr. Jane Doe"), // +dr → dist 2 from 1, 2
      (4L, "janedo"), // deletion typo → dist 1 from 1; dist 3 from 3:
      //                 the cluster must close TRANSITIVELY through 1
      (5L, "John Smith"), // unrelated — far beyond the gate
      (6L, "janet dorn"), // near-ish, dist 4 → still no match
      (7L, null.asInstanceOf[String]), // null → itself
      (8L, "—") // normalizes to empty → itself
    ).toDF("id", "name")
    val got = EntityResolution.resolveEntities(recs, col("id"),
        col("name"), oneBlock, maxDistNum = 1, maxDistDen = 4)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 7L, 8L -> 8L))
  }

  test("resolveEntities: oversized blocks are excluded from pairing " +
    "deterministically — members resolve as singletons") {
    val crowd = (0L until 10L).map(i => (i, s"aaaa name $i"))
    val pair = Seq(100L -> "bbbb jane doe", 101L -> "bbbb jane does")
    val recs = (crowd ++ pair).toDF("id", "name")
    val got = EntityResolution.resolveEntities(recs, col("id"),
        col("name"), block, maxDistNum = 1, maxDistDen = 4,
        maxBlock = 5)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // the aaaa block (10 > maxBlock=5) pairs nothing even though every
    // member is within distance 1 of another; the bbbb block still links
    assert(got.take(10) === (0L until 10L).map(i => i -> i))
    assert(got.drop(10) === Seq(100L -> 100L, 101L -> 100L))
  }

  test("resolveEntities: the distance gate is integer-exact at the " +
    "boundary (dist*den == maxlen*num admits; one more edit refuses)") {
    // norms: "abcdefgh" (8 chars) vs a 2-edit variant; num/den = 1/4
    // → gate is dist*4 <= 8 ⇔ dist <= 2 exactly
    val recs = Seq((1L, "abcdefgh"), (2L, "abcdefXY"), // dist 2 → match
      (3L, "abcdeQRS") // dist 3 from BOTH (tail chars disjoint, so no
      //                  shift alignment shortens it) → no match
    ).toDF("id", "name")
    val got = EntityResolution.resolveEntities(recs, col("id"),
        col("name"), oneBlock, maxDistNum = 1, maxDistDen = 4)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("resolveEntities: the pair join is keyed on the block — no " +
    "cartesian/nested-loop product anywhere in the plan") {
    val recs = (0L until 50L).map(i => (i, s"name number $i"))
      .toDF("id", "name")
    val r = EntityResolution.resolveEntities(recs, col("id"),
      col("name"), block)
    r.count()
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated to a product:\n$plan")
  }

  test("persist/probe entity index: adoption, novel records, the " +
    "deferred-merge posture, and the meta-pinned gate contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft_er_idx")
      .toString
    // corpus: two entities (jane 1-2, mary 10) plus two far-apart
    // records 20/21 that a bridging batch record could both match
    val corpus = Seq((1L, "jane doe"), (2L, "dr. jane doe"),
      (10L, "mary major"), (20L, "pqrs"), (21L, "pqzz")
    ).toDF("id", "name")
    // gate 1/4: pqrs↔pqzz dist 2 within... 2*4=8 <= 4? NO (len 4):
    // corpus 20/21 stay separate entities
    EntityResolution.persistEntityIndex(corpus, col("id"), col("name"),
      oneBlock, dir, maxDistNum = 1, maxDistDen = 4)
    def probe(recs: Seq[(Long, String)]) =
      EntityResolution.probeEntityIndex(recs.toDF("id", "name"),
          col("id"), col("name"), oneBlock, dir)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    // 100: typo of jane (dist 1) → adopts entity 1 even though it also
    //      links 101 (novel, dist 1 of it) into the same component;
    // 102: novel pair with 103 → min batch id 102;
    // 104: matches BOTH pqrs and pqzz (dist 1 each) → adopts the MIN
    //      corpus entity (20) — the deferred merge: 21 is not rewritten
    assert(probe(Seq(100L -> "jane does", 101L -> "jane doess",
      102L -> "zorro xy", 103L -> "zorro xyz",
      104L -> "pqzs")) ===
      Seq(100L -> 1L, 101L -> 1L, 102L -> 102L, 103L -> 102L,
        104L -> 20L))
    // the gate comes from META (1/4), not the probe's defaults: jane's
    // TITLED form (dist 2 of entity 1's canonical, len 10) only matches
    // under 1/4 — under the 1/8 default it would be novel
    assert(probe(Seq(200L -> "dr jane doe")) === Seq(200L -> 1L))
    // rebuild idempotence: overwrite-persist again, identical answers
    EntityResolution.persistEntityIndex(corpus, col("id"), col("name"),
      oneBlock, dir, maxDistNum = 1, maxDistDen = 4)
    assert(probe(Seq(100L -> "jane does")) === Seq(100L -> 1L))
  }

  test("probe entity index: two batch components bridged only THROUGH " +
    "a shared corpus entity both adopt it (the pinned one-hop contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_er_idx2")
      .toString
    val corpus = Seq((50L, "abcdefgh")).toDF("id", "name")
    EntityResolution.persistEntityIndex(corpus, col("id"), col("name"),
      oneBlock, dir, maxDistNum = 1, maxDistDen = 4)
    // 200 and 300 are dist 4 apart (no batch edge) but each is dist 2
    // from the corpus record: both adopt 50; a full re-resolution would
    // agree here (50 is the global min) — the case documents that the
    // adoption is per-component, one hop
    val got = EntityResolution.probeEntityIndex(
        Seq(200L -> "abcdefQQ", 300L -> "abQQefgh").toDF("id", "name"),
        col("id"), col("name"), oneBlock, dir)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got === Seq(200L -> 50L, 300L -> 50L))
  }

  test("entityGateBatch: bootstrap, epoch adoption, torn-bootstrap " +
    "and post-commit replays row-identical, contract pinned by meta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_er_gate")
      .toString
    val gate = EntityResolution.entityGateBatch(dir, "id", "name",
      oneBlock, maxDistNum = 1, maxDistDen = 4) _
    def idx = spark.read.parquet(s"$dir/records")
      .select("id", "entity_id").as[(Long, Long)].collect().toMap
    val b0 = Seq(1L -> "jane doe", 2L -> "dr. jane doe",
      3L -> "bob stone").toDF("id", "name")
    gate(b0, 0L)
    val afterBootstrap = Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
    assert(idx === afterBootstrap)
    // torn bootstrap: meta files present but BOTH committed signals
    // gone (marker and the legacy meta/_SUCCESS — with either present
    // the crash window is correctly treated as committed) → replay
    // re-bootstraps idempotently and restores the marker
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker =
      new org.apache.hadoop.fs.Path(s"$dir/meta/_GRAFT_COMMITTED")
    fs.delete(marker, false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"), false)
    gate(b0, 0L)
    assert(idx === afterBootstrap)
    assert(fs.exists(marker))
    // epoch 1: the typo ADOPTS entity 1; the novel pair mints 200
    val b1 = Seq(100L -> "jane does", 200L -> "zorro xy",
      201L -> "zorro xyz").toDF("id", "name")
    gate(b1, 1L)
    val afterEpoch1 = afterBootstrap ++
      Map(100L -> 1L, 200L -> 200L, 201L -> 200L)
    assert(idx === afterEpoch1)
    // post-commit replay of epoch 1: the self-excluding read assigns
    // from exactly the pre-epoch state → row-identical
    gate(b1, 1L)
    assert(idx === afterEpoch1)
    // a gate with a different contract refuses against committed meta
    intercept[IllegalArgumentException] {
      EntityResolution.entityGateBatch(dir, "id", "name", oneBlock,
        maxDistNum = 1, maxDistDen = 8)(b1, 2L)
    }
  }

  test("startEntityGate: MemoryStream smoke — two microbatches land as " +
    "epochs, cross-batch adoption through the persisted index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_er_stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.startGate(
      mem.toDF.toDF("id", "name"), s"$dir/ckpt")(
      EntityResolution.entityGateBatch(s"$dir/idx", "id", "name", oneBlock,
        maxDistNum = 1, maxDistDen = 4))
    try {
      mem.addData(Seq(1L -> "jane doe", 3L -> "bob stone"): _*)
      q.processAllAvailable()
      mem.addData(Seq(100L -> "jane does", 200L -> "zorro xy"): _*)
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/idx/records")
        .select("id", "entity_id").as[(Long, Long)].collect().toMap
      // 100 adopts entity 1 ACROSS microbatches via the index; 200 new
      assert(got === Map(1L -> 1L, 3L -> 3L, 100L -> 1L, 200L -> 200L))
    } finally q.stop()
  }

  test("resolveEntities: rejects a non-positive ratio denominator and " +
    "an unpairable maxBlock") {
    val recs = Seq((1L, "a")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      EntityResolution.resolveEntities(recs, col("id"), col("name"),
        block, maxDistNum = 1, maxDistDen = 0)
    }
    intercept[IllegalArgumentException] {
      EntityResolution.resolveEntities(recs, col("id"), col("name"),
        block, maxBlock = 1)
    }
  }
}
