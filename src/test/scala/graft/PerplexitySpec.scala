package graft

import org.apache.spark.sql.functions._
import graft.operators.Perplexity

class PerplexitySpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b a", "ref"),   // the reference corpus: pure ab-ese
    (2L, "a b", "raw"),         // on-model
    (3L, "c c", "raw"),         // fully off-model
    (4L, "x", "raw"),           // 1 token: no bigrams
    (5L, null.asInstanceOf[String], "raw")
  ).toDF("doc_id", "text", "src")

  test("bigramModel: counts and context totals from the reference " +
    "slice only") {
    val m = Perplexity.bigramModel(docs, col("doc_id"), col("text"),
        col("src") === "ref")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // "a b a b a": (a,b) ×2, (b,a) ×2; ctx(a)=2, ctx(b)=2
    assert(m === Set(("a", "b", 2L, 2L), ("b", "a", 2L, 2L)))
  }

  test("perplexityScores: hand-computed add-one probabilities; " +
    "featureless docs drop out") {
    val s = Perplexity.perplexityScores(docs, col("doc_id"), col("text"),
        col("src") === "ref")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // V = |{a, b}| + 1 = 3
    assert(s.keySet === Set(1L, 2L, 3L))
    // doc 2 "a b": P(b|a) = (2+1)/(2+3) = 0.6
    assert(math.abs(s(2L)._2 - math.log(0.6)) < 1e-12)
    assert(math.abs(s(2L)._3 - math.exp(-math.log(0.6))) < 1e-12)
    assert(s(2L)._1 === 1L)
    // doc 3 "c c": unseen context → P = 1/3; ppl = 3
    assert(math.abs(s(3L)._2 - math.log(1.0 / 3.0)) < 1e-12)
    assert(math.abs(s(3L)._3 - 3.0) < 1e-9)
    // the reference doc itself: 2·ln(3/5) + 2·ln(3/5) over 4 bigrams
    assert(math.abs(s(1L)._2 - 4.0 * math.log(0.6)) < 1e-12)
    // on-model text is less perplexing than off-model text
    assert(s(2L)._3 < s(3L)._3)
  }

  test("perplexityGate: lowest-ppl quota with doc_id tie-break, loud " +
    "refusal on a degenerate quota") {
    val g = Perplexity.perplexityGate(docs, col("doc_id"), col("text"),
        col("src") === "ref", quota = 2)
      .select("doc_id").as[Long].collect().toSeq
    // docs 1 and 2 share ppl = 1/0.6 exactly → both selected, id order
    assert(g === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Perplexity.perplexityGate(docs, col("doc_id"), col("text"),
        col("src") === "ref", quota = 0) }
  }

  test("scoresAgainstModel: an unseen PAIR under a SEEN context uses " +
    "the context total — (0+1)/(c_ctx+V), not 1/V — so off-model " +
    "continuations never outscore seen ones") {
    // reference "a b a b a": c_ctx(a)=2, c_ctx(b)=2, V=3
    // doc 4 "a a": seen context a, unseen pair (a,a)
    //   P = (0+1)/(2+3) = 0.2  — the buggy pair-join gave 1/V = 1/3
    val withUnseen = docs.unionByName(
      Seq((40L, "a a", "raw")).toDF("doc_id", "text", "src"))
    val s = Perplexity.perplexityScores(withUnseen, col("doc_id"),
        col("text"), col("src") === "ref")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(math.abs(s(40L)._1 - math.log(0.2)) < 1e-12)
    // ranking sanity: the seen bigram "a b" (P=0.6) must be LESS
    // perplexing than the unseen "a a" under the same context
    assert(s(2L)._2 < s(40L)._2)
  }

  test("persistModel self-heals an UNCOMMITTED (torn) artifact and " +
    "refuses a committed one loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ppl_model").toString
    // simulate a crash between the model and meta writes: model/ exists,
    // meta/ does not
    docs.limit(1).select(col("text").as("w1"), col("text").as("w2"),
        lit(1L).as("c_big"), lit(1L).as("c_ctx"))
      .write.parquet(s"$dir/model")
    // the rerun must retract the orphan and succeed
    Perplexity.persistModel(docs, col("doc_id"), col("text"),
      col("src") === "ref", dir)
    val m = spark.read.parquet(s"$dir/model")
    assert(m.count() === 2) // (a,b) and (b,a), not the orphan row
    // a COMMITTED artifact is refused, not silently refit
    val e = intercept[IllegalArgumentException] {
      Perplexity.persistModel(docs, col("doc_id"), col("text"),
        col("src") === "ref", dir)
    }
    assert(e.getMessage.contains("committed model already exists"))
  }

  test("persistModel refits over a meta/ torn by a killed meta job, and " +
    "the gate reads the refit model") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ppl_torn_meta").toString
    Perplexity.persistModel(docs, col("doc_id"), col("text"),
      col("src") === "ref", dir)
    // a meta job killed mid-write leaves only its attempt directory
    val fs = graft.exec.Artifact.fs(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/meta/_temporary/0"))
    // refit on "c c c": (c,c) ×2, ctx(c) = 2, V = 2
    val refit = Seq((1L, "c c c", "ref")).toDF("doc_id", "text", "src")
    Perplexity.persistModel(refit, col("doc_id"), col("text"),
      col("src") === "ref", dir)
    val m = spark.read.parquet(s"$dir/model")
      .as[(String, String, Long, Long)].collect().toSet
    assert(m === Set(("c", "c", 2L, 2L)))
    // new model: "c c" ppl 4/3, "a b" ppl 2 (unseen context, 1/V); the
    // old one would score them 3 and 5/3 and admit neither
    Perplexity.perplexityGateBatch(dir, s"$dir/out", maxPpl = 1.5)(
      Seq((10L, "a b"), (11L, "c c")).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$dir/out").select("doc_id").as[Long]
      .collect().toSeq === Seq(11L))
    val e = intercept[IllegalArgumentException] {
      Perplexity.persistModel(refit, col("doc_id"), col("text"),
        col("src") === "ref", dir)
    }
    assert(e.getMessage.contains("committed model already exists"))
  }
}
