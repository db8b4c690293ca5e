package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.operators.{Dedup, EntityResolution, Similarity}

/** A commit protocol that refuses to start any write into a directory
  * ending with [[CrashBeforeWrite.suffix]]: the state a process killed
  * between two writes of a persist leaves. Spark builds the protocol
  * before an overwrite deletes the old data, so the old files are still
  * there — unlike a failure inside the write job, after which Spark has
  * already deleted them. */
class CrashBeforeWriteProtocol(jobId: String, path: String,
                               dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  if (CrashBeforeWrite.suffix.exists(path.endsWith))
    throw new java.io.IOException(s"injected crash before writing $path")
}

object CrashBeforeWrite {
  @volatile var suffix: Option[String] = None
}

/** The retract-then-commit rule of `graft.exec.Artifact.persist`: a
  * re-persist that dies before its data writes finish must leave an
  * artifact its own reader refuses, never the old meta vouching for
  * whatever the data directories hold. */
class ArtifactSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_art_$tag").toString

  /** Run `persist` with every write into `dir` crashing before it
    * starts; the crash must surface as a failure of `persist`. */
  private def crashBefore(dir: String)(persist: => Unit): Unit = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[CrashBeforeWriteProtocol].getName)
    CrashBeforeWrite.suffix = Some(dir)
    try intercept[Exception](persist)
    finally {
      CrashBeforeWrite.suffix = None
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a slow green turtle walks under the busy bridge")
  ).toDF("doc_id", "text")

  test("persistIndex: a re-persist that dies after bands/ leaves an " +
    "index its probe refuses") {
    val idx = tmp("minhash")
    def persist() = Dedup.persistIndex(docs, col("doc_id"), col("text"), idx)
    def probe() = Dedup.probePersistedIndex(docs, col("doc_id"),
      col("text"), idx, threshold = 0.5).collect()
    persist()
    assert(probe().nonEmpty)
    crashBefore("/shingles")(persist())
    intercept[Exception](probe())
    persist()
    assert(probe().nonEmpty)
  }

  test("persistPassageIndex: a re-persist that dies before windows/ " +
    "leaves an index its probe refuses") {
    val idx = tmp("passage")
    def persist() = Dedup.persistPassageIndex(docs, col("doc_id"),
      col("text"), idx, windowWords = 3)
    def probe() = Dedup.probePassageIndex(docs, col("doc_id"),
      col("text"), idx, windowWords = 3).collect()
    persist()
    assert(probe().nonEmpty)
    crashBefore("/windows")(persist())
    intercept[Exception](probe())
  }

  test("persistSemanticIndex: a re-persist that dies before vectors/ " +
    "leaves an index its probe refuses") {
    val idx = tmp("semantic")
    val emb = Seq((1L, Array(10f, 0f)), (2L, Array(9f, 1f)),
      (3L, Array(0f, 10f))).toDF("vec_id", "embedding")
    def persist() =
      Similarity.persistSemanticIndex(emb, idx, kClusters = 2, iters = 2)
    def probe() =
      Similarity.probeSemanticIndex(emb, idx, threshold = 0.9).collect()
    persist()
    assert(probe().nonEmpty)
    crashBefore("/vectors")(persist())
    intercept[Exception](probe())
  }

  test("persistEntityIndex: a re-persist that dies before records/ " +
    "leaves an index its probe refuses") {
    val idx = tmp("entity")
    val recs = Seq((1L, "jane doe"), (2L, "jane does"), (3L, "bob stone"))
      .toDF("id", "name")
    def persist() = EntityResolution.persistEntityIndex(recs, col("id"),
      col("name"), _ => lit("all"), idx, maxDistNum = 1, maxDistDen = 4)
    def probe() = EntityResolution.probeEntityIndex(
      Seq((10L, "jane doe")).toDF("id", "name"), col("id"), col("name"),
      _ => lit("all"), idx).collect()
    persist()
    assert(probe().nonEmpty)
    crashBefore("/records")(persist())
    intercept[Exception](probe())
  }
}
