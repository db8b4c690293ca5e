package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.operators.{Graph, Similarity}

/** Guards the codegen cache size pinned in `build.sbt`: repeating the
  * citation analytics (PageRank, PPR, co-citation, k-means, IVF top-k)
  * must reuse the classes Spark already compiled. With Spark's default
  * cache of 100 entries their working set does not fit, and every repeat
  * compiles most of it again. */
class CodegenCacheSpec extends SparkTestBase {
  import spark.implicits._

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the cache size pinned in build.sbt reaches the forked test JVM") {
    val build = new String(Files.readAllBytes(Paths.get("build.sbt")), "UTF-8")
    val pinned = "-Dspark\\.sql\\.codegen\\.cache\\.maxEntries=(\\d+)".r
      .findFirstMatchIn(build).map(_.group(1))
    assert(pinned.nonEmpty, "build.sbt pins no spark.sql.codegen.cache.maxEntries")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == pinned.get)
  }

  test("a third repeat of the citation analytics compiles no new class") {
    // seeded citation graph (each paper cites up to 6 older ones) with
    // 8-d embeddings around 4 topics
    val r = new Random(821)
    val n = 300
    val edges = (1 until n).flatMap { p =>
      Seq.fill(r.nextInt(7))(r.nextInt(p)).distinct.map(t => (p.toLong, t.toLong))
    }.toDF("src", "dst")
    val centres = Array.fill(4, 8)(r.nextDouble() * 2 - 1)
    val emb = (0 until n).map { i =>
      (i.toLong, centres(i % 4).map(c => (c + (r.nextDouble() - 0.5) * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") < 8)
    val sources = Seq(0L, 1L, 2L).toDF("id")

    // each result collected in its own scope, which releases its checkpoints
    def rows(df: => DataFrame): Long = Exec.scoped(df.collect().length.toLong)
    def pass(): Seq[Long] = Seq(
      rows(Graph.pageRank(edges, col("src"), col("dst"), iters = 3, deterministic = true)),
      rows(Graph.personalizedPageRank(edges, col("src"), col("dst"), sources,
        iters = 3, deterministic = true)),
      rows(Graph.coCitation(edges, col("src"), col("dst"))),
      rows(Similarity.kMeans(emb, 4, 3, seeding = Similarity.KMeansSeeding.FarthestPoint)),
      rows(Similarity.ivfTopK(emb, probes, 5, nCentroids = 4, nProbe = 2)))

    // AQE re-plans as query stages finish, so which of a few plan variants
    // runs depends on timing, and a variant is new code the first time it
    // runs. Without AQE every repeat runs the same plans.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val repeats = try (1 to 3).map { _ =>
      val c0 = compiled
      val counts = pass()
      (compiled - c0, counts)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val Seq(first, _, third) = repeats
    assert(first._2.forall(_ > 0) && repeats.forall(_._2 == first._2))
    assert(third._1 == 0,
      s"classes compiled per repeat: ${repeats.map(_._1).mkString(", ")}")
  }
}
