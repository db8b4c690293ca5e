package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint lifetimes, on-disk commits, stream wiring and quantile
  * bucketing each have one owner: only `graft/exec/Exec.scala` may
  * checkpoint a frame or release one, only `graft/exec/Artifact.scala`
  * may name a commit marker, a committer's success file, a
  * dynamic-partition overwrite or a write-once meta mode, or commit a
  * gate's bootstrap or check its epoch layout, only
  * `graft/streaming/EventStreams.scala` may start a stream writer, and
  * only `graft/operators/Shard.scala` may draw approximate quantile
  * buckets (for its two-phase prefix), so an operator cannot
  * hand-write any of these again. Deleted options and pass-through
  * wrappers cannot return anywhere, and no query-family registry
  * grows back into one oversized file. */
class ExecStructureSpec extends AnyFunSuite {

  /** owner file -> tokens no other main source may contain */
  private val owned = Seq(
    "graft/exec/Exec.scala" ->
      Seq("localCheckpoint(", ".checkpoint(", "releaseMaterialized",
        "workTaskFactor"),
    "graft/exec/Artifact.scala" ->
      Seq("_GRAFT_COMMITTED", "_SUCCESS", "partitionOverwriteMode",
        "errorifexists", "Artifact.bootstrap(", "requireEpochLayout("),
    "graft/streaming/EventStreams.scala" ->
      Seq("writeStream", "checkpointLocation"),
    "graft/operators/Shard.scala" -> Seq("approxQuantile"))

  /** tokens of deleted options and wrappers, forbidden in every main
    * source */
  private val deleted = Seq("broadcastBatch", "AdmittedPinning",
    "startIngestDedupGate", "startCdcGate", "startUniquesGate",
    "startSemanticIngestGate", "startPerplexityGate", "startImportanceGate",
    "startCurationGate", "startPassageGate", "startBoilerplateGate",
    "startEntityGate", "tumblingCounts", "slidingCounts", "sessionCounts",
    "dedupByKey", "journalMetricsThrottled", "ThrottledRetryingClient",
    "scalableNtile(", "rollingFingerprint", "lshBucket(", "staticDot",
    "DotProductF32F64", "dotF32F64", "graft_dot_f32f64", "weightDot",
    "wellFormedDim", "farthestPointSeeds", "cosDist(", "cosD(")

  test("checkpoint calls live only in graft.exec.Exec") {
    val root = Paths.get("src/main/scala")
    val rules = owned.map { case (f, toks) => root.resolve(f) -> toks }
    for ((owner, _) <- rules)
      assert(Files.isRegularFile(owner), s"run from the repo root: $owner")
    def forbidden(p: Path): Seq[String] =
      deleted ++ rules.collect { case (o, toks) if o != p => toks }.flatten
    val stream = Files.walk(root)
    val hits =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          val toks = forbidden(p)
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if toks.exists(line.contains) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally stream.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("SparkEntry and each query-family registry stay within 1,500 lines") {
    val battery = Paths.get("src/main/scala/graft/battery")
    assert(Files.isDirectory(battery), s"run from the repo root: $battery")
    val stream = Files.list(battery)
    val files =
      try Paths.get("src/main/scala/graft/SparkEntry.scala") +:
        stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    assert(files.size > 1, "no family registries found")
    val over = files.map(p => p -> Files.readAllLines(p).size)
      .filter(_._2 > 1500)
    assert(over.isEmpty, over.mkString("\n", "\n", ""))
  }
}
