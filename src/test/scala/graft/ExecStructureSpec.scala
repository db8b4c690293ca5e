package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint lifetimes, on-disk commits, stream wiring and quantile
  * bucketing each have one owner: only `graft/exec/Exec.scala` may
  * checkpoint a frame or release one, only `graft/exec/Artifact.scala`
  * may name a commit marker, a committer's success file, a
  * dynamic-partition overwrite or a write-once meta mode, only
  * `graft/streaming/EventStreams.scala` may start a stream writer, and
  * only `graft/operators/Shard.scala` may draw approximate quantile
  * buckets (for its two-phase prefix), so an operator cannot
  * hand-write any of these again. Deleted options and pass-through
  * wrappers cannot return anywhere. */
class ExecStructureSpec extends AnyFunSuite {

  /** owner file -> tokens no other main source may contain */
  private val owned = Seq(
    "graft/exec/Exec.scala" ->
      Seq("localCheckpoint(", ".checkpoint(", "releaseMaterialized",
        "workTaskFactor"),
    "graft/exec/Artifact.scala" ->
      Seq("_GRAFT_COMMITTED", "_SUCCESS", "partitionOverwriteMode",
        "errorifexists"),
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
    "scalableNtile(")

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
}
