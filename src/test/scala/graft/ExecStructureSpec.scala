package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint lifetimes have one owner: only `graft/exec/Exec.scala` may
  * checkpoint a frame or release one, so an operator cannot pair the two
  * by hand again, and the deleted task-factor option cannot return. */
class ExecStructureSpec extends AnyFunSuite {

  private val forbidden =
    Seq("localCheckpoint(", ".checkpoint(", "releaseMaterialized",
      "workTaskFactor")

  test("checkpoint calls live only in graft.exec.Exec") {
    val root = Paths.get("src/main/scala")
    val exec = root.resolve("graft/exec/Exec.scala")
    assert(Files.isRegularFile(exec), s"run from the repo root: $exec")
    val stream = Files.walk(root)
    val hits =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != exec)
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.exists(line.contains) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally stream.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
