package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Writes the formatted physical plan of named `SparkEntry` queries, one
  * file per query, so two trees' plans can be diffed (run with
  * `sbt "Test/runMain graft.tools.PlanDump <sfDir> <outDir> <query…>"`).
  *
  * A query argument ending in `*` selects every query with that prefix
  * (`q_embed_*`). Each plan goes to `<outDir>/<query>.txt` as
  * `explain("formatted")` prints it, with the run-dependent numbers
  * normalised: expression ids (`#123` → `#N`), exchange plan ids, RDD
  * ids, lambda variable numbers, JVM lambda class names and identity
  * hashes (`[[D@1b2c3d`). The session is `local[4]` whatever the
  * host, so exchange partition counts do not depend on it. Queries whose
  * builder runs jobs (trainers, checkpoints) run them here too; the plan
  * is of the returned frame, which is never executed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <query|prefix*>...")
    val Array(sfDir, outDir) = args.take(2)
    val all = graft.SparkEntry.queries
    val names = args.drop(2).toSeq.flatMap { a =>
      val hits =
        if (a.endsWith("*")) all.keys.filter(_.startsWith(a.dropRight(1)))
        else all.keys.filter(_ == a)
      require(hits.nonEmpty, s"PlanDump: no query matches '$a'")
      hits.toSeq.sorted
    }.distinct
    val spark = graft.Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    try names.foreach { name =>
      val plan = graft.exec.Exec.scoped {
        all(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      }
      Files.writeString(Paths.get(outDir, s"$name.txt"), normalise(plan))
      println(s"[plandump] $name")
    } finally spark.stop()
  }

  private[tools] def normalise(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("lambda (\\w+)_\\d+", "lambda $1_N")
      .replaceAll("@[0-9a-f]{4,}\\b", "@N")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
}
