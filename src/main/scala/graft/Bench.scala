package graft
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = Session.positiveIntEnv("SPARK_GRAFT_BENCH_REPS", 3)
    val spark = Session.local(Session.positiveIntEnv("SPARK_GRAFT_CPUS", 4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first timed queries don't absorb JIT cost:
    // touch the common scan+shuffle+agg machinery once, untimed
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // median-of-N per query: single-shot timings on this shared-host VM move
    // 3-5x run-to-run (BASELINE.md); the median is stable enough to attribute
    // per-query regressions. Failures are NOT swallowed — a crashing query
    // must fail the bench (a -1s placeholder would IMPROVE the total).
    val failed = collection.mutable.ListBuffer[String]()
    // local-iteration aid: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // a typo'd filter would otherwise bench nothing and print a healthy
    // total of 0.000 with exit 0
    require(selected.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY matched no queries: ${only.getOrElse(Set())}")
    val allTimes = collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // generated classes compiled per rep, in rep order (file record only):
    // reps after the first compile ~0 while the query's working set fits
    // Spark's codegen cache (build.sbt)
    val allCompiles = collection.mutable.LinkedHashMap[String, Seq[(Long, Double)]]()
    val results = selected.map { case (name, fn) =>
      val times =
        try {
          val runs = (0 until reps).map { _ =>
            val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val c0 = CodeGenerator.compileTime
            val t0 = System.nanoTime()
            exec.Exec.scoped(fn(spark, sfDir).count())
            ((System.nanoTime() - t0) / 1e9,
              (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
                (CodeGenerator.compileTime - c0) / 1e9))
          }
          allCompiles(name) = runs.map(_._2)
          runs.map(_._1).sorted
        } catch {
          case NonFatal(e) =>
            System.err.println(s"BENCH FAILURE $name: $e")
            failed += name
            Seq.empty[Double]
        }
      // untimed GC between queries: local-mode broadcasts / checkpoint
      // blocks are reclaimed by the ContextCleaner only after their driver
      // references are GC'd — with a 100+ GiB heap that may never happen
      // naturally within the battery, and the accumulated state degrades
      // later queries (observed 6s -> 41s for the same query in round 4)
      System.gc()
      allTimes(name) = times
      name -> (if (times.isEmpty) Double.NaN else times(times.size / 2))
    }
    val ok = results.filter(!_._2.isNaN)
    // 3-decimal (ms) precision for every printed and recorded time
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // one short summary line on stdout; the per-query medians and every
    // rep live in the file record below
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${ok.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // the full record (every rep per query, sorted ascending). Path
    // override: SPARK_GRAFT_BENCH_OUT.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full.json")
    val repsJson = allTimes.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    def perRep(f: ((Long, Double)) => String): String = allCompiles.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val record =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qs,"rep_times":$repsJson,"rep_compiles":${perRep(_._1.toString)},"rep_compile_s":${perRep(r => fmt(r._2))},"failed":$failedJson,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      record + "\n")
    // ALSO append to the tracked history log so round-over-round
    // comparison is a `git diff`, not stdout-tail archaeology.
    // Path override: SPARK_GRAFT_BENCH_HISTORY (the default is
    // cwd-relative, i.e. the repo root when run via sbt).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl")),
      record + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
