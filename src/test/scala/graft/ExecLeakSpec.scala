package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.exec.Exec

/** Checkpoint storage is released on every path: each `SparkEntry` query,
  * run inside `Exec.scoped` and forced the way `Verify` forces it, leaves
  * no checkpoint blocks behind, and with a reliable checkpoint dir the
  * iterating families leave no checkpoint files. */
class ExecLeakSpec extends SparkTestBase {

  // the sf0.001 tables the data-backed specs read
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR",
    Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString)

  /** Runs each query scoped, written like Verify writes it; returns the
    * queries that failed and, per query, the persistent RDDs it left. */
  private def runScoped(names: Seq[String])
      : (Seq[String], Map[String, Set[Int]]) = {
    val out = Files.createTempDirectory("graft_leak").toString
    val failed = Seq.newBuilder[String]
    val leaked = Map.newBuilder[String, Set[Int]]
    for (name <- names) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try Exec.scoped {
        SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      } catch { case scala.util.control.NonFatal(_) => failed += name }
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      if (left.nonEmpty) leaked += name -> left.toSet
    }
    (failed.result(), leaked.result())
  }

  test("no SparkEntry query leaves a checkpoint block behind") {
    val (failed, leaked) = runScoped(SparkEntry.queries.keys.toSeq.sorted)
    assert(failed.isEmpty, s"queries failed: $failed")
    assert(leaked.isEmpty, s"checkpoint blocks left behind: $leaked")
  }

  test("with a reliable checkpoint dir, the iterating families leave no " +
    "checkpoint files") {
    val families = Seq("q_graph_", "q_dedup_cluster", "q_classify_",
      "q_text_classify", "q_embed_classify", "q_ml_boost", "q_rec_",
      "q_text_bpe", "q_embed_pq", "q_embed_ivfpq")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => families.exists(n.startsWith))
    val cpDir = Files.createTempDirectory("graft_leak_cp").toString
    // the session is shared across suites: restore the previous dir
    val prevCpDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(cpDir)
    val (failed, _) =
      try runScoped(names)
      finally spark.sparkContext.setCheckpointDir(prevCpDir.orNull)
    assert(failed.isEmpty, s"queries failed: $failed")
    val fs = new Path(cpDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(cpDir), true)
    var files = List.empty[String]
    while (it.hasNext) files ::= it.next().getPath.toString
    assert(files.isEmpty, s"checkpoint files left behind: $files")
  }

  test("a scope releases its frames when its body throws, and hands the " +
    "frames a returned result reads to the enclosing scope") {
    import spark.implicits._
    val live = () => spark.sparkContext.getPersistentRDDs.keySet
    val before = live()
    intercept[IllegalStateException](Exec.scoped {
      Exec.materialize(Seq(1L, 2L).toDF("id"))
      throw new IllegalStateException("round failed")
    })
    assert(live() === before)
    Exec.scoped {
      val inner = Exec.scoped {
        val kept = Exec.materialize(Seq(1L, 2L).toDF("id"))
        Exec.materialize(Seq(3L).toDF("id")) // not read by the result
        kept.where(col("id") > 1)
      }
      assert((live() -- before).size === 1) // only `kept` is alive
      assert(inner.count() === 1)
    }
    assert(live() === before)
  }
}
