package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (local use)
    val spark = Session.local(Session.positiveIntEnv("SPARK_GRAFT_CPUS", 4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // NonFatal: one broken query shouldn't kill the dump loop, but a
      // fatal error (OOM) must propagate, not mislabel later queries
      // scoped: the checkpoints behind a lazily returned result are
      // released once the write has run
      try exec.Exec.scoped {
        val df = fn(spark, sfDir)
        // Gate hygiene: the driver's comparer sorts every output column
        // and cannot order array/map/struct cells — an oracle-checked
        // query emitting one would fail the gate at compare time with an
        // opaque pandas error. Fail HERE, loudly, at dump time instead.
        // Rows-only queries (no oracleSql entry) may emit any shape.
        if (SparkEntry.oracleSql.contains(name)) {
          val complex = df.schema.fields.filter(f => f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType => true
            case _ => false
          })
          require(complex.isEmpty,
            s"query $name is oracle-checked but emits non-scalar " +
              s"column(s) ${complex.map(_.name).mkString(", ")} — " +
              "reshape to long format (id, pos, value) like q_embed_pca")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
