package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder of `Bench`, `Verify`, the specs and the
  * test tools: `local[cpus]` with as many shuffle partitions, UTC, parquet
  * nanos as longs, `GraftExtensions`, UI off. JVM-wide settings (heap,
  * Spark's static codegen cache size) live in `build.sbt`'s `javaOptions`. */
object Session {
  def local(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")

  /** The positive integer in environment variable `key`, `default` when
    * it is unset. Anything else fails and names the key: a zero rep
    * count would bench nothing and report success. */
  def positiveIntEnv(key: String, default: Int,
                     env: Map[String, String] = sys.env): Int =
    env.get(key).fold(default)(v => v.trim.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'")))
}
