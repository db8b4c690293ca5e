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
}
