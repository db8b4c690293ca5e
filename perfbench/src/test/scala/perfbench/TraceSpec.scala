package perfbench

import org.apache.spark.sql.functions.col

class TraceSpec extends SparkSuite {
  test("span counters are non-zero and the listener detaches") {
    val t = Tracer(spark, live = true)
    t.attach()
    val n = t.span("outer") {
      t.span("inner") {
        t.force(spark.range(200000).groupBy((col("id") % 97).as("k")).count()).count()
      }
    }
    t.detach()
    assert(n == 97)
    val c = t.counters().map { case (s, m) => s.name -> m }.toMap
    val inner = c("inner")
    Seq("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "shuffle_write_mb", "wall_s")
      .foreach(k => assert(inner(k) > 0, k))
    assert(c("outer")("jobs") == inner("jobs"))
    assert(c("outer")("self_s") < c("outer")("wall_s"))
    val seen = t.listener.jobs.size
    spark.range(1000).count()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    assert(t.listener.jobs.size == seen)
    t.releaseForced()
  }

  test("the union of job intervals counts overlaps once") {
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)
    assert(Tracer.unionMs(Seq()) == 0L)
  }
}
