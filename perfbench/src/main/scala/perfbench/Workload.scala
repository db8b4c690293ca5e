package perfbench

import scala.collection.mutable

/** What one workload measured in one run. */
final case class Outcome(
    /** Input records of one full pass. */
    records: Long,
    /** Wall time of each full pass. */
    passS: Seq[Double],
    /** CPU time of the process's Java threads in each full pass. */
    passCpuS: Seq[Double],
    /** CPU time of the whole process in each full pass, JIT and GC included. */
    passProcessCpuS: Seq[Double],
    attempted: Long,
    failed: Long,
    /** One message per failed output check or failed operation. */
    failures: Seq[String],
    /** Workload-specific per-layer metrics, from traced units only. */
    layer: Map[String, Double],
    /** Wall time of each traced and each untraced unit in a traced run. */
    tracedS: Seq[Double],
    untracedS: Seq[Double],
    extra: Map[String, Any])

trait Workload {
  /** Generates (or reuses) and loads the inputs for the seed; untimed. */
  def prepare(): Unit
  /** Runs the workload untimed, so the timed units start with loaded
    * classes and compiled code. Counts as set-up. */
  def warmUp(): Unit
  /** The closed loop: one client, next unit only after the last returned. */
  def run(seconds: Double, tracer: Tracer): Outcome
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as `numpy.quantile` computes it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def medians(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map { k =>
      k -> median(rows.flatMap(_.get(k)))
    }.toMap
}

/** CPU time of the process's Java threads: the program's own work on
  * every thread (driver, Spark tasks, broadcast builders, the mock),
  * without the JIT compiler and GC threads, which the JVM does not list.
  * A thread started after the snapshot counts from zero; one that ends
  * before `since` is not counted. */
object ThreadCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  def since(before: Map[Long, Long]): Double =
    snapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** Collects failure messages, keeping the first few of each kind. */
final class Failures {
  private val msgs = mutable.ArrayBuffer[String]()
  var count = 0L
  def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    count += 1
    if (msgs.size < 20) msgs += msg
  }
  def all: Seq[String] = msgs.toSeq
}
