package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.LogicalRDD

/** Job and task counters, keyed by the job group each job was submitted
  * under. The tracer gives every span its own job group, so a job is
  * attributed to the innermost span that was open when it started. */
final class JobListener extends SparkListener {
  import Tracer.GroupKey
  final class Job(val group: String, val callSite: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var completed = false
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    jobs.put(e.jobId, new Job(
      p.map(_.getProperty(GroupKey)).orNull,
      // the call site Spark records on the job's final stage
      if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completed = true }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }
  def jobOfStage(stageId: Int): Option[Int] = Option(stageJob.get(stageId))
}

/** One call into a layer, or a pass that contains such calls. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      startNs: Long, endNs: Long, gcMs: Long, codegenNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Span recorder. A tracer that is not live, or not attached, runs every
  * body untouched. An attached one opens a span per call, puts the call's
  * jobs in the span's job group, and forces lazy results at the layer
  * boundary so each layer's work runs inside its own span. */
class Tracer private (spark: SparkSession, val live: Boolean) {
  private val sc = spark.sparkContext
  val listener = new JobListener
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int](0)
  private val forced = mutable.ArrayBuffer[DataFrame]()
  private var nextId = 1
  private var attached = false
  private var attachedAt = 0L
  /** Wall time the tracer spent attached: the traced units, timed
    * independently of their spans. */
  var attachedS = 0.0

  def attach(): Unit = if (live && !attached) {
    sc.addSparkListener(listener); attached = true
    attachedAt = System.nanoTime()
  }

  /** Waits until every queued event reached the listener, then removes it. */
  def detach(): Unit = if (attached) {
    attachedS += (System.nanoTime() - attachedAt) / 1e9
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener); attached = false
  }

  def span[T](name: String)(body: => T): T =
    if (!live || !attached) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.top
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      val prevDesc = sc.getLocalProperty(Tracer.DescKey)
      sc.setJobGroup(id.toString, name)
      stack.push(id)
      val startMs = System.currentTimeMillis()
      val gc0 = Tracer.gcMs(); val cg0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, startMs, t0, t1, Tracer.gcMs() - gc0,
          CodeGenerator.compileTime - cg0)
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** In a traced run, computes `df` now, so its work lands in the open span. */
  def force(df: DataFrame): DataFrame =
    if (!live || !attached) df
    else { val m = df.localCheckpoint(eager = true); forced += m; m }

  /** Drops the blocks of every frame forced so far. */
  def releaseForced(): Unit = { forced.foreach(Tracer.release); forced.clear() }

  /** Counters of every span, inclusive of its child spans. */
  def counters(): Seq[(Span, Map[String, Double])] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Seq()).flatMap(subtree).toSeq
    val jobsByGroup = listener.jobs.asScala.toSeq.groupBy(_._2.group)
    val stagesByJob = listener.stages.asScala.toSeq
      .flatMap { case (sid, agg) => listener.jobOfStage(sid).map(_ -> agg) }
      .groupBy(_._1)
    spans.toSeq.map { s =>
      val ids = subtree(s).map(_.id.toString).toSet
      val js = ids.toSeq.flatMap(g => jobsByGroup.getOrElse(g, Seq()))
      val st = js.flatMap { case (jid, _) => stagesByJob.getOrElse(jid, Seq()).map(_._2) }
      val intervals = js.map { case (_, j) =>
        (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))
      }
      val kids = children.getOrElse(s.id, Seq())
      s -> Map(
        "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - Tracer.unionMs(kids.map(k => (k.startMs, k.endMs)).toSeq) / 1e3),
        "jobs" -> js.size.toDouble,
        "stages" -> st.count(_.completed).toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "task_run_s" -> st.map(_.runMs).sum / 1e3,
        "driver_s" -> math.max(0.0, s.wallS - Tracer.unionMs(intervals) / 1e3),
        "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
        "spill_mb" -> st.map(_.spill).sum / 1e6,
        "gc_s" -> s.gcMs / 1e3,
        "codegen_s" -> s.codegenNs / 1e9)
    }
  }

  /** Jobs per Spark call site among the jobs of spans named `name`. */
  def jobsByCallSite(name: String): Map[String, Int] = {
    val groups = spans.filter(_.name == name).map(_.id.toString).toSet
    listener.jobs.asScala.values.filter(j => groups(j.group)).toSeq
      .groupBy(_.callSite).map { case (k, v) => k -> v.size }
  }
}

object Tracer {
  /** The local properties `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"

  def apply(spark: SparkSession, live: Boolean): Tracer = new Tracer(spark, live)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Drops the storage behind a checkpointed frame: operator results that
    * come back checkpointed would otherwise hold their blocks until the
    * JVM happens to collect garbage. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }
}
