package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a session, warm it up, generate the seeded
  * inputs, run one workload's closed loop for the given seconds, check
  * every output, and print one JSON result as the last line of stdout.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> [--launch-ms <epoch ms>] [--git-sha <sha>]
  * [--source-digest <hex>]`. `perfbench/run.py` builds the code and
  * supplies the last three. */
object Main {
  final case class Sizes(bibPapers: Int, citationPapers: Int, citationRefs: Int)

  /** Input sizes: chosen so one run stays within its time budget on a
    * 4-core host while each timed unit does enough work to be steady. */
  val sizes: Sizes = Sizes(bibPapers = 500, citationPapers = 2000, citationRefs = 10)

  /** Mock service: per-request service time, and one first attempt in
    * `FaultEvery` refused with a 429. */
  val ServiceMicros = 200L
  val FaultEvery = 50

  val Workloads = Seq("bib_export", "citation_rank")

  /** Spans named after the layer and operation each wraps. */
  val LayerSpans = Seq("bibsources.parse", "dedup.priority", "enrich.metrics",
    "enrich.llm", "excel.write", "graph.pagerank", "graph.ppr", "graph.cocitation",
    "similarity.kmeans", "similarity.ivf")
  /** Span counters reported per layer; the spans file has every counter. */
  val SpanCounters = Seq("jobs", "tasks", "task_cpu_s", "task_run_s", "driver_s",
    "shuffle_write_mb", "gc_s", "codegen_s", "self_s")
  /** Layers of the export pass whose share of the pass is reported. */
  val SharedLayers = Seq("bibsources.parse", "enrich.metrics", "enrich.llm", "excel.write")
  val LayerMetrics: Seq[(String, String)] = Seq(
    "bibsources.reject_ratio" -> "ratio", "dedup.priority.keep_ratio" -> "ratio",
    "enrich.metrics.keys" -> "count", "httpclients.requests" -> "count",
    "httpclients.retries" -> "count", "httpclients.service_s" -> "s",
    "jsonrepair.default_ratio" -> "ratio", "excel.bytes" -> "bytes",
    "similarity.ivf.recall" -> "ratio", "trace.overhead_ratio" -> "ratio",
    "trace.layer_coverage" -> "ratio", "jvm.peak_rss_mb" -> "MB") ++
    SharedLayers.map(l => s"$l.pass_share" -> "ratio")

  def unitOf(counter: String): String =
    if (counter.endsWith("_s")) "s" else if (counter.endsWith("_mb")) "MB" else "count"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        launchMs: Long, gitSha: String, digest: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; one of ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace == "1",
      m.get("launch-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      m.getOrElse("git-sha", ""), m.getOrElse("source-digest", ""))
  }

  def session(nproc: Int, root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One line of progress on stderr, which the result never depends on. */
  def progress(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.currentTimeMillis() - launchMs) / 1e3}%.1f s] $msg")
  @volatile private var launchMs = System.currentTimeMillis()

  /** The process's high-water resident set, from the kernel. */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  /** Ticks of all CPUs since boot, and the share of them the hypervisor
    * took for other guests: the host's load, which no figure here
    * controls but which slows every timed unit. */
  def cpuTicks(): (Long, Long) = {
    val src = Source.fromFile("/proc/stat")
    val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (v.sum, if (v.length > 7) v(7) else 0L)
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val code = try run(a) catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace(System.err)
        1
    }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    launchMs = a.launchMs
    val root = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(nproc, root)
    val server =
      if (a.workload == "bib_export") Some(new MockServer(nproc, ServiceMicros * 1000, FaultEvery))
      else None
    try {
      val wl: Workload = a.workload match {
        case "bib_export" => new BibExport(spark, root, a.seed, server.get, sizes.bibPapers)
        case "citation_rank" => new CitationRank(spark, root, a.seed,
          sizes.citationPapers, sizes.citationRefs)
      }
      progress("session ready")
      // input generation is not set-up: its time is taken out
      val p0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      progress(s"inputs ready in $prepareS s")
      wl.warmUp()
      val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3 - prepareS
      progress(s"set-up took $setupS s")
      val tracer = Tracer(spark, a.trace)
      val (ticks0, steal0) = cpuTicks()
      val o = wl.run(a.seconds, tracer)
      val (ticks1, steal1) = cpuTicks()
      progress("loop done")
      val correct = o.failed == 0
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(("setup_s", setupS, "s"),
          ("records_per_cpu_s", o.records / Stats.median(o.passCpuS), "1/s"))
        else layerMetrics(tracer, o)
      val record = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "correct" -> correct, "failures" -> o.failures,
        "attempted" -> o.attempted, "failed" -> o.failed,
        "error_rate" -> o.failed.toDouble / o.attempted.max(1),
        "setup_s" -> setupS, "prepare_s" -> prepareS, "peak_rss_mb" -> peakRssMb(),
        "pass_s" -> o.passS, "pass_cpu_s" -> o.passCpuS, "pass_process_cpu_s" -> o.passProcessCpuS,
        "records_per_s" -> o.records / Stats.median(o.passS),
        "loop_steal_share" -> (steal1 - steal0).toDouble / (ticks1 - ticks0).max(1),
        "traced_unit_s" -> o.tracedS, "untraced_unit_s" -> o.untracedS,
        "layer_pass_share" -> passShares(tracer),
        "metrics" -> metrics.map(m => m._1 -> m._2).toMap, "workload_info" -> o.extra,
        "env" -> Map(
          "nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
          "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
          "spark" -> spark.version, "git_sha" -> a.gitSha, "source_digest" -> a.digest,
          "session" -> Map("master" -> s"local[$nproc]", "shuffle_partitions" -> nproc,
            "extensions" -> "graft.GraftExtensions", "ansi" -> spark.conf.get("spark.sql.ansi.enabled")),
          "mock" -> server.map(s => Map("service_us" -> s.serviceNanos / 1000,
            "fault_every" -> s.faultEvery, "threads" -> nproc)).getOrElse(Map())))
      val results = root.resolve("results")
      Files.createDirectories(results)
      val tag = s"${a.workload}-s${a.seed}-trace${if (a.trace) 1 else 0}"
      Json.write(results.resolve(s"$tag.json"), record)
      if (a.trace) Json.write(results.resolve(s"$tag-spans.json"), spansJson(tracer))
      o.failures.foreach(m => System.err.println(s"perfbench: check failed: $m"))
      println(Json.render(Map("perfbench_run" -> record)))
      println(Json.render(Map(
        "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
      0
    } finally {
      server.foreach(_.close())
      spark.stop()
      progress("stopped")
    }
  }

  /** Per-layer metrics of a traced run: each span counter as the median
    * over the calls of that span, zero for layers this workload does not
    * call, then the workload's own layer metrics and the tracing cost. */
  def layerMetrics(tracer: Tracer, o: Outcome): Seq[(String, Double, String)] = {
    val counters = tracer.counters()
    val byName = counters.groupBy(_._1.name)
    val spanMetrics = for (s <- LayerSpans; c <- SpanCounters) yield {
      val vs = byName.getOrElse(s, Seq()).map(_._2(c))
      (s"$s.$c", if (vs.isEmpty) 0.0 else Stats.median(vs), unitOf(c))
    }
    // layer spans never nest, so their walls add up without overlap
    val layerWall = tracer.spans.filter(s => LayerSpans.contains(s.name)).map(_.wallS).sum
    val own = o.layer ++ passShares(tracer).map { case (l, v) => s"$l.pass_share" -> v } ++ Map(
      "jvm.peak_rss_mb" -> peakRssMb(),
      "trace.overhead_ratio" ->
        (if (o.tracedS.isEmpty || o.untracedS.isEmpty) 0.0
         else Stats.median(o.tracedS) / Stats.median(o.untracedS)),
      "trace.layer_coverage" -> layerWall / tracer.attachedS.max(1e-9))
    spanMetrics ++ LayerMetrics.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) }
  }

  /** Each layer's share of the pass that called it: the layer span's wall
    * over its parent pass span's wall, as the median over passes. Empty
    * where layers are not called from inside a pass span. */
  def passShares(tracer: Tracer): Map[String, Double] = {
    val byId = tracer.spans.map(s => s.id -> s).toMap
    Stats.medians(tracer.spans.toSeq.collect {
      case s if LayerSpans.contains(s.name) && byId.contains(s.parent) =>
        Map(s.name -> s.wallS / byId(s.parent).wallS)
    })
  }

  def spansJson(tracer: Tracer): Map[String, Any] = Map(
    "spans" -> tracer.counters().map { case (s, c) =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "counters" -> c)
    },
    "jobs_by_call_site" -> LayerSpans.map(n => n -> tracer.jobsByCallSite(n))
      .filter(_._2.nonEmpty).toMap)
}
