package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Graph, Similarity}

/** Citation analytics on a power-law graph with paper embeddings:
  * PageRank and personalised PageRank (deterministic mode), co-citation
  * counts, k-means and IVF top-k. Each is a fixed-round iterative job on
  * small state. */
final class CitationRank(spark: SparkSession, root: Path, seed: Long,
                         papers: Int, meanRefs: Int) extends Workload {
  import spark.implicits._
  import CitationRank._

  private final class Input(val dir: Path, val src: Array[Int], val dst: Array[Int],
                            val topic: Array[Int], val edges: DataFrame,
                            val emb: DataFrame, val sources: Seq[Long],
                            val probes: DataFrame)
  private var in: Input = _
  /** Truth for the input: driver-side PageRank and PPR, and brute-force top-k. */
  private var pr: Map[Long, Double] = _
  private var ppr: Map[Long, Double] = _
  private var exactTopK: Map[Long, Set[Long]] = _

  private def load(n: Int): Input = {
    val d = Gen.cached(root.resolve("data"), "citation_rank", seed, s"${n}x$meanRefs")(
      Gen.writeCitation(_, seed, n, meanRefs))
    val el = Files.readAllLines(d.resolve("edges.tsv"), UTF_8).asScala
      .map { l => val t = l.indexOf('\t'); (l.take(t).toInt, l.drop(t + 1).toInt) }
    val rows = Files.readAllLines(d.resolve("embeddings.tsv"), UTF_8).asScala.map { l =>
      val Array(id, t, v) = l.split("\t")
      (id.toLong, t.toInt, v.split(",").map(_.toFloat))
    }
    val edges = el.toSeq.toDF("src", "dst").localCheckpoint(eager = true)
    val emb = rows.map(r => (r._1, r._3)).toSeq.toDF("vec_id", "embedding")
      .localCheckpoint(eager = true)
    val r = Gen.rng(seed, 0x5EEDL)
    val sources = Seq.fill(Sources)(r.nextInt(n).toLong).distinct
    val probeIds = Seq.fill(Probes)(r.nextInt(n).toLong).distinct.toSet
    val probes = emb.where(col("vec_id").isin(probeIds.toSeq: _*)).localCheckpoint(eager = true)
    new Input(d, el.map(_._1).toArray, el.map(_._2).toArray,
      rows.map(_._2).toArray, edges, emb, sources, probes)
  }

  /** The five analytics steps; returns each step's collected result. */
  private def pass(t: Tracer): Map[String, Array[Row]] = {
    def step(name: String)(df: => DataFrame): (String, Array[Row]) =
      name -> t.span(name) {
        val out = df
        try out.collect() finally Tracer.release(out)
      }
    Map(
      step("graph.pagerank")(Graph.pageRank(in.edges, col("src"), col("dst"),
        iters = Iters, deterministic = true)),
      step("graph.ppr")(Graph.personalizedPageRank(in.edges, col("src"), col("dst"),
        in.sources.toDF("id"), iters = Iters, deterministic = true)),
      step("graph.cocitation")(Graph.coCitation(in.edges, col("src"), col("dst"),
          maxSrcOutDegree = MaxOutDegree)
        .agg(sum("n_common"), count(lit(1)), max("n_dropped_sources"))),
      step("similarity.kmeans")(Similarity.kMeans(in.emb, Gen.topics, Iters,
        seeding = Similarity.KMeansSeeding.FarthestPoint)),
      step("similarity.ivf")(Similarity.ivfTopK(in.emb, in.probes, TopK,
        nCentroids = Gen.topics, nProbe = 4)))
  }

  private def use(i: Input): Unit = {
    in = i
    pr = powerIteration(None)
    ppr = powerIteration(Some(in.sources.toSet))
    exactTopK = Similarity.bruteForceTopK(in.emb, in.probes, TopK).select("probe_id", "nbr_id")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  def prepare(): Unit = use(load(papers))

  /** One untimed pass over the real input. */
  def warmUp(): Unit = {
    val f = new Failures
    check(pass(Tracer(spark, live = false)), f)
    require(f.count == 0, "warm-up output check failed: " + f.all.mkString("; "))
  }

  def run(seconds: Double, tracer: Tracer): Outcome = {
    val failures = new Failures
    val passes = mutable.ArrayBuffer[Double]()
    val passesCpu = mutable.ArrayBuffer[Double]()
    val passesProcessCpu = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    val layerRows = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val live = tracer.live && i % 2 == 1
      if (live) tracer.attach()
      val (p0, c0, pc0) = (System.nanoTime(), ThreadCpu.snapshot(), Main.processCpuS())
      val out = try Some(tracer.span("citation.pass")(pass(tracer)))
        catch { case e: Exception => failures.check(ok = false, s"pass $i failed: $e"); None }
      val s = (System.nanoTime() - p0) / 1e9
      passesCpu += ThreadCpu.since(c0)
      passesProcessCpu += Main.processCpuS() - pc0
      tracer.detach()
      Main.progress(s"citation_rank pass $i: $s s")
      attempted += Steps
      passes += s
      if (tracer.live) (if (live) traced else untraced) += s
      out.foreach { o =>
        val recall = check(o, failures)
        if (live) layerRows += Map("similarity.ivf.recall" -> recall)
      }
      i += 1
    }
    Outcome(papers, passes.toSeq, passesCpu.toSeq, passesProcessCpu.toSeq, attempted,
      failures.count, failures.all, Stats.medians(layerRows.toSeq),
      traced.toSeq, untraced.toSeq,
      Map("passes" -> passes.size, "papers" -> papers, "edges" -> in.src.length))
  }

  /** PageRank and PPR against a power iteration on the driver, the
    * co-citation totals against counts from the edge list, k-means
    * against the planted topics, and IVF top-k against brute force.
    * Returns the IVF recall. */
  private def check(o: Map[String, Array[Row]], f: Failures): Double = {
    val n = in.src.length
    def compare(name: String, rows: Array[Row], want: Map[Long, Double]): Unit = {
      val got = rows.map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
      f.check(got.keySet == want.keySet, s"$name: node set differs")
      val worst = want.map { case (k, v) => math.abs(got.getOrElse(k, -1.0) - v) }.max
      f.check(worst <= 1e-12, s"$name: rank differs from the power iteration by $worst")
    }
    compare("pagerank", o("graph.pagerank"), pr)
    compare("ppr", o("graph.ppr"), ppr)

    val outdeg = mutable.Map[Int, Long]().withDefaultValue(0L)
    (0 until n).foreach(i => outdeg(in.src(i)) += 1)
    val kept = outdeg.values.filter(_ <= MaxOutDegree)
    val c = o("graph.cocitation").head
    f.check(c.getLong(0) == kept.map(d => d * (d - 1) / 2).sum,
      s"cocitation: n_common sums to ${c.get(0)}, want ${kept.map(d => d * (d - 1) / 2).sum}")
    f.check(c.getLong(2) == outdeg.values.count(_ > MaxOutDegree),
      "cocitation: dropped-source count differs")

    val km = o("similarity.kmeans").map(r => (r.getLong(0), r.getInt(1)))
    f.check(km.length == in.topic.length, s"kmeans: ${km.length} assignments, want ${in.topic.length}")
    // purity against the planted topics: Lloyd may merge two topics and
    // split another, so this only requires most papers to sit with their
    // topic's majority
    val purity = km.groupBy(_._2).values.map { members =>
      members.groupBy(m => in.topic(m._1.toInt)).values.map(_.length).max
    }.sum.toDouble / km.length.max(1)
    f.check(purity >= MinPurity, s"kmeans: purity $purity below $MinPurity")

    val approx = o("similarity.ivf").map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("nbr_id")))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val hits = exactTopK.map { case (p, want) => (want & approx.getOrElse(p, Set())).size }.sum
    val recall = hits.toDouble / exactTopK.values.map(_.size).sum.max(1)
    f.check(recall >= MinRecall, s"ivf: recall $recall below $MinRecall")
    recall
  }

  /** PageRank by power iteration on the driver, with the operator's
    * semantics: simple edges, nodes are edge endpoints, dangling mass
    * spread over the teleport set, uniform start (or the source set). */
  private def powerIteration(sources: Option[Set[Long]]): Map[Long, Double] = {
    val edges = in.src.indices.map(i => (in.src(i).toLong, in.dst(i).toLong)).distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.toArray
    val idx = nodes.zipWithIndex.toMap
    val nn = nodes.length
    val out = new Array[Int](nn)
    edges.foreach(e => out(idx(e._1)) += 1)
    val srcSet = sources.map(_.filter(idx.contains)).getOrElse(nodes.toSet)
    require(srcSet.nonEmpty, "no personalisation source is in the graph")
    val tele = nodes.map(v => if (srcSet(v)) 1.0 / srcSet.size else 0.0)
    var rank = tele.clone()
    val byDst = edges.map(e => (idx(e._2), idx(e._1))).sortBy(_._2).groupBy(_._1)
    for (_ <- 0 until Iters) {
      val dm = (0 until nn).filter(out(_) == 0).map(rank).sum
      val next = new Array[Double](nn)
      (0 until nn).foreach { v =>
        val ct = byDst.get(v).map(_.map { case (_, u) => rank(u) / out(u) }.sum).getOrElse(0.0)
        next(v) = (1 - Damping) * tele(v) + Damping * (ct + dm * tele(v))
      }
      rank = next
    }
    nodes.indices.map(i => nodes(i) -> rank(i)).toMap
  }
}

object CitationRank {
  /** Passes a run makes at least: passes keep speeding up for a while
    * after warm-up, so a fixed count keeps each run's median at the same
    * point of that curve. At least two, so a traced run has one traced
    * and one untraced pass. */
  val MinPasses = 2
  /** Rounds of PageRank, PPR and Lloyd's k-means. */
  val Iters = 3
  val Damping = 0.85
  val MaxOutDegree = 10000L
  val TopK = 10
  val Sources = 16
  val Probes = 64
  val Steps = 5
  val MinPurity = 0.6
  val MinRecall = 0.9
}
