package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.rdd.{NewHadoopRDD, RDD}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec,
  QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.Normalize
import graft.operators.{Dedup, Enrich}
import graft.sources.BibSources

/** Plan-shape guard for the export pipeline (combine → normalizeDoi →
  * priorityDedup → journalMetrics → llmExtract): the executed plan of its
  * final action reads each source file once, dedups in one window, joins
  * no broadcast dimension and holds no RDD-backed scan, whose lineage
  * Catalyst can neither see nor reuse. */
class ExportPlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val fx = java.nio.file.Paths.get("fixtures").toAbsolutePath.toString
  private val files = Seq("pubmed_sample.txt", "wos_sample.txt",
    "wos_sample.csv", "sciencedirect_sample.txt")

  /** Every file a leaf's RDD lineage reads, once per path through it. */
  private def lineageReads(rdd: RDD[_]): Seq[String] = rdd match {
    case h: NewHadoopRDD[_, _] => Seq(h.name)
    case f: FileScanRDD =>
      f.filePartitions.flatMap(_.files.map(_.filePath.toString)).distinct
    case _ => rdd.dependencies.flatMap(d => lineageReads(d.rdd))
  }

  /** The scan leaves of an executed plan (AQE stages and subqueries
    * included, reused exchanges counted once), with the files each reads. */
  private def scanLeaves(plan: SparkPlan): Seq[(String, Seq[String])] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec =>
        "FileSourceScanExec" -> s.relation.location.rootPaths.map(_.toString)
      case r: RDDScanExec => "RDDScanExec" -> lineageReads(r.rdd)
      case e: ExternalRDDScanExec[_] =>
        "ExternalRDDScanExec" -> lineageReads(e.rdd)
    }

  test("export pipeline: one scan per source, one window, no broadcast, " +
    "no RDD leaf") {
    def f(name: String) = s"$fx/$name"
    val combined = BibSources.combine(Seq(
      BibSources.pubmed(spark, f("pubmed_sample.txt")),
      BibSources.wos(spark, f("wos_sample.txt")),
      BibSources.wosCsv(spark, f("wos_sample.csv")),
      BibSources.sciencedirect(spark, f("sciencedirect_sample.txt"))))
    val normalized = combined
      .withColumn("doi_norm", Normalize.normalizeDoi(col("doi")))
      .withColumn("prio", Normalize.sourcePriority(col("source_type")))
      .withColumn("rid", xxhash64(col("source_type"), col("title"),
        col("doi_norm"), col("pmid"), col("wos_id")))
    val deduped = Dedup.priorityDedup(normalized, col("doi_norm"),
      col("prio"), col("rid"))
    val enriched = Enrich.journalMetrics(deduped, "journal",
      Enrich.StubMetricsClient)
    val out = Enrich.llmExtract(enriched, "abstract", Seq("summary", "n_words"),
      Enrich.StubLlmClient)

    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = try {
      val rs = out.collect()
      // listener events arrive asynchronously; wait for this action's
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      var qe: QueryExecution = null
      while (qe == null && System.nanoTime() < deadline) {
        val next = seen.poll(1, TimeUnit.SECONDS)
        if (next eq out.queryExecution) qe = next
      }
      assert(qe != null, "no QueryExecutionListener event for the collect")
      val leaves = scanLeaves(qe.executedPlan)
      val scans = files.map(n => n -> leaves.map(_._2.count(_.endsWith(n))).sum)
      val windows = collectWithSubqueries(qe.executedPlan) { case w: WindowExec => w }
      val broadcasts = collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec => b }
      info(s"scans per file: ${scans.mkString(", ")}; leaves: " +
        leaves.map(_._1).groupBy(identity).view.mapValues(_.size).toMap +
        s"; windows: ${windows.size}; broadcast exchanges: ${broadcasts.size}")
      scans.foreach { case (n, k) =>
        assert(k === 1, s"$n is scanned $k times: ${scans.mkString(", ")}")
      }
      assert(windows.size === 1, s"${windows.size} WindowExec nodes")
      assert(broadcasts.isEmpty, s"${broadcasts.size} BroadcastExchangeExec nodes")
      val rddLeaves = leaves.map(_._1).filter(_ != "FileSourceScanExec")
      assert(rddLeaves.isEmpty, s"RDD scan leaves in the plan: $rddLeaves")
      rs
    } finally spark.listenerManager.unregister(listener)

    // 8 records, 3 of them share one DOI: one survivor per DOI
    val dois = rows.map(_.getAs[String]("doi_norm")).filter(d => d != null && d.nonEmpty)
    assert(rows.length === 6 && dois.distinct.length === dois.length)
  }
}
