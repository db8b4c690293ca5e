package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Events

/** Scale-technique demonstrations: file-source Structured Streaming
  * (readStream → transform → writeStream over the real events parquet)
  * and bucketed co-located joins (the shuffle-free join layout for
  * repeated big-big joins). */
class ScaleTechniquesSpec extends SparkTestBase {

  test("readStream over the events parquet directory -> windowed agg -> " +
    "memory sink") {
    // stage the parquet into a directory the file source can watch
    val dir = Files.createTempDirectory("graft_stream_src").toString
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
    val q = Events.tumbling(stream.withWatermark("ts", "10 minutes"),
        "1 hour")
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only finalizes windows the watermark passed; the
      // batch-mode operator over the same input is the ground truth for
      // those closed windows
      val streamed = spark.table("file_stream_test")
        .select("window_start", "event_type", "n_events", "sum_value")
      val batchTruth = graft.operators.Events.tumbling(batch)
      val unclosed = batchTruth.join(streamed,
        Seq("window_start", "event_type"), "left_anti")
      // everything the stream emitted must match batch semantics exactly
      val mismatched = streamed.join(batchTruth,
        Seq("window_start", "event_type", "n_events", "sum_value"),
        "left_anti")
      assert(mismatched.count() === 0)
      assert(streamed.count() > 0) // watermark closed at least one window
      assert(unclosed.count() < batchTruth.count()) // and not none
    } finally q.stop()
  }

  test("bucketed tables join without any shuffle exchange") {
    // uses the default warehouse (repo-local spark-warehouse/, gitignored)
    // — spark.sql.warehouse.dir is a static conf and can't move mid-session
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    val l = Tables.lineitem(spark, "/root/testdata/sf0.001")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("graft_orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("graft_lineitem_b")
    val joined = spark.table("graft_orders_b")
      .join(spark.table("graft_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located layout: the join itself needs NO shuffle — the only
    // exchange in the plan belongs to the final single-key aggregation
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(!exchanges.exists(_.contains("orderkey")),
      s"join key was shuffled: $exchanges\n$plan")
    // sanity: result matches the unbucketed join
    val plainN = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(joined.orderBy("o_orderstatus").collect().toSeq ===
      plainN.orderBy("o_orderstatus").collect().toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_orders_b")
    spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
  }

  test("streaming parquet sink with checkpoint: restart resumes exactly " +
    "once, no duplicate windows") {
    // the production sink path (memory sink is test-only): append-mode
    // windowed agg -> parquet files + checkpoint, then STOP the query,
    // add more source data, restart from the same checkpoint — the
    // restarted query must pick up where it left off (offsets + window
    // state from the checkpoint), emitting each finalized window exactly
    // once across both runs
    val root = Files.createTempDirectory("graft_ckpt").toString
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("event_id") % 2 === 0)
    batch.write.parquet(src)
    def start() = spark.readStream.schema(batch.schema).parquet(src)
      .withWatermark("ts", "10 minutes")
      .transform(Events.tumbling(_, "1 hour"))
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.read.parquet(sink).count()
    // second batch arrives while the query is DOWN
    Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("event_id") % 2 === 1)
      .write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(sink)
    assert(afterFirst > 0)
    assert(out.count() > afterFirst) // restart processed the new data
    // exactly-once: no (window, event_type) emitted twice across restarts
    val dups = out.groupBy("window_start", "event_type")
      .count().where(col("count") > 1)
    assert(dups.count() === 0)
  }

  test("plan shape: multi-table LSH and simhash read their source a " +
    "bounded number of times") {
    // regression guard for the single-pass banding rewrites: the per-table/
    // per-side union forms re-scanned the corpus 2x per table (34 scans at
    // nTables=16); the generator forms pay a small constant
    val dir = "/root/testdata/sf0.001"
    def scans(q: String): Int =
      "Scan parquet".r.findAllIn(SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString).length
    assert(scans("q_embed_neardup_lsh") <= 6)
    assert(scans("q_embed_ivf_topk") <= 4)
    assert(scans("q_dedup_simhash") <= 6)
    assert(scans("q_dedup_minhash") <= 6)
  }

  test("plan shape: passage dedup reuses the posting spread — one " +
    "corpus scan feeds both window assembly and reassembly") {
    // regression guard for the shared-exchange shape: the array-slicing
    // form scanned the corpus once per consumer AND re-ran the normalize
    // regex in pushed-down inferred generate filters at the scan
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_dedup_passages")(spark, dir)
    df.collect() // reuse is an AQE runtime decision — final plan only
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("ReusedExchange"), s"posting spread not reused:\n$p")
  }

  test("plan shape: curation-tier queries stay single-scan with no " +
    "unexpected joins") {
    val dir = "/root/testdata/sf0.001"
    def plan(q: String): String = SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan.toString
    def scans(p: String): Int = "Scan parquet".r.findAllIn(p).length
    // chunker and rule pack: pure projections — one scan, the only
    // exchange is the presentation sort
    for (q <- Seq("q_text_chunk", "q_text_gopher", "q_split_assign")) {
      val p = plan(q)
      assert(scans(p) === 1, s"$q scans")
      assert(!p.contains("Join"), s"$q joined: $p")
    }
    // data card and curation pipeline: one corpus pass feeding
    // aggregates/windows — never a second scan of documents
    assert(scans(plan("q_corpus_datacard")) === 1)
    assert(scans(plan("q_pipeline_curation")) === 1)
    assert(scans(plan("q_embed_datacard")) === 1)
    // BQ search: corpus words + candidate vector fetch + the (tiny)
    // probe side once per broadcast use — bounded scans, never
    // per-candidate
    assert(scans(plan("q_embed_bq_topk")) <= 4)
  }

  test("plan shape: contamination is one corpus scan + one bench scan " +
    "joined broadcast, never a shuffle join") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    // the single-pass aggregate shape: minimum two scans (corpus + bench)
    assert("Scan parquet".r.findAllIn(plan).length === 2)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("plan shape: cooccur/biblio/pagerank — the corpus pass runs once " +
    "(materialized), biblio shares one hash exchange") {
    val dir = "/root/testdata/sf0.001"
    def plan(q: String): String = SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan.toString
    // cooccur: the posting+window+pair-agg subtree is materialized ONCE;
    // its three consumers read the pair RDD — the final action must not
    // contain a parquet scan or a WindowExec (regression guard for the
    // 4-scan/4-window unmaterialized shape)
    val co = plan("q_text_cooccur")
    assert(!co.contains("Scan parquet"), s"cooccur re-scans corpus:\n$co")
    assert(!"(?m)^\\s*[*+:-]*\\s*Window ".r.findFirstIn(co).isDefined,
      s"cooccur re-runs the lead window:\n$co")
    // biblio: one scan; the rank window and the per-group aggregate share
    // ONE hash exchange (the orderBy adds only a range exchange)
    val bi = plan("q_biblio_hindex")
    assert("Scan parquet".r.findAllIn(bi).length === 1)
    assert("Exchange hashpartitioning".r.findAllIn(bi).length === 1,
      s"biblio window/agg must share one exchange:\n$bi")
    // pagerank: rounds are materialized — the final top-k acts on the
    // last round's RDD, never re-running the iteration chain
    val pr = plan("q_graph_pagerank")
    assert(!pr.contains("Scan parquet"), s"pagerank re-scans tables:\n$pr")
  }

  test("approx_count_distinct stays within 2% of exact distinct counts") {
    // A6 (SURVEY §2.4): the q_agg_approx_distinct entry is rows-only (HLL
    // sketches are engine-specific); this spec pins the error contract
    val dir = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("q_agg_distinct_exact")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, dir)
      .collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (exParts, exSupps) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - exParts) <= 0.02 * exParts,
        s"apx_parts ${r.getLong(1)} vs exact $exParts for ${r.getString(0)}")
      assert(math.abs(r.getLong(2) - exSupps) <= 0.02 * exSupps,
        s"apx_supps ${r.getLong(2)} vs exact $exSupps for ${r.getString(0)}")
    }
  }
}
