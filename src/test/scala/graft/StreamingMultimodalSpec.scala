package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Events, Multimodal}
import graft.streaming.EventStreams

class StreamingMultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("ST4: watermarked tumbling window finalizes closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val q = Events.tumbling(df.withWatermark("ts", "10 minutes"), "1 hour")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:40:00"), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      mem.addData((ts("2024-01-01 12:30:00"), "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows === Set(("2024-01-01 10:00:00", "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("exactly-once sink: replayed foreachBatch epoch leaves the table " +
    "unchanged (idempotent dynamic partition overwrite)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val path = s"$dir/table"
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = Events.tumbling(mem.toDF.toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes"), "1 hour")
    // wrap the sink body to capture each epoch's content for replay
    var captured: Option[(Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)] = None
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect()
        if (rows.nonEmpty) captured = Some((rows, b.schema))
        EventStreams.windowSinkBatch(path)(b, id)
      }
      .start()
    try {
      mem.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:40:00"), "click", 2.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:30:00"), "view", 4.0)) // closes 10:00
      q.processAllAvailable()
      def table() = spark.read.parquet(path)
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSeq
      val once = table()
      assert(once.toSet === Set(("2024-01-01 10:00:00", "click", 2L, 3.0)))
      // crash-replay simulation: Structured Streaming re-runs the SAME
      // epoch body when the offset commit was lost — replay it verbatim
      val (rows, schema) = captured.get
      val replay = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), schema)
      EventStreams.windowSinkBatch(path)(replay, batchId = 999L)
      assert(table().toSet === once.toSet)
      assert(table().size === once.size, // an append sink would double here
        "replayed epoch duplicated rows")
    } finally q.stop()
  }

  test("continuous ingest dedup gate end-to-end: later microbatches probe " +
    "the corpus earlier ones built") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_e2e")
      .toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.startGate(mem.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt")(Dedup.ingestGateBatch(s"$dir/idx", s"$dir/corpus",
      threshold = 0.5))
    try {
      mem.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      q.processAllAvailable()
      mem.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
        (11L, "totally distinct content with no overlap whatsoever here"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 11L)) // 10 near-dups doc 1 -> gated out
    } finally q.stop()
  }

  test("ST2: watermarked sliding window matches batch semantics for " +
    "closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:20:00"), "click", 2.0),
      (ts("2024-01-01 10:50:00"), "view", 4.0))
    val late = (ts("2024-01-01 13:00:00"), "view", 8.0)
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val q = Events.sliding(df.withWatermark("ts", "10 minutes"), "1 hour",
        "15 minutes")
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode("append").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(late) // watermark -> 12:50, closes every window of `data`
      q.processAllAvailable()
      val streamed = spark.table("sliding_test")
      val batchTruth = graft.operators.Events.sliding(
        data.toDF("ts", "event_type", "value"), "1 hour", "15 minutes")
      // every window over `data` is closed, so parity must be EXACT
      assert(streamed.count() === batchTruth.count())
      val mismatched = streamed.join(batchTruth,
        Seq("window_start", "event_type", "n_events", "sum_value"),
        "left_anti")
      assert(mismatched.count() === 0)
      // each event lands in width/slide = 4 slides
      assert(batchTruth.count() >= 4)
    } finally q.stop()
  }

  test("ST3: watermarked session_window matches batch semantics for " +
    "closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),  // same session (gap 30m)
      (1L, ts("2024-01-01 11:30:00"), 3.0),  // new session
      (2L, ts("2024-01-01 10:00:00"), 4.0))
    val late = (2L, ts("2024-01-01 14:00:00"), 5.0) // pushes watermark
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF.toDF("user_id", "ts", "value")
    val q = Events.sessions(df.withWatermark("ts", "10 minutes"),
        "30 minutes")
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(late)
      q.processAllAvailable()
      val streamed = spark.table("session_test")
      val batchTruth = graft.operators.Events.sessions(
        data.toDF("user_id", "ts", "value"), "30 minutes")
      assert(streamed.count() === batchTruth.count()) // 3 closed sessions
      val mismatched = streamed.join(batchTruth,
        Seq("user_id", "session_start", "session_end", "n_events",
          "sum_value"), "left_anti")
      assert(mismatched.count() === 0)
    } finally q.stop()
  }

  test("stream-static enrichment join: dim category drives the windowed " +
    "counts; unmatched keys keep flowing with null category") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "engagement"), ("view", "impression"))
      .toDF("event_type", "category")
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val q = EventStreams.enrichedTumblingCounts(df, dim)
      .writeStream.format("memory").queryName("enriched_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:10:00"), "tap", 2.0),   // not in dim -> null
        (ts("2024-01-01 10:40:00"), "view", 4.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:30:00"), "view", 8.0)) // close 10:00
      q.processAllAvailable()
      val rows = spark.table("enriched_test")
        .select(col("window_start").cast("string"), col("category"),
          col("n_events"), col("sum_value"))
        .as[(String, Option[String], Long, Double)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", Some("engagement"), 1L, 1.0),
        ("2024-01-01 10:00:00", Some("impression"), 1L, 4.0),
        ("2024-01-01 10:00:00", None, 1L, 2.0)))
    } finally q.stop()
  }

  test("streaming contamination gate matches the batch operator's scores " +
    "row for row") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta zeta"),
      (2L, "one two three four five"),
      (3L, "alpha beta gamma delta epsilon"))
    // batch truth from the broadcast-join operator
    val batch = graft.operators.Dedup.contaminationScores(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"))
      .select(col("id"), col("n_sh"), col("n_matched"), col("contamination"))
      .as[(Long, Long, Long, Double)].collect().toSet
    // bench hashed-shingle set, exactly as the batch operator derives it
    val benchHashes = bench
      .select(explode(graft.operators.Dedup.shingles(col("text"))).as("s"))
      .select(xxhash64(col("s"))).distinct().as[Long].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.contaminationStream(
        mem.toDF.toDF("doc_id", "text"), benchHashes)
      .writeStream.format("memory").queryName("contamination_test")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("contamination_test")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("ST5: dropDuplicatesWithinWatermark dedups by key on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "value")
    val q = df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:01:00"), 2.0),   // dup within watermark
        (2L, ts("2024-01-01 10:02:00"), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .as[Long].collect().sorted
      assert(ids === Seq(1L, 2L))
    } finally q.stop()
  }

  test("custom state: flatMapGroupsWithState sessionization emits on gap " +
    "and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventStreams.SessionEvent]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      // burst 1: two events 10 min apart; burst 2 (same user) 2h later
      // closes session 1 immediately (gap exceeded within the batch key)
      mem.addData(
        EventStreams.SessionEvent(7L, ts("2024-01-01 10:00:00"), 1.0),
        EventStreams.SessionEvent(7L, ts("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.SessionEvent(7L, ts("2024-01-01 12:30:00"), 4.0))
      q.processAllAvailable()
      val afterGap = spark.table("sess_test").as[EventStreams.SessionOut]
        .collect().toSeq
      assert(afterGap.map(s => (s.session_start.toString,
        s.session_end.toString, s.n_events, s.sum_value)) ===
        Seq(("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L, 3.0)))
      // advance the watermark far past 12:30 + gap -> trailing session
      // closes via EventTimeTimeout (different user keeps state keyed)
      mem.addData(EventStreams.SessionEvent(9L, ts("2024-01-01 16:00:00"), 8.0))
      q.processAllAvailable()
      mem.addData(EventStreams.SessionEvent(9L, ts("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
      val users = spark.table("sess_test").as[EventStreams.SessionOut]
        .collect().toSeq
      assert(users.exists(s => s.user_id == 7L &&
        s.session_start.toString == "2024-01-01 12:30:00.0" &&
        s.n_events == 1L))
    } finally q.stop()
  }

  test("multimodal: frame sampling slices every stride-th chunk, resize " +
    "target preserves aspect ratio") {
    val payload = (0 until 100).map(i => (i % 256).toByte).toArray
    val df = Seq((1L, payload), (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    // frames of 16 bytes, keep every 2nd -> chunk indices 0,2,4,6
    val frames = Multimodal.sampleFrames(df, "payload", frameSize = 16,
      stride = 2, idCol = "id")
    val f1 = frames.where(col("id") === 1)
      .select("frame_idx", "frame_bytes").collect()
    assert(f1.length === 4)
    assert(f1.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    assert(f1(0).getAs[Array[Byte]](1).toSeq ===
      payload.slice(0, 16).toSeq)
    assert(f1(1).getAs[Array[Byte]](1).toSeq ===
      payload.slice(32, 48).toSeq) // chunk 2 (stride skips chunk 1)
    // last kept chunk (index 6) is the tail, shorter than frameSize
    assert(f1(3).getAs[Array[Byte]](1).length === 4)
    // empty and null payloads -> single null-frame row, no crash
    assert(frames.where(col("id") =!= 1)
      .filter(col("frame_bytes").isNotNull).count() === 0)
    // resize targets
    val meta = Multimodal.withImageMeta(df, "payload")
    val rs = Multimodal.withResizeTarget(meta, "img_meta", maxSide = 32)
      .where(col("id") === 1).select("img_meta.width", "img_meta.height",
        "resize_to.width", "resize_to.height").head()
    val (w0, h0) = (rs.getInt(0), rs.getInt(1))
    val (w1, h1) = (rs.getInt(2), rs.getInt(3))
    assert(math.max(w1, h1) === 32 || math.max(w0, h0) <= 32)
    assert(math.abs(w1.toDouble / h1 - w0.toDouble / h0) < 0.2)
  }

  test("multimodal: binary payload -> per-partition decoded metadata") {
    val df = Seq(
      (1L, "img-payload-aaaa".getBytes("UTF-8")),
      (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "payload")
    val out = Multimodal.withImageMeta(df, "payload").orderBy("id")
    assert(out.schema("img_meta").dataType === Multimodal.metaSchema)
    val rows = out.select(col("id"), col("img_meta.width"),
      col("img_meta.mean_luma")).collect()
    // deterministic fake: width = 16 + len%64
    assert(rows(0).getInt(1) === 16 + "img-payload-aaaa".length % 64)
    assert(rows(0).getDouble(2) > 0.0)
    assert(rows(1).getInt(1) === 16)
    assert(rows(2).isNullAt(1)) // null payload -> null metadata
  }
}
