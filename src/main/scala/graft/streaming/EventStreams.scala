package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

/** Structured Streaming forms of the event-time operators (SURVEY.md §2.10
  * ST1/ST4/ST5). The reference has no streaming (`app.py`'s poll loop is
  * the closest analogue); these are the BASELINE.json scale extensions.
  *
  * One expression vocabulary for both modes: the batch window aggregates
  * in graft.operators.Events ARE the streaming ones — a stream puts the
  * watermark in front, `Events.tumbling(s.withWatermark("ts", "10
  * minutes"))` (likewise `sliding` and `sessions`; key dedup is the
  * built-in `withWatermark(...).dropDuplicatesWithinWatermark(key)`).
  * This object holds only what streaming adds: operators with no batch
  * twin, explicit state, and the exactly-once gate wiring (`startGate`).
  *
  * Scale: state is keyed on (window, group) — high cardinality, uniformly
  * distributed; the watermark bounds state size to (watermark horizon /
  * slide) windows per group. Late rows beyond the watermark are dropped
  * exactly like the reference's batch semantics would never see them.
  */
object EventStreams {

  /** Watermarked per-window DISTINCT sketches: the HLL aggregate run as
    * streaming state — `count(DISTINCT)` is unsupported in streaming
    * aggregations (unbounded per-group state), and approx_count_distinct
    * carries merge-order-sensitive HLL++ state; the md5-register sketch
    * is both BOUNDED (m ints per window-group) and a pure function of
    * the window's item SET, so late arrivals within the watermark fold
    * into exactly the registers a batch run produces (the batch-parity
    * spec pins it). Emits registers + the deterministic estimate. */
  def tumblingUniques(stream: DataFrame, hexChars: Int,
                      itemCol: String, width: String = "1 hour",
                      watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(graft.functions.SketchAggregates
        .hllSketch(col(itemCol).cast("string"), hexChars).as("sk"))
      .select(col("w.start").as("window_start"), col("sk"),
        graft.functions.SketchAggregates.hllEstimate(col("sk"), hexChars)
          .as("n_est"))

  /** Stream-STATIC enrichment join + windowed aggregate: the streaming
    * form of the J1 broadcast enrichment (reference `main.py:369-410`
    * joins fetched journal metrics onto the batch frame; a production
    * event stream joins its dimension tables the same way). The static
    * side is broadcast — no state, no stream-stream complexity — and the
    * downstream tumbling aggregate groups by the ENRICHED column, which
    * is the part a plain watermarked `Events.tumbling` cannot express.
    *
    * Scale: stream-static BHJ re-broadcasts only on dim refresh; state is
    * the same watermark-bounded window store as `Events.tumbling`. Events
    * whose key misses the dim keep flowing with a null category (left
    * join) — an inner join would silently drop them from the counts.
    *
    * Precondition: `dim` must be UNIQUE on `joinKey` (the usual dimension
    * contract — same as priorityDedup's key uniqueness after dedup). A
    * duplicate key would fan each event out once per duplicate and
    * silently inflate every count it touches; dedupe the dim first. */
  def enrichedTumblingCounts(stream: DataFrame, dim: DataFrame,
                             joinKey: String = "event_type",
                             dimCol: String = "category",
                             width: String = "1 hour",
                             watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col(joinKey), col(dimCol))),
        Seq(joinKey), "left")
      .groupBy(window(col("ts"), width).as("w"), col(dimCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col(dimCol),
        col("n_events"), col("sum_value"))

  /** STREAM-STREAM interval join with watermark-bounded state — the join
    * tier stream-static (`enrichedTumblingCounts`) cannot express: BOTH
    * sides arrive continuously and a right row must match left rows that
    * arrived earlier OR later within the event-time bound (impression ⋈
    * click attribution, order ⋈ shipment reconciliation — the streaming
    * face of the batch `IntervalJoin`).
    *
    * Semantics: rows join when `left.key = right.key` and `right.ts ∈
    * [left.ts − lower, left.ts + upper]` — the batch interval-overlap
    * predicate with the left row as the anchor. Every non-key column is
    * prefixed `l_`/`r_` (both key copies survive as `l_<key>`/`r_<key>`,
    * equal on inner matches, right copy null on outer non-matches — the
    * same disambiguation contract as the batch join suite).
    *
    * Scale: Spark keeps BOTH sides' rows in keyed state until the
    * watermark + bound proves no future partner can arrive, then evicts
    * — state is bounded by (arrival rate × (watermark + upper + lower)),
    * NOT by stream length, which is the whole 100 TB/day story: an
    * unbounded-state join would OOM on day one. `leftOuter = true` emits
    * unmatched left rows (null right columns) only AFTER eviction proves
    * them final — correctness of the null, delayed by the watermark, the
    * documented Structured Streaming trade.
    */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
                               keyCol: String = "user_id",
                               tsCol: String = "ts",
                               lower: String = "0 seconds",
                               upper: String = "15 minutes",
                               watermark: String = "10 minutes",
                               leftOuter: Boolean = false): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
        .withWatermark(s"$p$tsCol", watermark)
    val l = side(left, "l_")
    val r = side(right, "r_")
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $lower") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $upper"),
      if (leftOuter) "left_outer" else "inner")
  }

  /** STREAMING benchmark decontamination: per-document contamination
    * score computed STATELESSLY per row — the expression form of
    * `Dedup.contaminationScores` (same shingle semantics, same
    * n_matched/n_sh arithmetic), with the benchmark's hashed shingle set
    * shipped as a literal (benchmarks are bounded; the batch operator
    * broadcasts the same set). No aggregation ⇒ no watermark/state: scores
    * attach to documents as they arrive, which is how an ingest-time
    * contamination gate actually runs. The per-row membership probe is
    * linear in the bench set; for big benches the batch operator's
    * broadcast join is the right tool (this is the gate, not the audit).
    */
  def contaminationStream(stream: DataFrame, benchShingleHashes: Array[Long],
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          w: Int = 3): DataFrame = {
    val benchArr = typedlit(benchShingleHashes)
    val hashed = transform(
      graft.operators.Dedup.shingles(col(textCol), w), s => xxhash64(s))
    stream
      // null-text docs have no shingles and are absent from the batch
      // operator's output (its postings explode drops them); dropping
      // them here keeps the row-for-row parity instead of emitting
      // all-null score rows
      .where(col(textCol).isNotNull)
      .select(col(idCol), hashed.as("__sh"))
      .select(col(idCol),
        size(col("__sh")).cast("long").as("n_sh"),
        size(filter(col("__sh"), h => array_contains(benchArr, h)))
          .cast("long").as("n_matched"))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_sh").cast("double"))
  }

  // ---- exactly-once completion: idempotent foreachBatch sink ---------------

  /** The idempotent `foreachBatch` body completing the windowed
    * aggregates into a parquet table: each microbatch's FINALIZED
    * windows (append mode emits a window exactly once, when the
    * watermark closes it) are written with DYNAMIC partition overwrite
    * on `window_start` — only the partitions present in the batch are
    * replaced, everything else is untouched.
    *
    * Why this is exactly-once OUTPUT: Structured Streaming guarantees
    * foreachBatch runs AT-LEAST-once per epoch (a crash between the sink
    * write and the offset commit replays the batch). A replayed batch
    * carries the same finalized windows with the same rows, so the
    * overwrite rewrites identical partitions instead of appending
    * duplicates — at-least-once delivery × idempotent write =
    * exactly-once table state. (A blind `.mode("append")` sink would
    * double every replayed row; that is the failure mode this exists
    * to remove.) */
  def windowSinkBatch(path: String)(batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty)
      graft.exec.Artifact.overwritePartitions(batch, "window_start", path)
  }

  /** Start a continuous gate: run `body` — one of the operators'
    * `*GateBatch` functions, applied to everything but the microbatch,
    * e.g. `startGate(s, ckpt)(Dedup.ingestGateBatch(idx, corpus))` — on
    * every microbatch of `stream`, with offsets tracked in `checkpoint`.
    *
    * Why the gate's table state is exactly-once: Structured Streaming runs
    * a `foreachBatch` body AT-LEAST-once per epoch (a crash between the
    * body's write and the offset commit replays the epoch), and every
    * `*GateBatch` writes its epoch idempotently, so a replay rewrites
    * what the first run wrote — the index gates through
    * [[graft.exec.Artifact.gateEpoch]] or
    * [[graft.exec.Artifact.snapshotEpoch]], which state the argument,
    * the frozen-model gates by rewriting their own epoch partition. */
  def startGate(stream: DataFrame, checkpoint: String)
               (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  // ---- custom state: flatMapGroupsWithState sessionization -----------------

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(startMs: Long, endMs: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long,
                        sum_value: Double)

  /** Custom stateful sessionization with EXPLICIT state — the
    * flatMapGroupsWithState form of `session_window` (what you reach for
    * when the built-in's semantics don't fit: custom close conditions,
    * per-session enrichment, side outputs).
    *
    * State per user = the one open session; an event further than `gap`
    * past the session end closes it (emitted immediately); the event-time
    * timeout closes the trailing session once the watermark passes
    * end + gap. State is O(users), evicted by timeout — bounded exactly
    * like the built-in operator's.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30)
      : Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, batch: Iterator[SessionEvent],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      def emit(s: SessionState): SessionOut =
        SessionOut(userId, new Timestamp(s.startMs),
          new Timestamp(s.endMs + gapMs), s.n, s.sum)
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).iterator
        state.remove()
        return out
      }
      val evs = batch.toSeq.sortBy(_.ts.getTime)
      var open = state.getOption
      val closed = Seq.newBuilder[SessionOut]
      evs.foreach { e =>
        val t = e.ts.getTime
        open match {
          // merge when the event falls within gap of the session INTERVAL
          // — including out-of-order (still-within-watermark) events
          // before the current start, which must extend the start
          // backwards exactly like the built-in session_window
          case Some(s) if t >= s.startMs - gapMs && t <= s.endMs + gapMs =>
            open = Some(SessionState(math.min(s.startMs, t),
              math.max(s.endMs, t), s.n + 1, s.sum + e.value))
          case Some(s) =>
            closed += emit(s)
            open = Some(SessionState(t, t, 1, e.value))
          case None =>
            open = Some(SessionState(t, t, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.endMs + gapMs)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- custom state: continuous conversion funnel --------------------------

  case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  case class FunnelProgress(reachedMs: Seq[Long]) // one entry per step hit
  case class FunnelConversion(user_id: Long, step_ts: Seq[Timestamp])

  /** Continuous conversion funnel — the streaming form of
    * `operators.Funnel`: per-user monotone state (the reach times of the
    * steps hit so far, k longs at most), advanced by each batch's events
    * in timestamp order with the same strictly-after chaining as the
    * batch operator. A user emits ONE FunnelConversion when the final
    * step is reached, and their state is REMOVED — steady-state memory is
    * the in-progress population only. A completed journey never re-fires
    * from residual events; only replaying the FULL sequence afterwards
    * starts a fresh journey (a second conversion, not a duplicate).
    *
    * ABANDONMENT EVICTION: in a real funnel most users who hit step 1
    * never finish, and without a TTL each one would hold state forever —
    * linear growth with every user ever seen, the exact unbounded-state
    * failure this family of operators exists to avoid. A journey with no
    * progress for `abandonAfterDays` of EVENT TIME (event-time timeout
    * keyed off the last reached step, fired once the watermark passes
    * it) is dropped without emitting; the same horizon bounds how late
    * an event may arrive (the watermark delay).
    *
    * Parity contract (spec-pinned): when each user's events arrive in
    * timestamp order across batches, completed users and their step
    * times equal `Funnel.funnelUsers` on the union of all batches —
    * in-order greedy advance picks exactly the per-step minima the batch
    * operator computes. A cross-batch REGRESSION (an event older than an
    * already-committed reach time arriving later) cannot rewrite
    * committed state; pipelines with out-of-order sources put a
    * watermark-sized sort buffer in front, the standard trade.
    */
  def funnelConversions(events: Dataset[FunnelEvent], steps: Seq[String],
                        abandonAfterDays: Int = 7)
      : Dataset[FunnelConversion] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnelConversions: steps must be non-empty and distinct: $steps")
    require(abandonAfterDays >= 1,
      s"funnelConversions: abandonAfterDays=$abandonAfterDays must be " +
        ">= 1 — an unbounded funnel state grows with every user ever seen")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.size
    val ttlMs = abandonAfterDays * 86400000L

    def fn(userId: Long, batch: Iterator[FunnelEvent],
           state: GroupState[FunnelProgress]): Iterator[FunnelConversion] = {
      if (state.hasTimedOut) {
        state.remove() // abandoned journey: drop without emitting
        return Iterator.empty
      }
      var times = state.getOption.map(_.reachedMs).getOrElse(Seq.empty)
      // Lazy eviction: a journey staler than watermark − TTL is already
      // abandoned — its timeout would have fired before this batch's
      // events were observable (they sit at/above the watermark). Treating
      // it as evicted HERE (a) makes the outcome independent of whether a
      // data-less trigger happened to fire the timeout first, and (b)
      // avoids re-arming setTimeoutTimestamp at/behind the watermark on a
      // non-advancing event, which throws in Spark 4.1 — and the
      // checkpoint replays the same batch on restart: a poison pill.
      val stale =
        times.nonEmpty && times.last + ttlMs <= state.getCurrentWatermarkMs()
      if (stale) times = Seq.empty
      val ordered = batch.toSeq.sortBy(_.ts.getTime)
      ordered.foreach { e =>
        if (times.size < k && e.event_type == steps(times.size) &&
            (times.isEmpty || e.ts.getTime > times.last))
          times = times :+ e.ts.getTime
      }
      if (times.size == k) {
        state.remove() // completed: emit once, evict
        Iterator.single(
          FunnelConversion(userId, times.map(new Timestamp(_))))
      } else {
        if (times.nonEmpty) {
          // times.last here is ≥ the watermark (late rows are filtered
          // upstream) or the state was non-stale, so the deadline is
          // strictly ahead of the watermark — safe to arm.
          state.update(FunnelProgress(times))
          state.setTimeoutTimestamp(times.last + ttlMs)
        } else if (stale) {
          state.remove() // abandoned journey with no fresh restart
        }
        Iterator.empty
      }
    }

    events
      .withWatermark("ts", s"$abandonAfterDays days")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class Scd2Event(user_id: Long, ts: Timestamp, event_id: Long,
                       event_type: Option[String])
  case class Scd2Open(state: Option[String], validFrom: Timestamp, n: Long)
  case class Scd2Interval(user_id: Long, state: Option[String],
                          valid_from: Timestamp, valid_to: Timestamp,
                          n_events: Long)

  /** Continuous SCD Type-2 maintenance — the streaming form of
    * `Warehouse.scd2History`: per-entity state is the ONE open interval
    * (current value, its start, its run length); each batch's events,
    * sorted by (ts, event_id), extend the run on equal values (null-safe,
    * like the batch marker's `<=>`) or close it — a closed interval is
    * emitted exactly once, with `valid_to` = the successor's start,
    * and the successor becomes the new open state.
    *
    * Closed intervals are immutable facts, which is why Append mode is
    * correct; the open interval per entity lives only in state (it is
    * the batch operator's `is_current` row, not yet a fact). State is
    * O(entities) and constant-size per entity.
    *
    * Parity contract (spec-pinned): on in-order per-user delivery across
    * batches, the emitted closed intervals equal the batch operator's
    * `valid_to IS NOT NULL` rows over the union of batches, and the
    * per-entity open state equals its `is_current` row. Late events
    * older than the open interval's start are folded forward from the
    * stored state (same posture as the Markov gate; reprocessing fixes
    * history). */
  def scd2Intervals(events: Dataset[Scd2Event]): Dataset[Scd2Interval] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(userId: Long, batch: Iterator[Scd2Event],
           state: GroupState[Scd2Open]): Iterator[Scd2Interval] = {
      val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var open = state.getOption
      val out = Seq.newBuilder[Scd2Interval]
      ordered.foreach { e =>
        open match {
          case Some(o) if o.state == e.event_type =>
            open = Some(o.copy(n = o.n + 1))
          case Some(o) =>
            out += Scd2Interval(userId, o.state, o.validFrom, e.ts, o.n)
            open = Some(Scd2Open(e.event_type, e.ts, 1L))
          case None =>
            open = Some(Scd2Open(e.event_type, e.ts, 1L))
        }
      }
      open.foreach(state.update)
      out.result().iterator
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class MarkovLast(ts: Long, tiebreak: Long, state: String)
  case class MarkovEvent(user_id: Long, ts: Timestamp, event_id: Long,
                         event_type: String)
  case class Transition(from_state: String, to_state: String)

  /** Continuous Markov transitions — the streaming form of
    * `Funnel.markovTransitions`' sequencing stage: per-user state is
    * ONE (ts, tiebreak, state) triple (the last event seen), each batch
    * sorted by (ts, event_id) extends the chain and emits one
    * Transition per adjacency. Downstream the caller aggregates
    * counts/probabilities exactly like the batch operator's tail
    * (state-pair cardinality — tiny).
    *
    * Parity contract (spec-pinned): on in-order per-user delivery
    * (each user's events never split ACROSS batches out of order), the
    * emitted transition multiset equals the batch operator's over the
    * union of batches. A late event older than the user's stored last
    * is counted FORWARD from the stored state (the standard streaming
    * compromise; reprocessing fixes history, the same posture as the
    * batch-recompute cadence of the gate family). */
  def markovTransitions(events: Dataset[MarkovEvent])
      : Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(userId: Long, batch: Iterator[MarkovEvent],
           state: GroupState[MarkovLast]): Iterator[Transition] = {
      val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var last = state.getOption
      val out = Seq.newBuilder[Transition]
      ordered.foreach { e =>
        last.foreach(l => out += Transition(l.state, e.event_type))
        last = Some(MarkovLast(e.ts.getTime, e.event_id, e.event_type))
      }
      last.foreach(state.update)
      out.result().iterator
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
