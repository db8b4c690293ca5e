package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table (SURVEY.md §2.10).
  *
  * Batch-mode first (identical semantics, DuckDB-verifiable); the same
  * operators run unchanged on a stream with a watermark in front,
  * `tumbling(stream.withWatermark("ts", "10 minutes"))` —
  * `window`/`session_window` are event-time functions, not
  * streaming-only constructs. In append mode a window (or session) is
  * emitted once, when the watermark passes its end; the watermark bounds
  * the live state per group.
  *
  * Scale: each is one shuffle keyed on (window, group) — high cardinality,
  * AQE-coalesced; partial aggregation happens map-side.
  */
object Events {

  /** Tumbling window aggregate: per (1-hour bucket, event_type) count and
    * exact sum of value (decimal-summed then cast to double so the result
    * is order-independent — see SparkEntry note on float determinism). */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding window aggregate (1 hour window, 15 minute slide). */
  def sliding(events: DataFrame, width: String = "1 hour",
              slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows per user with a 30-minute inactivity gap.
    * `session_window` start = first event ts, end = last event ts + gap. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
}
