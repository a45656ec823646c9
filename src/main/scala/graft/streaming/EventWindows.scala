package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation with watermarking — the streaming
  * counterpart of the batch `time_window_agg` query (EventQueries), for
  * live event feeds.
  *
  * Scale shape: the watermark bounds state (windows older than
  * `maxLateness` are finalized and evicted — without it, state grows
  * unboundedly on a 100 TB/day feed); the windowed `groupBy` does
  * map-side partial aggregation per micro-batch, shuffling one partial
  * row per (window, type) per task, not per event. Append output mode
  * emits each window exactly once, when the watermark passes its end.
  */
object EventWindows {

  /** Tumbling event-time counts: (window, event_type, cnt, sum_value).
    * `events` must carry an `event_ts` timestamp column; late events
    * beyond `maxLateness` are dropped by the watermark (the documented
    * at-most-late contract, not silent loss).
    */
  def tumblingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      maxLateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_ts", maxLateness)
      .groupBy(window(col("event_ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Sliding-window variant (overlapping windows; each event lands in
    * `windowLength / slide` windows — the fan-out is in the grouping
    * expression, still partial-aggregated before any shuffle).
    */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      maxLateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_ts", maxLateness)
      .groupBy(window(col("event_ts"), windowLength, slide),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))
}
