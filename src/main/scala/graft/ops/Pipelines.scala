package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A closed session as emitted by [[Pipelines.sessionsStateful]].
  * (Top-level: Spark's encoder codegen requires statically-constructible
  * bean shapes; object-nested case classes trip the Janino constructor
  * lookup.)
  */
final case class ClosedSession(
    session_id: String, user_id: Option[Int],
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    event_count: Long, pages_visited: String)

private[ops] final case class SessionState(
    userId: Option[Int], startMs: Long, endMs: Long,
    count: Long, pages: List[(Long, String)])

/** The four analytics pipelines of the reference engine, re-expressed as
  * pure `DataFrame => DataFrame` transforms over the clickstream schema
  * (graft.model.Schemas.event). Each works identically on a batch or a
  * streaming DataFrame: `withWatermark` is a no-op on batch plans, so the
  * exact code the streaming queries run is what the batch correctness
  * harness (and ScalaTest oracle specs) exercise.
  *
  * `exactDistinct = true` swaps `approx_count_distinct` (the reference's
  * choice, HLL++) for exact `count(distinct …)` so results are comparable
  * against a SQL oracle; streaming mode keeps HLL (exact distinct is not
  * supported in update-mode streaming aggs and is the right scale choice
  * anyway).
  */
object Pipelines {

  private def uniques(c: Column, exact: Boolean): Column =
    if (exact) countDistinct(c) else approx_count_distinct(c)

  /** A1 (+P5, W1, W4): per-page view counts in 1-minute tumbling windows.
    * Reference: `spark_processor/stream_processor.py:129-149`.
    *
    * Scale notes: the filter is pushed below the shuffle; the groupBy plans
    * partial (map-side) + final HashAggregate on (window, page) — page has
    * cardinality 14 so the shuffle is tiny regardless of input size. The
    * reference's `.repartition(10)` before the agg (`:134`) adds a full
    * round-robin shuffle of unaggregated rows for no benefit — omitted.
    */
  def pageViews(events: DataFrame,
                windowDur: String = "1 minute",
                watermark: String = "1 minute"): DataFrame =
    events
      .filter(col("event_type") === "page_view")
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowDur), col("page"))
      .count()
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("page"),
        col("count").as("view_count"))

  /** A2 (+W2, P7): per-session rollup.
    * Reference: `spark_processor/stream_processor.py:175-192` groups by
    * (session_id, user_id) with bare `collect_list` — nondeterministic
    * element order. We make journeys deterministic by collecting
    * (timestamp, page/event_type) structs and sorting by event time, which
    * is what "user journey" (README.md:121) actually needs. The CSV
    * flattening mirrors the reference's sink-side `array_join` (`:333-339`).
    *
    * The reference's `.repartition(col("session_id"))` (`:180`) is redundant
    * — the aggregation shuffles on the grouping key anyway — so it is
    * omitted rather than paying a second shuffle.
    */
  def sessions(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(col("session_id"), col("user_id"))
      .agg(
        min(col("timestamp")).as("session_start"),
        max(col("timestamp")).as("session_end"),
        count(lit(1)).as("event_count"),
        sort_array(collect_list(struct(col("timestamp"), col("page")))).as("pv"),
        sort_array(collect_list(struct(col("timestamp"), col("event_type")))).as("et"))
      .select(
        col("session_id"), col("user_id"),
        col("session_start"), col("session_end"), col("event_count"),
        array_join(transform(col("pv"), _.getField("page")), ",").as("pages_visited"),
        array_join(transform(col("et"), _.getField("event_type")), ",").as("event_types"))

  /** A2': the *correct* streaming formulation — `session_window` with a gap
    * closes sessions once the watermark passes, so state is dropped (the
    * reference's un-windowed streaming groupBy keeps session state forever;
    * SURVEY.md §7.4.2). Batch-compatible too.
    */
  def sessionsWindowed(events: DataFrame,
                       gap: String = "10 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col("session_id"), col("user_id"))
      .agg(
        min(col("timestamp")).as("session_start"),
        max(col("timestamp")).as("session_end"),
        count(lit(1)).as("event_count"))
      .select(col("session_id"), col("user_id"), col("session_start"),
        col("session_end"), col("event_count"))

  /** A3 (+P5, W3, W5): hourly purchase/revenue stats.
    * Reference: `spark_processor/stream_processor.py:208-231`.
    */
  def conversions(events: DataFrame,
                  watermark: String = "5 minutes",
                  exactDistinct: Boolean = false): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 hour"))
      .agg(
        count(lit(1)).as("purchase_count"),
        sum(col("total_amount").cast("decimal(18,2)")).cast("double").as("total_revenue"),
        uniques(col("user_id"), exactDistinct).as("unique_buyers"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("purchase_count"), col("total_revenue"), col("unique_buyers"))

  /** A4 (+P6, W3, W5): hourly stats by device dimensions (nested-struct
    * keys). Reference: `spark_processor/stream_processor.py:256-282`.
    */
  def deviceStats(events: DataFrame,
                  watermark: String = "5 minutes",
                  exactDistinct: Boolean = false): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(
        window(col("timestamp"), "1 hour"),
        col("device.type").as("device_type"),
        col("device.browser").as("browser"),
        col("device.os").as("operating_system"))
      .agg(
        count(lit(1)).as("visit_count"),
        uniques(col("user_id"), exactDistinct).as("unique_users"),
        uniques(col("session_id"), exactDistinct).as("unique_sessions"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("device_type"), col("browser"), col("operating_system"),
        col("visit_count"), col("unique_users"), col("unique_sessions"))

  /** A5: the tiny per-batch page-count re-aggregation feeding the KV sink
    * (reference `stream_processor.py:369`). Cardinality is bounded by the
    * page vocabulary, so the downstream `collect()` in the sink is safe.
    */
  def pageCounts(batch: DataFrame): DataFrame =
    batch.groupBy(col("page")).count()

  /** Streaming/batch-unified exact dedup (M5): on a stream, state for a
    * key is dropped once the watermark passes its event time
    * (`dropDuplicatesWithinWatermark`), so memory is bounded — the
    * correct form of "exact dedup" under unbounded input. On batch input
    * it degrades to plain `dropDuplicates`.
    */
  def dedup(events: DataFrame, keys: Seq[String],
            watermark: String = "10 minutes"): DataFrame = {
    val withWm = events.withWatermark("timestamp", watermark)
    if (events.isStreaming) withWm.dropDuplicatesWithinWatermark(keys)
    else withWm.dropDuplicates(keys)
  }

  /** A2'': custom stateful sessionization via `flatMapGroupsWithState` —
    * for gap/timeout semantics `session_window` can't express (here:
    * sessions also emit when idle past the gap in *processing* time, via
    * event-time timeout against the watermark). Emits each session exactly
    * once, when it closes; state per live session is dropped on emit.
    *
    * This is the (c)-tier custom-operator escape hatch of SURVEY.md §7.3 —
    * kept API-compatible with [[sessionsWindowed]] outputs.
    */
  def sessionsStateful(events: Dataset[graft.model.ClickstreamEvent],
                       gapMs: Long = 10 * 60 * 1000L,
                       watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("timestamp", watermark)
      .groupByKey(_.session_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (sessionId, rows, state: GroupState[SessionState]) =>
          def close(s: SessionState): ClosedSession = ClosedSession(
            sessionId, s.userId,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
            s.count,
            s.pages.sortBy(_._1).map(_._2).mkString(","))
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).toSeq
            state.remove()
            out.iterator
          } else {
            val evs = rows.toSeq
            val prev = state.getOption
            val merged = evs.foldLeft(prev.getOrElse(
              SessionState(evs.head.user_id, Long.MaxValue, Long.MinValue, 0L, Nil))) {
              (s, e) =>
                val t = e.timestamp.getTime
                SessionState(s.userId.orElse(e.user_id),
                  math.min(s.startMs, t), math.max(s.endMs, t),
                  s.count + 1, (t, e.page) :: s.pages)
            }
            state.update(merged)
            // close once the watermark passes session_end + gap
            state.setTimeoutTimestamp(merged.endMs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Stream-stream join: attribute purchases to views of the same user
    * within the trailing `windowSec` — the streaming twin of the batch
    * range join. Both sides carry watermarks and the join condition bounds
    * event time on both ends, so Spark can expire join state (unbounded
    * state otherwise). Inner join: unattributed purchases drop; run a
    * second leftOuter variant where completeness matters.
    */
  def streamingAttribution(purchases: DataFrame, views: DataFrame,
                           windowSec: Long = 3600L,
                           watermark: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("timestamp", watermark)
      .select(col("user_id").as("p_user"), col("timestamp").as("p_ts"),
        col("order_id"))
    val v = views.withWatermark("timestamp", watermark)
      .select(col("user_id").as("v_user"), col("timestamp").as("v_ts"),
        col("page").as("view_page"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS"))
  }
}
