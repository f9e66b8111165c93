package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.12); these are the
  * forward-looking stream analogues of its batch aggregations: the same
  * transforms compose onto `readStream` sources unchanged — Spark's
  * incrementalizer turns the declarative plan into stateful operators, with
  * watermarks bounding state size (essential at scale: without a watermark
  * the window state grows without bound).
  */
object EventStreams {

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Int,
      total_value: Double)

  /** Per-key session accumulator. Public top-level (not nested-private):
    * the state encoder's generated code must reference the class. */
  case class SessionState(startMs: Long, lastMs: Long, n: Int, total: Double)

  /** Tumbling hourly aggregation with a watermark — works identically on a
    * batch DataFrame or a stream (same plan; streaming adds state). */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Stream-stream interval join: for each purchase, the clicks by the same
    * user within the preceding `gapMinutes`. Both sides watermark so the
    * join state expires (unbounded state is the classic stream-join failure
    * at scale — the time-range predicate is what lets Spark GC it). */
  def purchasesWithRecentClicks(
      events: DataFrame,
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(
      clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $gapMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Streaming exact dedup: drops events whose key was already seen within
    * the watermark horizon — state is bounded by the watermark, so a
    * perpetual stream holds only the recent-id set (the streaming face of
    * the batch dedup family in graft.dedup). */
  def dedupStream(
      events: DataFrame,
      idCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState + event-time timeout): a session closes when no
    * event arrives within `gapMinutes` of the previous one. State per key is
    * O(1) — start/last/count/sum — so a billion users cost a billion small
    * state rows, partitioned by user_id. */
  def sessionize(
      spark: SparkSession,
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    def finish(userId: Long, s: SessionState): Session =
      Session(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.total)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(finish(userId, _)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.lastMs, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= finish(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch-mode sessionization with identical semantics (session_window is
    * the declarative analogue; used to cross-check the stateful op). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
}
