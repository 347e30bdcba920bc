package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine: the same event-table
  * semantics as [[graft.ops.EventOps]], expressed incrementally —
  * `readStream` → transforms → `writeStream`, with watermarked
  * windowed aggregation and stateful sessionization via
  * `flatMapGroupsWithState`.
  *
  * Scale: state is keyed by user_id (hash-partitioned across
  * executors); watermarks bound state size — closed sessions and
  * expired windows are evicted, so the state store stays
  * O(active users), not O(history).
  */
object EventStreams {

  final case class Event(
      event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, event_type: String, value: Double)

  final case class Session(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long)

  /** Open-session state carried per user (public: the state encoder's
    * generated code needs constructor access).
    */
  final case class SessionState(startUs: Long, endUs: Long, n: Long)

  /** Streaming deduplication: drop repeated event ids within the
    * watermark horizon — the incremental form of exact dedup, with
    * state bounded by the watermark (old keys are evicted, so state
    * is O(events per horizon), not O(stream history)).
    */
  def dedupStream(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked tumbling-window counts per event type: late events
    * beyond 2 hours are dropped, on-time ones aggregate incrementally
    * with partial (map-side) combine per micro-batch.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))

  /** Stateful sessionization (30-min gap by default): per-user state
    * carries the open session; events extend it or close it; the
    * event-time timeout closes sessions when the watermark passes the
    * gap — mirroring the batch semantics of `EventOps.sessionStats`.
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30
  ): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    // true microseconds: getTime is ms-truncated, getNanos carries the
    // full sub-second fraction — ms*1000 plus the sub-ms µs remainder
    // (matching the batch path's µs precision; a ms truncation here
    // diverged session bounds for sub-ms gaps)
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.startUs, s.endUs, s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = toUs(e.ts)
              cur match {
                case Some(st) if us - st.endUs <= gapUs =>
                  cur = Some(st.copy(endUs = math.max(st.endUs, us), n = st.n + 1))
                case Some(st) =>
                  closed ::= Session(userId, st.startUs, st.endUs, st.n)
                  cur = Some(SessionState(us, us, 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.endUs / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.reverseIterator
          }
      }
  }
}
