package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input row for the custom stateful sessionizer. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session accumulator kept in the state store (one per user). */
case class SessionAcc(start_us: Long, end_us: Long, n_events: Long,
                      total_value: Double)

/** A finalized session emitted once its inactivity gap has passed the
  * watermark (or a newer event implies it closed).
  */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                         n_events: Long, total_value: Double)

/** Streaming sessionization over the event schema
  * `(event_id, ts TIMESTAMP, user_id, event_type, value)`.
  *
  * [[statefulSessions]] is a custom `flatMapGroupsWithState` sessionizer
  * that takes a batch or streaming DataFrame; [[replaySessions]] runs it as
  * a real streaming query over a bounded table, so query q6a can check the
  * streaming engine against the batch sessionizer (`Events.sessionize`) and
  * the DuckDB gaps-and-islands SQL. EventStreamSpec pins watermark timeouts,
  * gap splits and sub-millisecond boundaries with MemoryStream sources.
  *
  * Scale design: state is one open-session accumulator per user, bounded by
  * the active users inside the watermark horizon, not by stream length.
  */
object EventStream {

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * escape hatch for session semantics `session_window` can't express
    * (custom accumulators, emit-on-close payloads, per-user state machines).
    *
    * State machine per user: events within `gapUs` of the open session's end
    * extend it; a later event closes it (emitted immediately) and opens a
    * new one; the event-time timeout closes the open session once the
    * watermark passes `end + gap`. State is one `SessionAcc` per user —
    * bounded by active users in the watermark horizon, not stream length.
    */
  def statefulSessions(events: DataFrame, gapUs: Long,
                       watermark: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapUs / 1000

    def update(user: Long, evs: Iterator[SessionEvent],
               state: GroupState[SessionAcc]): Iterator[ClosedSession] = {
      def close(s: SessionAcc) =
        ClosedSession(user, s.start_us, s.end_us, s.n_events, s.total_value)
      if (state.hasTimedOut) {
        val out = state.getOption.map(close).iterator
        state.remove()
        out
      } else {
        val closed = Seq.newBuilder[ClosedSession]
        var cur = state.getOption
        // full µs precision: getTime is ms-truncated; the sub-ms component
        // lives in getNanos (the events table is µs-resolution, and the
        // batch twin Events.sessionize compares exact ts_us)
        def micros(ts: java.sql.Timestamp): Long =
          ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000
        // micro-batch events are not ordering-guaranteed; sort by event time
        evs.toSeq.sortBy(e => (micros(e.ts), e.value)).foreach { e =>
          val tus = micros(e.ts)
          cur match {
            case Some(s) if tus - s.end_us <= gapUs =>
              cur = Some(SessionAcc(s.start_us, math.max(s.end_us, tus),
                s.n_events + 1, s.total_value + e.value))
            case Some(s) =>
              closed += close(s)
              cur = Some(SessionAcc(tus, tus, 1, e.value))
            case None =>
              cur = Some(SessionAcc(tus, tus, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(
            math.max(s.end_us / 1000L + gapMs, state.getCurrentWatermarkMs() + 1))
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  private val replayCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming replay of a BOUNDED event table: runs [[statefulSessions]]
    * as a real streaming query — MemoryStream source →
    * `flatMapGroupsWithState` → memory sink — over the given events, then
    * closes every open session by advancing the watermark with a synthetic
    * flush event far past the horizon. Returns the closed-session table
    * `(user_id, start_us, end_us, n_events, total_value)`.
    *
    * This is the verification twin that lets the driver's oracle gate see
    * the streaming engine (stream output == the batch sessionizer == the
    * DuckDB gaps-and-islands SQL — query q6a); the production ingest path
    * is the same transform over `readStream` with no collect. The driver
    * collect here is bounded-input-only by construction (MemoryStream takes
    * local data), not an operator pattern.
    */
  def replaySessions(events: DataFrame, gapUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .as[SessionEvent].collect()
    if (rows.isEmpty) {
      return spark.emptyDataset[ClosedSession].toDF()
    }
    val maxUs = rows.iterator.map(e =>
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000) / 1000).max
    // the flush user advances the watermark past every open session's
    // timeout (end + gap), forcing emission; its own session is dropped.
    // Sentinel = an id OUTSIDE the observed user range (a fixed -1 would
    // merge with and then drop a genuine user -1); only a corpus spanning
    // the ENTIRE long range has no such id, and that is rejected.
    val flushUser = {
      val minUser = rows.iterator.map(_.user_id).min
      val maxUser = rows.iterator.map(_.user_id).max
      if (minUser > Long.MinValue) minUser - 1
      else if (maxUser < Long.MaxValue) maxUser + 1
      else throw new IllegalArgumentException(
        "user_id spans the entire Long range; no flush sentinel available")
    }
    val flushTs = new java.sql.Timestamp((maxUs + gapUs) / 1000L + 3600L * 1000)

    val stream = MemoryStream[SessionEvent]
    val sink = s"graft_stream_sessions_${replayCounter.incrementAndGet()}"
    // the replay is a bounded verification harness: a handful of state
    // partitions suffices and saves the per-partition state-store
    // init/commit cost across the micro-batches (the streaming query
    // captures shuffle.partitions at start; restored right after). A
    // production readStream would keep the session's own setting.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    val query =
      try {
        spark.conf.set(partsKey, math.min(prevParts.toInt, 8).toString)
        statefulSessions(stream.toDF(), gapUs, "0 seconds").toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append).start()
      } finally spark.conf.set(partsKey, prevParts)
    try {
      stream.addData(rows.toSeq)
      query.processAllAvailable()
      stream.addData(Seq(SessionEvent(flushUser, flushTs, 0.0)))
      query.processAllAvailable()
    } finally query.stop()
    spark.table(sink).filter(col("user_id") =!= flushUser)
  }
}
