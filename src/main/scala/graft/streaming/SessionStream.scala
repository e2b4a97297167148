package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization — the stream twin of
  * `operators.Temporal.sessionize` (same gap semantics, same rollup
  * columns), built on `flatMapGroupsWithState` with event-time
  * timeouts:
  *
  *  - state per user = the OPEN sessions only (a short list — one in
  *    the common case, more only while out-of-order events inside the
  *    watermark window keep earlier sessions extendable; nothing grows
  *    with history);
  *  - each batch's events merge into that list in event-time order —
  *    an above-watermark event may EXTEND a session backwards
  *    (min-start), bridge two open sessions into one, or open a new
  *    one;
  *  - a session is emitted ONLY once the watermark has passed
  *    `end + gap` — the proof that no accepted event can still touch
  *    it (Append mode — each closed session emitted exactly once).
  *    Gap alone is never trusted mid-batch: with lateness allowed, a
  *    later batch may legally deliver an event that bridges an
  *    apparent gap;
  *  - the event-time timeout fires when the watermark passes the
  *    EARLIEST open session's close point, so idle users drain to
  *    zero state without new data.
  *
  * Late events behind the watermark are dropped by the watermark
  * operator before they reach the state function — the standard
  * Structured Streaming contract (documented, bounded lateness).
  *
  * Timestamps are converted at full microsecond precision
  * (`Instant.getEpochSecond/getNano`, NOT `Timestamp.getTime`, which
  * truncates to ms) and totals round HALF_UP like Spark's `round` —
  * both required for bit-parity with the batch rollup
  * (StreamingSpec asserts it).
  */
object SessionStream {

  final case class EventIn(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  final case class OpenSession(startUs: Long, endUs: Long, n: Long, total: Double)
  final case class OpenSessions(sessions: Seq[OpenSession])
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                              n_events: Long, total_value: Double)

  private def micros(ts: Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def update(gapSeconds: Long)(key: Long, rows: Iterator[EventIn],
                               state: GroupState[OpenSessions]): Iterator[SessionOut] = {
    val gapUs = gapSeconds * 1000000L
    def out(s: OpenSession) = SessionOut(key, s.startUs, s.endUs, s.n, round6(s.total))
    // merge open state + this batch's events (as unit sessions) in
    // start order; adjacent sessions within the gap coalesce — this
    // handles in-batch disorder, backward extension, and bridging
    val incoming = rows.map(e => OpenSession(micros(e.ts), micros(e.ts), 1L, e.value))
    val all = (state.getOption.map(_.sessions).getOrElse(Seq.empty) ++ incoming)
      .sortBy(s => (s.startUs, s.endUs))
    val merged = all.foldLeft(List.empty[OpenSession]) { (acc, s) =>
      acc match {
        case h :: t if s.startUs - h.endUs <= gapUs =>
          OpenSession(h.startUs, math.max(h.endUs, s.endUs), h.n + s.n, h.total + s.total) :: t
        case _ => s :: acc
      }
    }.reverse
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (closable, stillOpen) = merged.partition(s => s.endUs + gapUs <= wmUs)
    if (stillOpen.isEmpty) {
      if (state.exists) state.remove()
    } else {
      state.update(OpenSessions(stillOpen))
      // fire when the watermark can close the EARLIEST open session;
      // ceil to ms and stay strictly ahead of the current watermark
      val nextCloseMs = (stillOpen.map(_.endUs).min + gapUs + 999L) / 1000L
      state.setTimeoutTimestamp(math.max(nextCloseMs, state.getCurrentWatermarkMs() + 1L))
    }
    closable.map(out).iterator
  }

  /** Closed sessions as an Append-mode stream. `watermarkDelay` bounds
    * accepted lateness; sessions emit once the watermark passes
    * `last event + gapSeconds`. */
  def closedSessions(events: Dataset[EventIn], gapSeconds: Long = 1800,
                     watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update(gapSeconds))
  }

  /** Finite-input form, for oracle verification of the AS-BUILT stream:
    * stream the events parquet through `closedSessions` and return the
    * emitted rows as a batch frame. `processAllAvailable` covers the
    * trailing no-data micro-batch in which the final watermark
    * (`⌊max ts⌋ms − delay`) fires the remaining event-time timeouts, so
    * the returned set is exactly the sessions with
    * `end + gap ≤ final watermark` — the condition the DuckDB oracle
    * restates over the batch rollup. The memory sink is verify-scale
    * plumbing; the deployable sink is the same foreachBatch parquet
    * append as `ScoreStream.start`. */
  def closedSessionsOverFile(spark: SparkSession, sfDir: String,
                             gapSeconds: Long = 1800,
                             watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val events = graft.Tables.eventsStream(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventIn]
    Drain.toTable(spark, "sessions",
      closedSessions(events, gapSeconds, watermarkDelay).toDF())
  }
}
