package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on a user's timeline (microsecond event time). */
final case class SessionEvent(user_id: Long, ts_us: Long)

/** Running per-user session statistics emitted after each batch. */
final case class SessionTally(user_id: Long, n_sessions: Long,
                              n_events: Long)

private[streaming] final case class SessionState(nSessions: Long,
                                                 nEvents: Long,
                                                 lastTsUs: Long)

/** Event-time processing shared between the batch surface and
  * Structured Streaming (SURVEY.md §2.10). The same transform runs in
  * both modes: `Relational.q22` applies it to the batch events table,
  * and the streaming spec drives it through a MemoryStream with a
  * watermark — Spark's unified Dataset API is what makes the reference's
  * hand-rolled "re-read a batch each round" loop
  * (`/root/reference/kernel.cu:190-195`) expressible as a real stream.
  */
object EventPipeline {

  /** Fold a key's batch of events, sorted by event time, into its
    * carried session state (a new session opens after more than
    * `gapUs` of silence) and store the result in `state`. */
  private def fold(state: GroupState[SessionState],
                   it: Iterator[SessionEvent], gapUs: Long): SessionState = {
    val st = it.toArray.sortBy(_.ts_us).foldLeft(
      state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))) { (st, e) =>
      val newSession =
        st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs
      SessionState(st.nSessions + (if (newSession) 1L else 0L),
        st.nEvents + 1L, math.max(st.lastTsUs, e.ts_us))
    }
    state.update(st)
    st
  }

  /** Tumbling-window counts/sums per event type. On a stream this
    * becomes a stateful windowed aggregation; with `withWatermark`
    * upstream, state is bounded and late data beyond the watermark is
    * dropped.
    */
  def windowedAgg(events: DataFrame, windowLength: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength).getField("start")
        .as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           graft.functions.Rounding.roundTo(sum("value"), 3).as("sum_value"))

  /** Stateful streaming sessionization via `flatMapGroupsWithState`
    * (SURVEY.md §2.10) in APPEND output mode: per-user session counting
    * with an inactivity gap, state = (sessions so far, events so far,
    * last event time), carried across micro-batches. Events within a
    * batch are sorted by event time before folding; a cross-batch late
    * event older than the carried high-water mark cannot regress it.
    *
    * State is BOUNDED: a watermark alone never clears
    * flatMapGroupsWithState state, so each update re-arms the key's
    * `EventTimeTimeout` at `lastEvent + gap`, and when the watermark
    * passes it the key's tally is emitted and its state REMOVED — a
    * later event for the same user starts a fresh count, which is also
    * the correct session semantics (the gap elapsed). Late events
    * within `watermarkDelay` still fold normally.
    *
    * Each output row is one FINALIZED session segment (the cumulative
    * count since the key's previous eviction), never a running update.
    * Because the inactivity-gap fold counts sessions exactly and
    * eviction merely splits a user's timeline into segments at silent
    * gaps the watermark has passed, the per-user SUM of finalized
    * segment tallies equals batch sessionization (`Relational.q23`)
    * once every key has been swept — which is what lets q211 put this
    * operator under the DuckDB oracle: segment boundaries depend on
    * micro-batch timing, the per-user totals do not.
    */
  def sessionFinalTallies(events: Dataset[SessionEvent], gapUs: Long,
                          watermarkDelay: String): Dataset[SessionTally] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionTally(user, st.nSessions, st.nEvents))
          } else {
            val st = fold(state, it, gapUs)
            // ceiling division so µs→ms truncation can never arm the
            // timeout before lastEvent+gap
            state.setTimeoutTimestamp((st.lastTsUs + gapUs + 999L) / 1000L)
            Iterator.empty
          }
      }
  }

  /** Declarative sessionization via the built-in `session_window` gap
    * window (SURVEY.md §2.10) — the same inactivity-gap semantics as
    * [[sessionFinalTallies]]/`Relational.q23` expressed as a plain windowed
    * aggregation, so it runs unchanged in batch AND as a streaming
    * stateful agg (with `withWatermark` upstream bounding state
    * automatically — no hand-rolled eviction). Boundary note: a gap of
    * EXACTLY `gap` closes the session here (window end is exclusive),
    * while the lag() formulation (q23) closes on strictly-greater — at
    * microsecond event-time resolution the measure-zero boundary case
    * does not occur in practice; StreamingSpec asserts the two paths
    * agree on the test corpus.
    */
  def sessionWindows(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
              col("sw.end").as("sess_end"), col("n_events"))

  /** Running per-user spend via `transformWithState` (the Spark 4
    * arbitrary-state successor to flatMapGroupsWithState): typed
    * [[org.apache.spark.sql.streaming.ValueState]] carries
    * (event count, spend micro-units) across micro-batches, emitting
    * the updated running totals for each key a batch touches.
    * Spend accumulates as PRE-QUANTIZED micro-unit LONGs, so the
    * running sum is order- and batch-boundary-independent — which is
    * what lets q231 grade the final state against a plain batch
    * aggregation. Requires the RocksDB state-store provider (the only
    * provider implementing the new state API's column families).
    */
  def runningSpend(events: Dataset[ValueEvent])
      : Dataset[SpendTally] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}

/** One valued event (spend pre-quantized to micro-units). */
final case class ValueEvent(user_id: Long, units: Long)

/** Running per-user totals emitted after each batch touching the key. */
final case class SpendTally(user_id: Long, n_events: Long,
                            spend_units: Long)

/** Typed per-key running (count, spend) on a single ValueState handle. */
class RunningSpendProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ValueEvent, SpendTally] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode,
    TimerValues, TTLConfig, ValueState}
  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("spend",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[ValueEvent],
      timerValues: TimerValues): Iterator[SpendTally] = {
    val (c0, u0) = if (st.exists()) st.get() else (0L, 0L)
    var c = c0
    var u = u0
    rows.foreach { r => c += 1; u += r.units }
    st.update((c, u))
    Iterator.single(SpendTally(key, c, u))
  }
}
