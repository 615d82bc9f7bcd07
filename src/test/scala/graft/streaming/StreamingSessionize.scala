package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-and-island sessionization — the incremental form of
  * [[graft.ops.Sessionize]] (SURVEY §2.9/§7.5: the reference polls its
  * live play-by-play endpoint batch-style; Structured Streaming is the
  * principled version).
  *
  * State per key: the open session (count/sum/bounds + running session
  * index). Each micro-batch's events are sorted and folded exactly like
  * the batch operator; sessions close either when a gap appears in the
  * stream or when the event-time timeout (watermark passing last-event +
  * gap) fires — so results converge to the batch output as the watermark
  * advances. State is O(1) per key: this scales to any key cardinality
  * Spark's state store can shard.
  */
object StreamingSessionize {

  case class Event(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

  case class OpenSession(
      sessionIndex: Long,
      startUs: Long,
      lastUs: Long,
      n: Long,
      sumValue: Double)

  /** Per-key state: the running session counter survives session closes
    * (including timeout closes) so streaming session ids match the batch
    * operator's 1..n numbering. */
  case class SessState(lastIndex: Long, open: Option[OpenSession])

  case class Session(
      user_id: Long,
      session_id: Long,
      n_events: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      session_value: Double)

  private def us(t: Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** Fold one key's new events into (closed sessions, open state). */
  private[streaming] def fold(
      key: Long,
      sorted: Seq[Event],
      prior: SessState,
      gapMicros: Long): (Seq[Session], SessState) = {
    var open = prior.open
    var sessionIndex = prior.lastIndex
    val closed = Seq.newBuilder[Session]
    def close(s: OpenSession): Unit =
      closed += Session(key, s.sessionIndex, s.n,
        new Timestamp(s.startUs / 1000), new Timestamp(s.lastUs / 1000), s.sumValue)
    for (e <- sorted) {
      val t = us(e.ts)
      open match {
        case Some(s) if t - s.lastUs <= gapMicros =>
          open = Some(s.copy(lastUs = math.max(s.lastUs, t), n = s.n + 1,
            sumValue = s.sumValue + e.value))
        case other =>
          other.foreach(close)
          sessionIndex += 1
          open = Some(OpenSession(sessionIndex, t, t, 1L, e.value))
      }
    }
    (closed.result(), SessState(sessionIndex, open))
  }

  def apply(
      events: Dataset[Event],
      gapMicros: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed the open session's close deadline: emit it,
            // keep the counter so later sessions number consistently
            val st = state.get
            st.open.foreach(_ => state.update(SessState(st.lastIndex, None)))
            st.open.map(o => Session(key, o.sessionIndex, o.n,
              new Timestamp(o.startUs / 1000), new Timestamp(o.lastUs / 1000),
              o.sumValue)).iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (us(e.ts), e.event_id))
            val st0 = state.getOption.getOrElse(SessState(0L, None))
            val (closed, st1) = fold(key, sorted, st0, gapMicros)
            state.update(st1)
            st1.open.foreach(o =>
              state.setTimeoutTimestamp((o.lastUs + gapMicros) / 1000 + 1))
            closed.iterator
          }
      }
  }
}
