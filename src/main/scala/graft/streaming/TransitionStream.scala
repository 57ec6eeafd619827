package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Streaming per-user event-type transitions — the live leg of
  * `m_transition_matrix` (M99): each user's stream is reduced to
  * (from_state → to_state) steps as the watermark closes over events,
  * carrying only the newest drained event's type (the `lag(1)` row)
  * through [[EventTimeFold]]. Downstream, a plain windowed groupBy over
  * the emitted steps yields the live transition-count matrix — steps
  * are append-mode facts, so counting them needs no extra stateful
  * operator.
  */
object TransitionStream {

  case class UserEvent(ts: Timestamp, userId: Long, eventType: String, id: Long)

  case class Transition(userId: Long, fromState: String, toState: String, tMs: Long)

  /** `events` must already carry a watermark on `ts`. */
  def transitions(events: Dataset[UserEvent]): Dataset[Transition] =
    EventTimeFold(events, (e: UserEvent) => e.userId,
      (e: UserEvent) => (e.ts.getTime, e.id, e.eventType), Option.empty[String]) {
      (key, last, t, tpe) => (Some(tpe), last.map(Transition(key, _, tpe, t)))
    }
}
