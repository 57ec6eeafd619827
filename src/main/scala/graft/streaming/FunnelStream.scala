package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Streaming ordered-sequence funnel — the live leg of `m_funnel`
  * (M67): per user, steps achieve strictly in order — step k+1's event
  * must land strictly after step k's achieve time and within
  * `windowMs` of it. Each achieve emits ONE [[FunnelStream.StepFact]]
  * as an append-mode fact, so a plain `groupBy(step).count()`
  * downstream is the live funnel table with no further stateful
  * operator.
  *
  * Equivalence with the batch query's chained min-aggregates (s1 =
  * min signup, s2 = min view in (t1, t1+w], …) holds because events
  * drain in EVENT-TIME order through [[EventTimeFold]]: the first
  * qualifying event of the next step type encountered in that order IS
  * the minimum qualifying time (pinned by FunnelPropSpec on random
  * inputs/splits/arrival orders). The carry is the achieved-step time
  * list; re-achieving is not allowed, so dropping it would
  * double-count.
  */
object FunnelStream {

  case class UserEvent(ts: Timestamp, userId: Long, eventType: String, id: Long)

  /** `step` is 1-based into the configured step list. */
  case class StepFact(userId: Long, step: Int, tMs: Long)

  /** `events` must already carry a watermark on `ts`. */
  def steps(events: Dataset[UserEvent], stepTypes: Seq[String],
      windowMs: Long): Dataset[StepFact] = {
    require(stepTypes.nonEmpty, "stepTypes must be non-empty")
    require(stepTypes.distinct == stepTypes, s"step types must be distinct: $stepTypes")
    require(windowMs > 0, s"windowMs must be positive: $windowMs")
    EventTimeFold(events, (e: UserEvent) => e.userId,
      (e: UserEvent) => (e.ts.getTime, e.id, e.eventType), List.empty[Long]) {
      (key, achieved, t, tpe) =>
        val k = achieved.length
        if (k < stepTypes.length && tpe == stepTypes(k) &&
            (k == 0 || (t > achieved.last && t <= achieved.last + windowMs))) {
          (achieved :+ t, Some(StepFact(key, k + 1, t)))
        } else (achieved, None)
    }
  }
}
