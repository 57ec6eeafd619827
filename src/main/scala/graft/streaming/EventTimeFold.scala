package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The event-time buffer shared by the stream operators that thread one
  * carried value through each key's events in time order
  * ([[TransitionStream]], [[RateStream]], [[FunnelStream]],
  * [[HysteresisStream]]); each of them supplies only its step.
  *
  * Arrival order is not time order: a step over (a, b) is only known
  * once no event can still arrive BETWEEN a and b, i.e. once the
  * watermark passes b. Rows buffer per key as (event ms, id, payload)
  * until the watermark passes them, then drain in (t, id) order through
  * the step against the carried value. State per key is
  * O(pending-within-watermark) plus the carry. A key with rows still
  * buffered re-arms an event-time timeout at the earliest of them (and
  * past the current watermark), so it drains even if it goes quiet.
  *
  * Late-filter caveat (measured, pinned by TransitionPropSpec): Spark's
  * stateful late filter drops an input row whose event time is AT the
  * current watermark, not only behind it — so with a 0-delay watermark
  * an event sharing its timestamp with the previous batch's maximum is
  * silently dropped. Size the watermark delay above the source's
  * timestamp granularity.
  *
  * State retention: by default the carry lives FOREVER once a key is
  * seen — the right design for a stable fleet, since dropping it would
  * mis-state the key's next step (a fabricated session start, a
  * spurious counter restart, a re-achieved funnel step, a mis-stated
  * alert edge), but unbounded for a churning key space (ADVICE r8).
  * `idleTtlMs` bounds it: a key with nothing buffered re-arms a timeout
  * at watermark + TTL and is dropped when that fires with nothing new,
  * so a key that re-appears after expiry restarts from `init`.
  *
  * The state schema is [[State]] over the operator's payload and carry
  * types; a checkpoint written under an earlier per-operator state class
  * does not restore. No main-source caller persists one.
  */
private[streaming] object EventTimeFold {

  /** pending = (event ms, id, payload) rows ahead of the watermark;
    * carry = the step's value after the last drained row.
    */
  case class State[P, C](pending: List[(Long, Long, P)], carry: C)

  /** `in` must already carry a watermark on its event-time column.
    * `extract` gives a row's (event ms, id, payload); it runs inside the
    * state function, because a `.map` ahead of `flatMapGroupsWithState`
    * drops the watermark metadata (see [[ConcurrencyStream]]). `step`
    * gets (key, carry, event ms, payload) and returns the new carry and
    * at most one output row.
    */
  def apply[In, P: TypeTag, C: TypeTag, Out <: Product : TypeTag](in: Dataset[In],
      key: In => Long, extract: In => (Long, Long, P), init: C,
      idleTtlMs: Option[Long] = None)(
      step: (Long, C, Long, P) => (C, Option[Out])): Dataset[Out] = {
    implicit val outEnc = Encoders.product[Out]
    implicit val stateEnc = Encoders.product[State[P, C]]
    implicit val keyEnc = Encoders.scalaLong
    in.groupByKey(key)
      .flatMapGroupsWithState[State[P, C], Out](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (k, batch, state: GroupState[State[P, C]]) =>
          val old = state.getOption.getOrElse(State[P, C](Nil, init))
          val wm = state.getCurrentWatermarkMs()
          val rows = batch.map(extract).toList
          if (idleTtlMs.isDefined && state.hasTimedOut && rows.isEmpty && old.pending.isEmpty) {
            // idle-TTL expiry: nothing arrived since the TTL was armed
            state.remove()
            Iterator.empty
          } else {
            val (ready, pending) = (old.pending ++ rows).partition(_._1 <= wm)
            var carry = old.carry
            val out = ready.sortBy(r => (r._1, r._2)).flatMap { case (t, _, p) =>
              val (next, o) = step(k, carry, t, p)
              carry = next
              o
            }
            state.update(State(pending, carry))
            if (pending.nonEmpty) {
              state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
            } else {
              idleTtlMs.foreach(ttl => state.setTimeoutTimestamp(math.max(wm, 0L) + ttl))
            }
            out.iterator
          }
      }
  }
}
