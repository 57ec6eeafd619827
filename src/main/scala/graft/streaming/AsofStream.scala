package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming backward as-of join: for each probe event, the latest
  * measure at-or-before its event time, on a live stream — the
  * streaming counterpart of plans.AsofJoinNative.
  *
  * Event-time correctness is the crux: arrival order is not time
  * order, so a probe can only be answered once the watermark passes
  * its timestamp (no earlier-but-closer measure can still arrive).
  * The operator buffers both sides per key in flatMapGroupsWithState
  * state and drains on watermark advance (EventTimeTimeout fires even
  * if the key receives no further data):
  *
  *  - probes with `t <= watermark` are matched against the buffered
  *    measures and emitted, then dropped from state;
  *  - measures with `t <= watermark` collapse to ONE carry row (the
  *    latest) — every future probe is younger than the watermark, so
  *    older measures can never be the answer again;
  *  - state is therefore O(pending-within-watermark + 1) per key, the
  *    streaming equivalent of the batch exec's O(1) carry.
  *
  * Rows older than the watermark (either side) are dropped by the
  * stateful operator's late-input filter before they reach this
  * function — the standard watermark contract; the in-function late
  * checks are a second line of defense for the first batches where
  * the watermark is still 0. Correctness degrades no further than the
  * watermark bound, same as the reference's late-block handling in
  * its incremental ETL.
  */
object AsofStream {

  private def geq(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)

  /** Unioned envelope: side 0 = measure (carries value), 1 = probe. */
  case class AsofEvent(ts: Timestamp, key: Long, side: Int, id: Long, value: Double)

  case class AsofMatch(key: Long, probeId: Long, tMs: Long,
      measureId: Option[Long], value: Option[Double])

  case class AsofState(
      probes: List[(Long, Long)],            // (tMs, probeId) pending
      measures: List[(Long, Long, Double)],  // (tMs, id, value) ahead of watermark
      carry: Option[(Long, Long, Double)])   // latest measure at-or-before watermark

  /** `events` must already carry a watermark on `ts` (withWatermark
    * upstream) — EventTimeTimeout needs it.
    */
  def asof(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    implicit val matchEnc = Encoders.product[AsofMatch]
    implicit val stateEnc = Encoders.product[AsofState]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, batch, state: GroupState[AsofState]) =>
          val old = state.getOption.getOrElse(AsofState(Nil, Nil, None))
          val wm = state.getCurrentWatermarkMs()
          val (newMeasures, newProbes) = batch.toList.partition(_.side == 0)

          // Spark's operator-level late filter admits rows using the
          // PREVIOUS batch's watermark, so rows between that and
          // getCurrentWatermarkMs still reach us. Buffer everything:
          // probes with t <= wm are answerable right now (any future
          // measure is younger than the watermark >= t) and drain this
          // batch; gap measures must go through the buffer so the
          // drain merges them in (t, id) order — feeding them straight
          // into the carry would let a 10:30 measure answer a pending
          // 10:00 probe.
          var probes = old.probes ++ newProbes.map(p => (p.ts.getTime, p.id))
          var carry = old.carry
          var measures = old.measures ++
            newMeasures.map(m => (m.ts.getTime, m.id, m.value))

          // drain: answer every probe the watermark has passed, in
          // (t, id) order, merging measures forward like the batch exec
          val (ready, pending) = probes.partition(_._1 <= wm)
          probes = pending
          val out = List.newBuilder[AsofMatch]
          if (ready.nonEmpty) {
            var ms = measures.sortBy(m => (m._1, m._2))
            ready.sortBy(identity).foreach { case (t, pid) =>
              while (ms.nonEmpty && ms.head._1 <= t) {
                // never regress: a late measure may have pushed the
                // carry past an older buffered row
                if (carry.forall(c => geq((ms.head._1, ms.head._2), (c._1, c._2)))) {
                  carry = Some(ms.head)
                }
                ms = ms.tail
              }
              // carry rows are at-or-before the watermark <= t by
              // construction, so carry is always a valid answer here
              out += AsofMatch(key, pid, t, carry.map(_._2), carry.map(_._3))
            }
            measures = ms
          }
          // collapse measures the watermark has passed into the carry
          // (future probes are younger than the watermark)
          val (past, ahead) = measures.partition(_._1 <= wm)
          if (past.nonEmpty) {
            val best = past.maxBy(m => (m._1, m._2))
            if (carry.forall(c => geq((best._1, best._2), (c._1, c._2)))) carry = Some(best)
            measures = ahead
          }

          state.update(AsofState(probes, measures, carry))
          // wake this key when the watermark reaches its next pending
          // probe, even if no more data arrives for it
          if (probes.nonEmpty) {
            state.setTimeoutTimestamp(math.max(probes.map(_._1).min, wm + 1))
          }
          out.result().iterator
      }
  }
}
