package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Streaming hysteresis (Schmitt-trigger) alerting — the live leg of
  * `m_hysteresis_alerts` (M105): per series, fire when the value
  * crosses HI, clear only below LO, emitting ONLY the edges (a page on
  * rising, a resolve on falling); oscillation inside the band emits
  * nothing. The carry through [[EventTimeFold]] is one alert bit. This
  * is what an alerting pipeline actually pages from: edges, not levels
  * — downstream needs no dedup.
  */
object HysteresisStream {

  case class Sample(ts: Timestamp, key: Long, value: Double, id: Long)

  /** firing=true is the page (rising edge), false the resolve. */
  case class AlertEdge(key: Long, tMs: Long, value: Double, firing: Boolean)

  /** `samples` must already carry a watermark on `ts`.
    * `idleTtlMs`: optional idle expiry for high-cardinality ephemeral
    * key spaces. The trade: a series that re-appears after expiry
    * restarts from alert=false, so its first above-HI sample pages
    * again even if it was already firing before it went quiet.
    */
  def edges(samples: Dataset[Sample], hi: Double, lo: Double,
      idleTtlMs: Option[Long] = None): Dataset[AlertEdge] = {
    require(hi > lo, s"hysteresis band requires hi > lo (got hi=$hi, lo=$lo)")
    require(idleTtlMs.forall(_ > 0), s"idleTtlMs must be positive (got $idleTtlMs)")
    EventTimeFold(samples, (s: Sample) => s.key,
      (s: Sample) => (s.ts.getTime, s.id, s.value), false, idleTtlMs) {
      (key, alert, t, v) =>
        if (!alert && v > hi) (true, Some(AlertEdge(key, t, v, firing = true)))
        else if (alert && v < lo) (false, Some(AlertEdge(key, t, v, firing = false)))
        else (alert, None) // inside the band (lo ≤ v ≤ hi): state holds
    }
  }
}
