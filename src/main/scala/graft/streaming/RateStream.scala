package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Streaming reset-aware counter increments — the live leg of
  * `m_rate_resets` (M101, PromQL increase()/rate() semantics): per
  * series, each watermark-closed step emits its increment — the value
  * delta, or the NEW value when the counter dropped (restart counts
  * from zero) — as an append-mode fact. A plain windowed sum
  * downstream is then the live `increase()` over any window, with no
  * further stateful operator. Values are e4-quantized integers
  * upstream (the batch query's contract) so window sums stay exact.
  * The carry through [[EventTimeFold]] is the series' last value.
  */
object RateStream {

  case class CounterSample(ts: Timestamp, key: Long, vE4: Long, id: Long)

  /** One closed step: increment (≥ 0) + whether it was a restart. */
  case class Increment(key: Long, tMs: Long, incE4: Long, reset: Boolean)

  /** `samples` must already carry a watermark on `ts`. */
  def increments(samples: Dataset[CounterSample]): Dataset[Increment] =
    EventTimeFold(samples, (s: CounterSample) => s.key,
      (s: CounterSample) => (s.ts.getTime, s.id, s.vE4), Option.empty[Long]) {
      (key, last, t, v) => (Some(v), last.map { prev =>
        val reset = v < prev
        Increment(key, t, if (reset) v else v - prev, reset)
      })
    }
}
