package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit, session_window}

/** Streaming temporal correlation: the live counterpart of the band
  * join (plans.BandJoinNative) as a Structured
  * Streaming stream-stream inner join with an event-time range
  * condition.
  *
  * Spark's streaming join keeps per-side state; the explicit
  * event-time range plus watermarks on BOTH sides lets the state
  * manager drop a buffered row as soon as the other stream's
  * watermark passes the end of its band — state stays bounded by
  * (band width + watermark delay) × arrival rate, the streaming
  * equivalent of the batch exec's sliding deque.
  */
object BandStream {

  /** Streaming gap-based sessionization (the live counterpart of the
    * m_sessionize batch query): Spark's native session_window merges
    * windows that are within `gap` of each other per key; watermark
    * closes sessions and bounds state.
    */
  def sessionize(events: DataFrame, timeCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame = {
    events
      .withWatermark(timeCol, watermark)
      .groupBy(col(keyCol), session_window(col(timeCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Pairs within `width` (e.g. "30 minutes") on `leftKey == rightKey`.
    * `leftTime`/`rightTime` name event-time columns of their streams.
    * Key columns may share a name (each resolves against its own
    * side); other columns should be disjoint (rename upstream).
    */
  def bandJoin(left: DataFrame, leftTime: String, leftKey: String,
      right: DataFrame, rightTime: String, rightKey: String,
      width: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    // resolve each column against its own side — col(...) on the
    // joined plan is ambiguous when both keys share a name
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTime) >= l(leftTime) - expr(s"interval $width") &&
        r(rightTime) <= l(leftTime) + expr(s"interval $width"))
  }
}
