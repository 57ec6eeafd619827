package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four span surfaces built on [[Lakehouse.userSpans]] — the
  * `m_async_spans` query, the `async_events` view pivoted back to one
  * row per span, the `otel_spans` view in milliseconds and the perfetto
  * thread spans — must describe the same spans: the same multiset of
  * (process, name, begin_ms, end_ms).
  */
class SpanViewsSpec extends SparkSpec {

  private def spanSet(df: DataFrame): Map[(String, String, Long, Long), Int] =
    df.select(col("process").cast("string"), col("name"),
        col("begin_ms").cast("long"), col("end_ms").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  test("m_async_spans, async_events, otel_spans and the perfetto thread spans agree") {
    val lk = new Lakehouse(spark, sfDir)
    val query = SparkEntry.queries("m_async_spans")(spark, sfDir)
      .select(col("user_id").as("process"), col("name"), col("begin_ms"), col("end_ms"))
    val events = lk.asyncEvents
      .groupBy(col("process_id").as("process"), col("span_id"), col("name"))
      .agg(max(when(col("event_type") === "begin", col("time_ms"))).as("begin_ms"),
        max(when(col("event_type") === "end", col("time_ms"))).as("end_ms"))
    val otel = lk.otelSpans
      .select(col("process_id").as("process"), col("name"),
        // integer division: a double quotient of an 1.7e18 ns value
        // is not exact
        expr("start_time_ns div 1000000").as("begin_ms"),
        expr("end_time_ns div 1000000").as("end_ms"))
    val perfetto = Lakehouse.perfettoThreadSpans(spark, sfDir)
      .select(col("user_id").as("process"), col("name"), col("begin_ms"), col("end_ms"))

    val want = spanSet(query)
    assert(want.nonEmpty)
    assert(spanSet(events) == want, "async_events")
    assert(spanSet(otel) == want, "otel_spans")
    assert(spanSet(perfetto) == want, "perfetto thread spans")
  }
}
