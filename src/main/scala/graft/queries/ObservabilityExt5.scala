package graft.queries

import graft.{GraftQuery, Lakehouse}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Fifth observability tranche: the two remaining reference view sets —
  * screenshot/image blocks and OTLP-shaped spans.
  *
  *  - `m_images`: images view (reference images_view.rs +
  *    image_block_processor.rs + images_table.rs). The reference only
  *    allows process-scoped instances, so the query goes through
  *    `viewInstance("images", id)` — the filter pushes to the scan.
  *  - `m_otel_spans` / `m_otel_instance`: otel_spans view (reference
  *    otel/spans_view.rs + otel/spans_table.rs +
  *    otel/spans_block_processor.rs): W3C hex trace/span/parent ids,
  *    kind + status vocabularies, begin-event properties as attributes.
  */
object ObservabilityExt5 {

  /** Shared spans+parents+status oracle prefix (the thread-span
    * assembly identical to ObservabilityExt2.oracleSpans, then parent
    * linkage and in-span error accounting). `scope` restricts the
    * event stream for JIT instances.
    */
  private def oracleOtel(scope: String): String = s"""
      ${ObservabilityExt2.oracleSpansCte(scope)},
      linked AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.begin_ms, ch.end_ms, ch.duration_ms,
          p.span_id AS parent_id,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms),
      base AS (SELECT * FROM linked WHERE rk = 1),
      errs AS (SELECT user_id, epoch_ms(ts) AS e_ms FROM events
               WHERE event_type = 'error' ${if (scope.isEmpty) "" else scope.replace("WHERE", "AND")}),
      errc AS (
        SELECT s.span_id, count(e.e_ms) AS n_errors
        FROM base s LEFT JOIN errs e
          ON e.user_id = s.user_id AND e.e_ms BETWEEN s.begin_ms AND s.end_ms
        GROUP BY s.span_id)
      SELECT CAST(s.user_id AS VARCHAR) AS process_id,
        md5('trace:' || CAST(s.user_id AS VARCHAR)) AS trace_id,
        substring(md5('span:' || CAST(s.span_id AS VARCHAR)), 1, 16) AS span_id,
        CASE WHEN s.parent_id IS NULL THEN NULL
             ELSE substring(md5('span:' || CAST(s.parent_id AS VARCHAR)), 1, 16) END AS parent_span_id,
        s.begin_ms * 1000000 AS start_time_ns,
        s.end_ms * 1000000 AS end_time_ns,
        s.duration_ms * 1000000 AS duration_ns,
        s.name,
        CASE WHEN s.name = 'signup' THEN 'SERVER' ELSE 'INTERNAL' END AS kind,
        CASE WHEN c.n_errors > 0 THEN 'ERROR' ELSE 'OK' END AS status,
        CASE WHEN c.n_errors > 0 THEN 'errors=' || CAST(c.n_errors AS VARCHAR) END AS status_message,
        ev.props AS attributes,
        '[]' AS events, '[]' AS links
      FROM base s JOIN errc c USING (span_id)
      LEFT JOIN events ev ON ev.event_id = s.span_id
      ORDER BY process_id, span_id"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_images", (s, dir) => {
      // reference ImagesView is instance-only (images_view.rs bails on
      // "global"); the binary payload is emitted as md5 + size so the
      // result stays metadata-sized and exactly oracle-checkable
      new Lakehouse(s, dir).viewInstance("images", "7")
        .select(col("process_id"), col("stream_id"), col("block_id"),
          col("insert_time_ms"), col("exe"), col("username"), col("computer"),
          col("time_ms"), col("event_id"), col("name"), col("format"),
          col("payload_size"), md5(col("data")).as("data_md5"))
        .orderBy("event_id")
    }, Some("""
      WITH img AS (
        SELECT user_id, event_id, props, epoch_ms(ts) AS time_ms,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          'IMG:' || CAST(event_id AS VARCHAR) || ':' || props AS payload
        FROM events WHERE event_type = 'view' AND CAST(user_id AS VARCHAR) = '7')
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        CAST(user_id AS VARCHAR) || '-img' AS stream_id,
        CAST(user_id AS VARCHAR) || '-img-' || CAST(block_start_ms AS VARCHAR) AS block_id,
        block_start_ms + 60000 AS insert_time_ms,
        'app-' || CAST(user_id % 4 AS VARCHAR) || '.exe' AS exe,
        'user' || CAST(user_id AS VARCHAR) AS username,
        'host-' || CAST(user_id % 8 AS VARCHAR) AS computer,
        time_ms, event_id,
        'screenshot-' || CAST(event_id AS VARCHAR) AS name,
        CASE event_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        CAST(strlen(payload) AS BIGINT) AS payload_size,
        md5(payload) AS data_md5
      FROM img ORDER BY event_id""")),

    GraftQuery("m_otel_spans", (s, dir) => {
      new Lakehouse(s, dir).otelSpans
        .orderBy("process_id", "span_id")
    }, Some(oracleOtel(""))),

    GraftQuery("m_otel_instance", (s, dir) => {
      // JIT process-scoped otel_spans — the filter is applied to the
      // raw source before assembly, so the scan reads one process
      new Lakehouse(s, dir).viewInstance("otel_spans", "7")
        .orderBy("process_id", "span_id")
    }, Some(oracleOtel("WHERE CAST(user_id AS VARCHAR) = '7'"))),

    GraftQuery("m_otel_logs", (s, dir) => {
      // OTLP ResourceLogs → log_entries rows (reference otel/
      // logs_block_processor.rs + attrs.rs severity_number_to_level):
      // each record carries a severity_number 0..24 that buckets into
      // the reference's level vocabulary (1=Fatal..6=Trace, INFO for
      // unspecified/out-of-range — never fake-Fatal), body → msg,
      // severity_text rides along as an otel.* property. The event
      // stream plays the wire records; severity_number derives
      // deterministically from the event type (error→17, purchase→10,
      // signup→9, view→5, others→0 = UNSPECIFIED exercising the
      // default branch). Pure per-row expressions, no shuffle.
      val e = graft.Tables.df(s, dir, "events")
      val sev = when(col("event_type") === "error", 17)
        .when(col("event_type") === "purchase", 10)
        .when(col("event_type") === "signup", 9)
        .when(col("event_type") === "view", 5)
        .otherwise(0)
      val level = when(sev.between(1, 4), 6)
        .when(sev.between(5, 8), 5)
        .when(sev.between(9, 12), 4)
        .when(sev.between(13, 16), 3)
        .when(sev.between(17, 20), 2)
        .when(sev.between(21, 24), 1)
        .otherwise(4)
      e.select(epochMs(col("ts")).as("time_ms"),
          col("event_id"),
          col("user_id").cast("string").as("process_id"),
          sev.cast("int").as("severity_number"),
          level.cast("int").as("level"),
          upper(col("event_type")).as("severity_text"),
          concat(lit("event "), col("event_id").cast("string")).as("msg"),
          col("props").as("properties"))
        .orderBy("event_id")
    }, Some("""
      WITH r AS (
        SELECT *, CASE event_type WHEN 'error' THEN 17 WHEN 'purchase' THEN 10
          WHEN 'signup' THEN 9 WHEN 'view' THEN 5 ELSE 0 END AS sev
        FROM events)
      SELECT epoch_ms(ts) AS time_ms, event_id,
        CAST(user_id AS VARCHAR) AS process_id,
        CAST(sev AS INTEGER) AS severity_number,
        CAST(CASE WHEN sev BETWEEN 1 AND 4 THEN 6
             WHEN sev BETWEEN 5 AND 8 THEN 5
             WHEN sev BETWEEN 9 AND 12 THEN 4
             WHEN sev BETWEEN 13 AND 16 THEN 3
             WHEN sev BETWEEN 17 AND 20 THEN 2
             WHEN sev BETWEEN 21 AND 24 THEN 1
             ELSE 4 END AS INTEGER) AS level,
        upper(event_type) AS severity_text,
        'event ' || CAST(event_id AS VARCHAR) AS msg,
        props AS properties
      FROM r ORDER BY event_id""")),

    GraftQuery("m_otel_metrics", (s, dir) => {
      // OTLP ResourceMetrics → measures rows (reference otel/
      // metrics_block_processor.rs): Gauge points land directly; each
      // Summary data point fans out into count/sum/min/max rows under
      // suffixed metric names. The per-(process, metric, minute)
      // summary is the wire shape; the fan-out melt is the semantics
      // under test. One keyed groupBy, then a 4-way stack — partial
      // agg + per-row explode, scale-safe.
      val e = graft.Tables.df(s, dir, "events")
      val ms = epochMs(col("ts"))
      val gauges = e.select(ms.as("time_ms"),
        col("user_id").cast("string").as("process_id"),
        col("event_type").as("name"), lit("units").as("unit"),
        round(col("value"), 6).as("value"))
      val summaries = e
        .groupBy(col("user_id").cast("string").as("process_id"),
          col("event_type").as("metric"),
          (ms - pmod(ms, lit(60000L)) + lit(60000L)).as("time_ms"))
        .agg(count(lit(1)).cast("double").as("s_count"),
          round(sum("value"), 6).as("s_sum"),
          round(min("value"), 6).as("s_min"),
          round(max("value"), 6).as("s_max"))
        .select(col("time_ms"), col("process_id"),
          expr("""stack(4,
            concat(metric, '_count'), s_count,
            concat(metric, '_sum'),   s_sum,
            concat(metric, '_min'),   s_min,
            concat(metric, '_max'),   s_max) AS (name, value)"""),
          lit("units").as("unit"))
        .select("time_ms", "process_id", "name", "unit", "value")
      gauges.unionByName(summaries)
        .orderBy("time_ms", "process_id", "name", "value")
    }, Some("""
      WITH g AS (
        SELECT epoch_ms(ts) AS time_ms, CAST(user_id AS VARCHAR) AS process_id,
          event_type AS name, 'units' AS unit, round(value, 6) AS value
        FROM events),
      s AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS metric,
          epoch_ms(ts) - epoch_ms(ts) % 60000 + 60000 AS time_ms,
          CAST(count(*) AS DOUBLE) AS s_count, round(sum(value), 6) AS s_sum,
          round(min(value), 6) AS s_min, round(max(value), 6) AS s_max
        FROM events GROUP BY 1, 2, 3),
      fan AS (
        SELECT time_ms, process_id, metric || '_count' AS name, 'units' AS unit, s_count AS value FROM s
        UNION ALL
        SELECT time_ms, process_id, metric || '_sum', 'units', s_sum FROM s
        UNION ALL
        SELECT time_ms, process_id, metric || '_min', 'units', s_min FROM s
        UNION ALL
        SELECT time_ms, process_id, metric || '_max', 'units', s_max FROM s)
      SELECT time_ms, process_id, name, unit, value FROM g
      UNION ALL
      SELECT time_ms, process_id, name, unit, value FROM fan
      ORDER BY time_ms, process_id, name, value""")),

    GraftQuery("m_sql_view_merge", (s, dir) => {
      // QueryMerger's read path (reference merge.rs + sql_batch_view
      // .rs): answer a user query spanning several view partitions by
      // running the user's transform SQL per slice and the merge SQL
      // over the union — here fully lazily, with NO materialized lake.
      // Each slice's {begin}/{end} predicate pushes into its own scan
      // (slice-file pruning on a time-partitioned layout); slice cuts
      // are NOT minute-aligned, so time bins straddle slices and the
      // merge's re-sum is load-bearing rather than a repartition no-op.
      graft.Graft.registerViews(s, dir)
      val r = s.sql("SELECT min(time_ms), max(time_ms) FROM log_entries").head()
      val (lo, hi) = (r.getLong(0), r.getLong(1) + 1L)
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      graft.operators.SqlBatchView.queryAcrossSlices(s,
          graft.operators.SqlBatchView.logStats, Seq((lo, c1), (c1, c2), (c2, hi)))
        .orderBy("time_bin_ms", "process_id", "level", "target")
    }, Some("""
      SELECT epoch_ms(ts) - (epoch_ms(ts) % 60000 + 60000) % 60000 AS time_bin_ms,
        CAST(user_id AS VARCHAR) AS process_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type AS target,
        CAST(count(*) AS BIGINT) AS count
      FROM events GROUP BY 1, 2, 3, 4
      ORDER BY time_bin_ms, process_id, level, target"""))
  )
}
