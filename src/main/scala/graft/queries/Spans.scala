package graft.queries

import graft.operators.{Perfetto, SpanAssembly}
import graft.{GraftQuery, Lakehouse, QuerySuite, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spans (SURVEY §2 observability): begin/end assembly of the event
  * stream ([[graft.Lakehouse.userSpans]]), the thread/async/net/otel span
  * views and their process-scoped instances, and the Perfetto export.
  *
  * The raw (unpaired) async-events
  * surface — reference async_events_view.rs:35 exposes begin/end async
  * span events as a first-class queryable view set, next to the
  * assembled/paired views. `m_async_spans` (M21) answers "what spans
  * ran"; this answers "what raw begin/end records arrived", the stream
  * users grep when async ends go missing. Both the global view and the
  * JIT process-scoped instance are served (the reference's ViewMaker
  * handles "global" and per-process instance ids alike).
  *
  * Scale shape: span-id recovery is the per-process stack decode
  * (windows partitioned by user_id — no global window), the parent
  * linkage is the keyed self-join `withParents` bounds, and the final
  * unpivot is a per-row explode; the instance variant pushes its
  * process filter to the raw scan before any of it.
  */
object Spans extends QuerySuite {

  /** Shared spans+parents+status oracle prefix (the thread-span
    * assembly identical to oracleSpans, then parent
    * linkage and in-span error accounting). `scope` restricts the
    * event stream for JIT instances.
    */
  private def oracleOtel(scope: String): String = s"""
      ${oracleSpansCte(scope)},
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

  /** Oracle: the shared span-assembly CTE, parent linkage, then each
    * span unpivoted back to its begin and end records.
    */
  private def oracleAsync(scope: String): String = s"""
      ${oracleSpansCte(scope)},
      linked AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.depth, ch.begin_ms, ch.end_ms,
          p.span_id AS parent_id,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms),
      base AS (
        SELECT user_id, span_id, COALESCE(parent_id, -1) AS parent_span_id,
          name, depth, begin_ms, end_ms
        FROM linked WHERE rk = 1),
      raw AS (
        SELECT user_id, span_id, parent_span_id, name, depth,
          'begin' AS event_type, begin_ms AS time_ms FROM base
        UNION ALL
        SELECT user_id, span_id, parent_span_id, name, depth,
          'end' AS event_type, end_ms AS time_ms FROM base)
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        CAST(user_id AS VARCHAR) || '-async' AS stream_id,
        CAST(user_id AS VARCHAR) || '-async-' ||
          CAST(time_ms - time_ms % 60000 AS VARCHAR) AS block_id,
        time_ms, event_type, span_id, parent_span_id,
        CAST(depth AS BIGINT) AS depth, name
      FROM raw
      ORDER BY process_id, span_id, event_type"""

  /** 56-bit md5-derived track uuid, computed by the engine itself so
    * the oracle's CAST('0x'||substr(md5(s),1,14) AS BIGINT) matches.
    */
  private def uuidExpr(s: String): Column =
    conv(substring(md5(lit(s)), 1, 14), 16, 10).cast("long")

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_span_assembly", (s, dir) => {
      SpanAssembly.consecutiveSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type")
        .select("user_id", "event_id", "name", "begin_ms", "end_ms", "duration_ms")
        .orderBy("user_id", "begin_ms", "event_id")
    }, Some("""
      WITH sp AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events)
      SELECT user_id, event_id, name, begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM sp WHERE end_ms IS NOT NULL
      ORDER BY user_id, begin_ms, event_id"""), headline = true),

    GraftQuery("m_spans_topk", (s, dir) => {
      val spans = SpanAssembly.consecutiveSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type")
      val w = Window.partitionBy("name").orderBy(col("duration_ms").desc, col("user_id"), col("event_id"))
      spans.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select("name", "rk", "user_id", "event_id", "duration_ms")
        .orderBy("name", "rk")
    }, Some("""
      WITH sp AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events),
      d AS (
        SELECT user_id, event_id, name, end_ms - begin_ms AS duration_ms
        FROM sp WHERE end_ms IS NOT NULL),
      r AS (
        SELECT name, user_id, event_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name ORDER BY duration_ms DESC, user_id, event_id) AS rk
        FROM d)
      SELECT name, rk, user_id, event_id, duration_ms FROM r WHERE rk <= 5
      ORDER BY name, rk""")),

    GraftQuery("m_process_spans", (s, dir) => {
      // process_spans UDTF analog (reference: lakehouse/query.rs:138):
      // the JIT span view scoped to one process; the process filter
      // pushes through the assembly window into the scan
      new Lakehouse(s, dir).viewInstance("thread_spans", "7")
        .select("process_id", "event_id", "name", "begin_ms", "end_ms", "duration_ms")
        .orderBy("begin_ms", "event_id")
    }, Some("""
      WITH sp AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_id,
          event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events WHERE CAST(user_id AS VARCHAR) = '7')
      SELECT process_id, event_id, name, begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM sp WHERE end_ms IS NOT NULL
      ORDER BY begin_ms, event_id""")),

    GraftQuery("m_async_spans", (s, dir) => {
      spans(s, dir)
        .select("user_id", "span_id", "name", "depth", "begin_ms", "end_ms", "duration_ms")
        .orderBy("user_id", "begin_ms", "span_id")
    }, Some("""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin)
      SELECT b.user_id, span_id, name, CAST(depth AS BIGINT) AS depth, begin_ms, end_ms,
        end_ms - begin_ms AS duration_ms
      FROM b JOIN e USING (user_id, depth, seq)
      WHERE end_ms >= begin_ms
      ORDER BY user_id, begin_ms, span_id""")),

    GraftQuery("m_call_tree", (s, dir) => {
      SpanAssembly.withParents(spans(s, dir), "user_id")
        .select("user_id", "span_id", "parent_id", "name", "depth", "duration_ms")
        .orderBy("user_id", "span_id")
    }, Some(s"""$oracleSpans,
      linked AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.depth, ch.duration_ms,
          p.span_id AS parent_id, p.begin_ms AS pb,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms)
      SELECT user_id, span_id, COALESCE(parent_id, -1) AS parent_id, name, depth, duration_ms
      FROM linked WHERE rk = 1
      ORDER BY user_id, span_id""")),

    // `m_net_spans`: net_spans view analog (reference:
    // rust/analytics/src/net_spans_table.rs +
    // lakehouse/net_spans_view.rs) — network request spans with
    // connection metadata.
    GraftQuery("m_net_spans", (s, dir) => {
      // net_spans view analog: network request spans with connection
      // metadata (reference schema: process_id, span_id, depth, kind,
      // name, connection_name, is_outgoing + time range). Span pairing
      // reuses the begin/end assembly (signup/view open, others close,
      // as m_async_spans); the connection fields the reference reads
      // from stream metadata are derived deterministically from the
      // span's own keys. Per-key window only — no global order.
      val sp = spans(s, dir)
      sp.select(col("user_id").cast("string").as("process_id"), col("span_id"),
          col("depth"),
          when(col("name") === "signup", lit("connect")).otherwise(lit("request")).as("kind"),
          col("name"),
          concat(lit("conn-"), pmod(col("user_id"), lit(4L)).cast("string")).as("connection_name"),
          (pmod(col("span_id"), lit(2L)) === 0).as("is_outgoing"),
          col("begin_ms"), col("end_ms"), col("duration_ms"))
        .orderBy("process_id", "begin_ms", "span_id")
    }, Some("""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin)
      SELECT CAST(b.user_id AS VARCHAR) AS process_id, span_id, CAST(depth AS BIGINT) AS depth,
        CASE WHEN name = 'signup' THEN 'connect' ELSE 'request' END AS kind, name,
        'conn-' || CAST(b.user_id % 4 AS VARCHAR) AS connection_name,
        (span_id % 2 = 0) AS is_outgoing,
        begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM b JOIN e USING (user_id, depth, seq)
      WHERE end_ms >= begin_ms
      ORDER BY process_id, begin_ms, span_id""")),

    // `m_otel_spans` / `m_otel_instance`: otel_spans view (reference
    // otel/spans_view.rs + otel/spans_table.rs +
    // otel/spans_block_processor.rs): W3C hex trace/span/parent ids,
    // kind + status vocabularies, begin-event properties as attributes.
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

    GraftQuery("m_async_events", (s, dir) => {
      new Lakehouse(s, dir).asyncEvents
        .orderBy("process_id", "span_id", "event_type")
    }, Some(oracleAsync(""))),

    GraftQuery("m_async_instance", (s, dir) => {
      new Lakehouse(s, dir).viewInstance("async_events", "7")
        .orderBy("process_id", "span_id", "event_type")
    }, Some(oracleAsync("WHERE CAST(user_id AS VARCHAR) = '7'"))),

    // `m_perfetto_packets`: the packet stream as a relational table —
    // descriptor packets, then SliceBegin/SliceEnd per span with
    // first-appearance interned ids for names / categories /
    // (file,line) source locations. Interning is first-use dense
    // numbering, which is exactly dense_rank over first-appearance
    // row numbers — SQL-expressible, so the whole packet model is
    // oracle-checked (DuckDB computes the identical table).
    GraftQuery("m_perfetto_packets", (s, dir) => {
      // One process's trace (the reference's table function takes a
      // process_id argument), thread track only: two descriptor
      // packets, then begin+end packets per span in begin order.
      // The global windows below are process-scoped by construction —
      // bounded state, same as the reference's per-process writer.
      val sp = Lakehouse.perfettoThreadSpans(s, dir).where(col("user_id") === 9)
      val w = Window.orderBy(col("begin_ms"), col("span_id"))
      val ranked = sp
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("fn", min("rn").over(Window.partitionBy("name")))
        .withColumn("fs", min("rn").over(Window.partitionBy("name", "depth")))
        .withColumn("name_iid", dense_rank().over(Window.orderBy("fn")).cast("long"))
        .withColumn("src_iid", dense_rank().over(Window.orderBy("fs")).cast("long"))
      val tuuid = uuidExpr("thread-9")
      val ev = ranked.select(explode(array(
        struct(
          (lit(2L) + (col("rn") - 1) * 2).as("seq"), lit("begin").as("kind"),
          (col("begin_ms") * 1000000L).as("ts_ns"), tuuid.as("track_uuid"),
          lit(1L).as("ev_type"), col("name"), col("name_iid"), lit(1L).as("cat_iid"),
          col("src_iid"),
          when(col("rn") === col("fn"), 1L).otherwise(0L).as("new_name"),
          when(col("rn") === 1, 1L).otherwise(0L).as("new_cat"),
          when(col("rn") === col("fs"), 1L).otherwise(0L).as("new_src")),
        struct(
          (lit(2L) + (col("rn") - 1) * 2 + 1).as("seq"), lit("end").as("kind"),
          (col("end_ms") * 1000000L).as("ts_ns"), tuuid.as("track_uuid"),
          lit(2L).as("ev_type"), col("name"), col("name_iid"), lit(1L).as("cat_iid"),
          col("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src")))).as("p"))
        .select("p.*")
      val meta = s.range(1).select(
          lit(0L).as("seq"), lit("process_desc").as("kind"), lit(-1L).as("ts_ns"),
          uuidExpr("process-9").as("track_uuid"), lit(0L).as("ev_type"),
          lit("user-9").as("name"), lit(-1L).as("name_iid"), lit(-1L).as("cat_iid"),
          lit(-1L).as("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src"))
        .unionAll(s.range(1).select(
          lit(1L).as("seq"), lit("thread_desc").as("kind"), lit(-1L).as("ts_ns"),
          uuidExpr("thread-9").as("track_uuid"), lit(0L).as("ev_type"),
          lit("user-9-main").as("name"), lit(-1L).as("name_iid"), lit(-1L).as("cat_iid"),
          lit(-1L).as("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src")))
      meta.unionAll(ev).orderBy("seq")
    }, Some(s"""${oracleSpansCte("WHERE user_id = 9")},
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY begin_ms, span_id) AS rn FROM spans),
      r2 AS (SELECT *, MIN(rn) OVER (PARTITION BY name) AS fn,
               MIN(rn) OVER (PARTITION BY name, depth) AS fs FROM r),
      r3 AS (SELECT *, DENSE_RANK() OVER (ORDER BY fn) AS name_iid,
               DENSE_RANK() OVER (ORDER BY fs) AS src_iid FROM r2),
      ev AS (
        SELECT 2 + (rn-1)*2 AS seq, 'begin' AS kind, begin_ms*1000000 AS ts_ns,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT) AS track_uuid,
          1 AS ev_type, name, name_iid, 1 AS cat_iid, src_iid,
          CASE WHEN rn = fn THEN 1 ELSE 0 END AS new_name,
          CASE WHEN rn = 1 THEN 1 ELSE 0 END AS new_cat,
          CASE WHEN rn = fs THEN 1 ELSE 0 END AS new_src
        FROM r3
        UNION ALL
        SELECT 2 + (rn-1)*2 + 1, 'end', end_ms*1000000,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT),
          2, name, name_iid, 1, src_iid, 0, 0, 0
        FROM r3),
      meta AS (
        SELECT 0 AS seq, 'process_desc' AS kind, -1 AS ts_ns,
          CAST(('0x' || substr(md5('process-9'), 1, 14)) AS BIGINT) AS track_uuid,
          0 AS ev_type, 'user-9' AS name, -1 AS name_iid, -1 AS cat_iid, -1 AS src_iid,
          0 AS new_name, 0 AS new_cat, 0 AS new_src
        UNION ALL
        SELECT 1, 'thread_desc', -1,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT),
          0, 'user-9-main', -1, -1, -1, 0, 0, 0)
      SELECT CAST(seq AS BIGINT) AS seq, kind, CAST(ts_ns AS BIGINT) AS ts_ns,
        CAST(track_uuid AS BIGINT) AS track_uuid, CAST(ev_type AS BIGINT) AS ev_type,
        name, CAST(name_iid AS BIGINT) AS name_iid, CAST(cat_iid AS BIGINT) AS cat_iid,
        CAST(src_iid AS BIGINT) AS src_iid, CAST(new_name AS BIGINT) AS new_name,
        CAST(new_cat AS BIGINT) AS new_cat, CAST(new_src AS BIGINT) AS new_src
      FROM (SELECT * FROM meta UNION ALL SELECT * FROM ev)
      ORDER BY seq""")),

    // `m_perfetto_chunks`: the real encoder ([[Perfetto]]) run over
    // every process in parallel — per-chunk packet counts, byte
    // sizes and md5s. Binary protobuf is not SQL-expressible, so
    // this is a rows-only query; PerfettoSpec closes the loop by
    // decoding the chunks and asserting the packet stream equals
    // `m_perfetto_packets` row for row.
    GraftQuery("m_perfetto_chunks", (s, dir) => {
      // The real encoder over EVERY process: thread track carries the
      // nested stack assembly, async track the consecutive-event
      // operation spans ('both' mode). Each process encodes
      // independently inside flatMapGroups — parallel across
      // executors, state bounded to one process's spans. Binary
      // chunks aren't SQL-expressible → rows-only; PerfettoSpec
      // decodes them against m_perfetto_packets.
      Perfetto.traceChunksDf(s, Lakehouse.perfettoThreadSpans(s, dir), "user_id",
          Some(Lakehouse.perfettoAsyncSpans(s, dir)),
          numPartitions = Some(Tables.workPartitions(s, dir, "events")))
        .select("user_id", "chunk_id", "n_packets", "n_bytes", "chunk_md5")
        .orderBy("user_id", "chunk_id")
    }, None, headline = true),

    GraftQuery("m_trace_events", (s, dir) => {
      // Perfetto-export analog (reference: rust/analytics/src/lakehouse/
      // perfetto_trace_execution_plan.rs): the reference streams one
      // process's descriptor + per-thread descriptors + span track
      // events as protobuf chunks; the protobuf wire format is out of
      // scope (SURVEY §5), so this emits the SAME event stream in the
      // public Chrome Trace Event JSON format — process/thread metadata
      // rows, then one complete ("ph":"X") event per assembled span,
      // in trace order. A trace export is per-process by construction
      // (the reference takes process_id as an argument), so the global
      // row_number over ONE process's spans is bounded state, not a
      // scale hazard.
      val sp = spans(s, dir).where(col("user_id") === 9)
      val meta = s.createDataFrame(Seq(
        (0L, """{"ph":"M","pid":9,"name":"process_name","args":{"name":"user-9"}}"""),
        (1L, """{"ph":"M","pid":9,"tid":9,"name":"thread_name","args":{"name":"user-9-main"}}""")))
        .toDF("seq", "ev")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("begin_ms"), col("span_id"))
      // JSON-escape the interpolated name (backslash first, then quote)
      // so a span name containing `"` or `\` still yields valid JSON
      val jname = replace(replace(col("name"), lit("\\"), lit("\\\\")),
        lit("\""), lit("\\\""))
      val ev = sp.select(
        (row_number().over(w).cast("long") + 1L).as("seq"),
        concat(lit("""{"ph":"X","pid":9,"tid":9,"ts":"""),
          (col("begin_ms") * 1000).cast("string"),
          lit(""","dur":"""), (col("duration_ms") * 1000).cast("string"),
          lit(""","name":""""), jname,
          lit("""","args":{"depth":"""), col("depth").cast("string"),
          lit("}}")).as("ev"))
      meta.unionAll(ev).orderBy("seq")
    }, Some(s"""
      $oracleSpans,
      f AS (SELECT * FROM spans WHERE user_id = 9),
      ev AS (SELECT ROW_NUMBER() OVER (ORDER BY begin_ms, span_id) + 1 AS seq,
        '{"ph":"X","pid":9,"tid":9,"ts":' || CAST(begin_ms*1000 AS VARCHAR) ||
        ',"dur":' || CAST(duration_ms*1000 AS VARCHAR) ||
        ',"name":"' || replace(replace(name, '\', '\\'), '"', '\"') || '","args":{"depth":' || CAST(depth AS VARCHAR) || '}}' AS ev
        FROM f)
      SELECT CAST(seq AS BIGINT) AS seq, ev FROM (
        SELECT 0 AS seq,
          '{"ph":"M","pid":9,"name":"process_name","args":{"name":"user-9"}}' AS ev
        UNION ALL SELECT 1,
          '{"ph":"M","pid":9,"tid":9,"name":"thread_name","args":{"name":"user-9-main"}}'
        UNION ALL SELECT seq, ev FROM ev)
      ORDER BY seq""")),

    GraftQuery("m_open_spans", (s, dir) => {
      // malformed-stream detector: per process, the begin/end balance
      // — positive = begins that never closed (crashed mid-operation
      // or still running), negative = ends with no matching begin
      // (truncated ingestion). BOTH are events the stack assembler
      // silently drops from every span view (M10 pairs k-th begin
      // with k-th end per depth), so this is the only place they
      // surface. One conditional HashAggregate, one scan.
      events(s, dir)
        .select(col("user_id"),
          when(col("event_type").isin("signup", "view"), 1L)
            .otherwise(-1L).as("delta"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("delta").as("balance"))
        .select(col("user_id"), col("n_events"),
          greatest(col("balance"), lit(0L)).as("open_spans"),
          greatest(-col("balance"), lit(0L)).as("orphan_ends"))
        .withColumn("malformed",
          (col("open_spans") > 0L || col("orphan_ends") > 0L).cast("long"))
        .orderBy("user_id")
    }, Some("""
      WITH b AS (
        SELECT user_id, COUNT(*) AS n_events,
          SUM(CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END) AS balance
        FROM events GROUP BY user_id)
      SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        CAST(GREATEST(balance, 0) AS BIGINT) AS open_spans,
        CAST(GREATEST(-balance, 0) AS BIGINT) AS orphan_ends,
        CAST(CASE WHEN balance <> 0 THEN 1 ELSE 0 END AS BIGINT) AS malformed
      FROM b ORDER BY user_id""")),

    // `m_orphan_spans`: call-tree integrity — non-root spans whose
    // enclosing parent cannot be found (the linkage M22 materializes
    // comes back empty). M72 audits the EVENT stream (begin/end
    // imbalance); this audits the ASSEMBLED tree one level up:
    // orphans mean dropped blocks or cross-block chains the assembly
    // couldn't bridge — the reference's #1429 fix exists precisely
    // because orphaned chains fragmented its call trees. Parent
    // linkage is the bounded keyed band join m_call_tree uses; the
    // rate is one partial agg per process.
    GraftQuery("m_orphan_spans", (s, dir) => {
      val linked = SpanAssembly.withParents(spans(s, dir), "user_id")
      linked.groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("depth") > 0, 1L).otherwise(0L)).as("n_nonroot"),
          sum(when(col("depth") > 0 && col("parent_id") === -1L, 1L).otherwise(0L))
            .as("n_orphans"))
        .withColumn("orphan_rate_e4",
          expr("n_orphans * 10000 div greatest(n_nonroot, 1)"))
        .select("user_id", "n_spans", "n_nonroot", "n_orphans", "orphan_rate_e4")
        .orderBy("user_id")
    }, Some(s"""${Traces.oracleLinked}
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonroot,
        CAST(SUM(CASE WHEN depth > 0 AND parent_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_orphans,
        CAST(SUM(CASE WHEN depth > 0 AND parent_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          * 10000 // GREATEST(CAST(SUM(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT), 1)
          AS orphan_rate_e4
      FROM fl GROUP BY 1 ORDER BY user_id""")),

    // `m_depth_profile`: per-process call-stack depth profile over
    // assembled thread spans: span count, total and max duration per
    // (process, depth). The "is this process's latency in leaf calls
    // or in orchestration layers" triage table; the output grid is
    // processes × max stack depth (instrumentation-bounded), reduced
    // by ONE partial agg after span assembly.
    GraftQuery("m_depth_profile", (s, dir) => {
      spans(s, dir)
        .groupBy(col("user_id"), col("depth"))
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_duration_ms"),
          max("duration_ms").as("max_duration_ms"))
        .orderBy("user_id", "depth")
    }, Some(s"""${oracleSpansCte("")}
      SELECT user_id, depth, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
        max(duration_ms) AS max_duration_ms
      FROM spans GROUP BY 1, 2
      ORDER BY user_id, depth""")),

    // `m_thread_utilization`: per thread (process key), busy
    // fraction e4 = Σ root-span duration over first-begin→last-end
    // wall time. Root spans of one thread never overlap (stack
    // discipline), so the sum is exact busy time — the "is this
    // worker saturated" triage column.
    GraftQuery("m_thread_utilization", (s, dir) => {
      spans(s, dir).where(col("depth") === 0L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_roots"),
          sum("duration_ms").as("busy_ms"),
          (max("end_ms") - min("begin_ms")).as("wall_ms"))
        .withColumn("util_e4", expr("busy_ms * 10000 div greatest(wall_ms, 1)"))
        .orderBy("user_id")
    }, Some(s"""${oracleSpansCte("")}
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_roots,
        CAST(SUM(duration_ms) AS BIGINT) AS busy_ms,
        CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT) AS wall_ms,
        CAST(SUM(duration_ms) AS BIGINT) * 10000
          // GREATEST(CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT), 1) AS util_e4
      FROM spans WHERE depth = 0 GROUP BY 1 ORDER BY user_id"""))
  )
}
