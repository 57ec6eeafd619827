package graft.queries

import graft.{GraftQuery, Tables}
import graft.operators.SpanAssembly
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Third tranche: call-tree linkage (M22 core), processes/streams
  * metadata views (M23/M24), arbitrary-stride date_bin (M25).
  */
object ObservabilityExt2 {

  private def events(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "events")

  /** Error events `(user_id, event_id, t_ms)` and purchases
    * `(user_id, m_id, mt_ms, value)`: the two sides of the temporal
    * joins below.
    */
  private def errorsAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = events(s, dir)
    (e.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), epochMs(col("ts")).as("t_ms")),
     e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("m_id"),
        epochMs(col("ts")).as("mt_ms"), col("value")))
  }

  /** For each error event, the same user's purchase latest at-or-before
    * it (backward) or first at-or-after it within an hour (forward), on
    * the native as-of exec (AsofJoinNode → AsofJoinStrategy →
    * AsofJoinExec streaming merge). Equal-time purchases resolve by
    * `m_id` — the largest backward, the smallest forward — the oracles'
    * `(mt_ms, m_id)` order. Serves m_asof_join, m_asof_native and
    * m_asof_forward.
    */
  private[queries] def errorPurchaseAsof(s: SparkSession, dir: String,
      forward: Boolean): DataFrame = {
    val (errs, purch) = errorsAndPurchases(s, dir)
    graft.plans.AsofJoinNative.join(errs, purch, Seq("user_id"), "t_ms", "mt_ms",
        direction = if (forward) "forward" else "backward",
        tolerance = if (forward) Some(3600000L) else None,
        rightTiebreak = Seq("m_id"))
      .select(col("user_id"), col("event_id"), col("t_ms"),
        round(col("value"), 2).as(if (forward) "next_purchase" else "last_purchase"),
        col("m_id").as("purchase_id"))
      .orderBy("user_id", "t_ms", "event_id")
  }

  /** Temporal correlation: the purchases within 30 min of each error,
    * per user, on the native sliding-merge band exec (BandJoinNode →
    * BandJoinExec) — never a per-key nested loop. Serves m_band_join
    * and m_band_native.
    */
  private[queries] def errorPurchaseBand(s: SparkSession, dir: String): DataFrame = {
    val (errs, purch) = errorsAndPurchases(s, dir)
    graft.plans.BandJoinNative.join(errs, purch, Seq("user_id"), "t_ms", "mt_ms",
        width = 1800000L)
      .select(col("user_id"), col("event_id").as("err_id"), col("m_id").as("pur_id"),
        (col("mt_ms") - col("t_ms")).as("dt_ms"),
        round(col("value"), 2).as("value"))
      .orderBy("user_id", "err_id", "pur_id")
  }

  /** Spans from the synthesized begin/end stream, shared by m_call_tree. */
  private def spans(s: SparkSession, dir: String): DataFrame =
    SpanAssembly.beginEndSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id",
      "event_type", col("event_type").isin("signup", "view"))

  /** The thread-span-assembly oracle CTE chain — the single source of
    * truth for every query whose DuckDB oracle needs assembled spans
    * (here, the otel views in ObservabilityExt5, the perfetto export
    * in ObservabilityExt6). `scope` restricts the event stream for
    * JIT process-scoped instances (e.g. "WHERE user_id = 7").
    */
  private[queries] def oracleSpansCte(scope: String): String = s"""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events $scope),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin),
      spans AS (
        SELECT b.user_id, span_id, name, CAST(depth AS BIGINT) AS depth, begin_ms, end_ms,
          end_ms - begin_ms AS duration_ms
        FROM b JOIN e USING (user_id, depth, seq)
        WHERE end_ms >= begin_ms)"""

  private val oracleSpans = oracleSpansCte("")

  val queries: Seq[GraftQuery] = Seq(

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

    GraftQuery("m_processes", (s, dir) => {
      // processes metadata view (reference processes_view.rs) — the
      // Lakehouse member, which Graft.findProcess also serves
      new graft.Lakehouse(s, dir).processes.orderBy("process_id")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        min(epoch_ms(ts)) AS start_time_ms,
        max(epoch_ms(ts)) AS last_update_time_ms,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(DISTINCT event_type) AS BIGINT) AS n_streams
      FROM events GROUP BY 1 ORDER BY process_id""")),

    GraftQuery("m_streams", (s, dir) => {
      // streams metadata view (streams_view.rs) — the Lakehouse
      // member, which Graft.queryStreams also serves
      new graft.Lakehouse(s, dir).streams.orderBy("process_id", "tag")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS tag,
        CAST(count(*) AS BIGINT) AS nb_objects,
        min(epoch_ms(ts)) AS min_event_time_ms,
        max(epoch_ms(ts)) AS max_event_time_ms
      FROM events GROUP BY 1, 2 ORDER BY process_id, tag""")),

    GraftQuery("m_blocks", (s, dir) => {
      // blocks metadata view (reference blocks_view.rs): ingestion
      // block granularity; the events stream plays the block payloads
      // (props length = payload bytes). Served by the Lakehouse
      // member, which Graft.queryBlocks also uses.
      new graft.Lakehouse(s, dir).blocks
        .orderBy("process_id", "stream_tag", "block_start_ms")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
        epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
        CAST(count(*) AS BIGINT) AS nb_objects,
        min(epoch_ms(ts)) AS min_event_time_ms,
        max(epoch_ms(ts)) AS max_event_time_ms,
        CAST(sum(length(props)) AS BIGINT) AS payload_bytes
      FROM events GROUP BY 1, 2, 3
      ORDER BY process_id, stream_tag, block_start_ms""")),

    GraftQuery("m_asof_native", (s, dir) => {
      // the same builder as m_asof_join, pinned by the row_number form
      // of the as-of oracle
      errorPurchaseAsof(s, dir, forward = false)
    }, Some("""
      WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS t_ms
                 FROM events WHERE event_type = 'error'),
      r AS (SELECT user_id, event_id AS m_id, epoch_ms(ts) AS mt_ms, value
            FROM events WHERE event_type = 'purchase'),
      j AS (
        SELECT l.user_id, l.event_id, l.t_ms, r.value, r.m_id,
          row_number() OVER (PARTITION BY l.user_id, l.event_id
                             ORDER BY r.mt_ms DESC, r.m_id DESC) AS rn
        FROM l JOIN r ON l.user_id = r.user_id AND r.mt_ms <= l.t_ms)
      SELECT user_id, event_id, t_ms, round(value, 2) AS last_purchase,
        m_id AS purchase_id
      FROM j WHERE rn = 1
      UNION ALL
      SELECT l.user_id, l.event_id, l.t_ms, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
      FROM l WHERE NOT EXISTS (
        SELECT 1 FROM r WHERE r.user_id = l.user_id AND r.mt_ms <= l.t_ms)
      ORDER BY user_id, t_ms, event_id""")),

    GraftQuery("m_asof_forward", (s, dir) => {
      // forward as-of with tolerance: the FIRST purchase at-or-after
      // each error, but only within 1 hour ("what did the user buy
      // right after the error")
      errorPurchaseAsof(s, dir, forward = true)
    }, Some("""
      WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS t_ms
                 FROM events WHERE event_type = 'error'),
      r AS (SELECT user_id, event_id AS m_id, epoch_ms(ts) AS mt_ms, value
            FROM events WHERE event_type = 'purchase'),
      j AS (
        SELECT l.user_id, l.event_id, l.t_ms, r.value, r.m_id,
          row_number() OVER (PARTITION BY l.user_id, l.event_id
                             ORDER BY r.mt_ms ASC, r.m_id ASC) AS rn
        FROM l JOIN r ON l.user_id = r.user_id
          AND r.mt_ms >= l.t_ms AND r.mt_ms - l.t_ms <= 3600000)
      SELECT user_id, event_id, t_ms, round(value, 2) AS next_purchase,
        m_id AS purchase_id
      FROM j WHERE rn = 1
      UNION ALL
      SELECT l.user_id, l.event_id, l.t_ms, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
      FROM l WHERE NOT EXISTS (
        SELECT 1 FROM r WHERE r.user_id = l.user_id
          AND r.mt_ms >= l.t_ms AND r.mt_ms - l.t_ms <= 3600000)
      ORDER BY user_id, t_ms, event_id""")),

    GraftQuery("m_band_native", (s, dir) => {
      // the same builder as m_band_join; the two keys keep their own
      // oracles
      errorPurchaseBand(s, dir)
    }, Some("""
      SELECT e.user_id AS user_id, e.event_id AS err_id, p.event_id AS pur_id,
        epoch_ms(p.ts) - epoch_ms(e.ts) AS dt_ms,
        round(p.value, 2) AS value
      FROM events e JOIN events p
        ON e.user_id = p.user_id
        AND abs(epoch_ms(e.ts) - epoch_ms(p.ts)) <= 1800000
      WHERE e.event_type = 'error' AND p.event_type = 'purchase'
      ORDER BY e.user_id, err_id, pur_id""")),

    GraftQuery("m_props_array", (s, dir) => {
      // properties_to_array / properties_length / jsonb_format_json
      // family (properties_udf.rs:76,147, format_json.rs:37): flat
      // properties → sorted key=value entry array + canonical JSON.
      // Props are enriched to a 3-key map first (the raw table is
      // single-key, which wouldn't exercise ordering).
      val e = events(s, dir).where(col("event_id") < 2000)
      val m = map(
        lit("k"), get_json_object(col("props"), "$.k"),
        lit("type"), col("event_type"),
        lit("m7"), (col("event_id") % 7).cast("string"))
      e.select(col("event_id"),
          size(map_keys(m)).cast("long").as("n_props"),
          array_join(sort_array(transform(map_entries(m),
            ent => concat(ent.getField("key"), lit("="), ent.getField("value")))), ",").as("kv"),
          to_json(m).as("props_json"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id,
          regexp_extract(props, '"k": ([0-9]+)', 1) AS kv_k,
          event_type AS kv_type,
          CAST(event_id % 7 AS VARCHAR) AS kv_m7
        FROM events WHERE event_id < 2000)
      SELECT event_id,
        CAST(3 AS BIGINT) AS n_props,
        'k=' || kv_k || ',m7=' || kv_m7 || ',type=' || kv_type AS kv,
        '{"k":"' || kv_k || '","type":"' || kv_type || '","m7":"' || kv_m7 || '"}' AS props_json
      FROM e ORDER BY event_id""")),

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

    GraftQuery("q_date_bin", (s, dir) => {
      // DataFusion date_bin('15 minutes', time): arbitrary-stride
      // binning via epoch arithmetic (integer ops, engine-exact)
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      e.groupBy((ms - pmod(ms, lit(900000L))).as("bin_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("bin_ms", "event_type")
    }, Some("""
      SELECT epoch_ms(ts) - epoch_ms(ts) % 900000 AS bin_ms, event_type,
        CAST(count(*) AS BIGINT) AS n, round(avg(value),4) AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY bin_ms, event_type"""))
  )
}
