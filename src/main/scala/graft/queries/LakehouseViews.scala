package graft.queries

import graft.{GraftQuery, Lakehouse, QuerySuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse views and administration (SURVEY §2 observability): the
  * global and JIT process-scoped views over the event stream
  * ([[graft.Lakehouse]]), the processes/streams/blocks metadata, block
  * payloads, images, the otel log and metric views, view merging, and
  * the retention, compaction and staleness planning of the lake.
  *
  * Scale shape: block/top-talker analytics ride metadata/fleet grids;
  * MAD medians ride the wall-clock hour grid (documented bounded
  * class); scrape-gap and tail windows are keyed per series / per
  * name; every raw-event touch is a partial-agg HashAggregate first.
  *
  * The retention/expiry surface.
  *
  * The reference deletes expired telemetry in a cascade
  * (rust/analytics/src/delete.rs): blocks whose insert_time passed the
  * expiration horizon are dropped first, then streams left with no
  * blocks, then processes left with no streams. The destructive sweep
  * itself is [[graft.operators.Materialize.sweepExpired]] (test-only,
  * like the other lake-admin operators); what belongs in the query
  * surface is the PLAN — which blocks a given horizon would delete and
  * what the cascade would take with them. That plan is a pure
  * relational computation over the blocks model (the same
  * (process, stream, minute) granularity as `m_blocks`), so it is
  * fully oracle-checked: conditional counts per stream, emptiness
  * flags, then per-process rollup — every column an integer.
  *
  * At scale this is one partial-agg groupBy chain over the block
  * inventory (O(blocks) rows, never event rows after the first keyed
  * agg), the exact shape the reference runs as three SQL DELETEs
  * against its Postgres metadata — reading the plan before running the
  * sweep is how an operator sizes a retention change safely.
  */
object LakehouseViews extends QuerySuite {

  /** Block identity on the test stream, as in m_blocks
    * (blocks_view.rs): (process, stream tag, minute bucket).
    */
  private def blockKeyed(e: DataFrame): DataFrame = {
    val ms = epochMs(col("ts"))
    e.select(col("event_id"), ms.as("time_ms"),
      col("user_id").cast("string").as("process_id"),
      col("event_type").as("stream_tag"),
      (ms - pmod(ms, lit(60000L))).as("block_start_ms"),
      col("value"), col("props"))
  }

  /** Expiration horizon: 2024-01-20T00:00:00Z, mid-range of the test
    * stream so the plan splits meaningfully at every SF.
    */
  private val cutoffMs = 1705708800000L

  /** Target merge-group payload size. Test-data blocks average ~9
    * bytes (props-length playback), so 64 exercises multi-group
    * plans at every SF; a real deployment sets this to its partition
    * size target (e.g. 256 MiB).
    */
  private val targetBytes = 64L

  private val oracleBlocks = """
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          CAST(count(*) AS BIGINT) AS nb_objects,
          CAST(sum(length(props)) AS BIGINT) AS payload_bytes
        FROM events GROUP BY 1, 2, 3)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_log_entries", (s, dir) => {
      new Lakehouse(s, dir).logEntries
        .where(col("level") <= 4)
        .select("time_ms", "event_id", "process_id", "level", "target", "msg")
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id, CAST(user_id AS VARCHAR) AS process_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type AS target,
        'event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events
      WHERE (CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END) <= 4
      ORDER BY time_ms, event_id""")),

    GraftQuery("m_measures_stats", (s, dir) => {
      new Lakehouse(s, dir).measures
        .groupBy("name")
        .agg(count(lit(1)).as("n"),
          duckRound(min("value"), 2).as("min_value"),
          duckRound(max("value"), 2).as("max_value"),
          duckRound(avg("value"), 4).as("avg_value"),
          expr(money(s"sum(${decValue})")).as("sum_value"))
        .orderBy("name")
    }, Some(s"""
      SELECT event_type AS name, CAST(count(*) AS BIGINT) AS n,
        round(min(value),2) AS min_value, round(max(value),2) AS max_value,
        round(avg(value),4) AS avg_value, ${money(s"sum(${decValue})")} AS sum_value
      FROM events GROUP BY 1 ORDER BY name""")),

    GraftQuery("m_log_stats", (s, dir) => {
      new Lakehouse(s, dir).logStats
        .groupBy("time_bin_ms", "level")
        .agg(sum("count").as("count"))
        .orderBy("time_bin_ms", "level")
    }, Some("""
      SELECT epoch_ms(date_trunc('minute', ts)) AS time_bin_ms,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        CAST(count(*) AS BIGINT) AS count
      FROM events GROUP BY 1, 2 ORDER BY time_bin_ms, level"""), headline = true),

    GraftQuery("m_view_instance", (s, dir) => {
      new Lakehouse(s, dir).viewInstance("log_entries", "7")
        .select("time_ms", "event_id", "level", "target", "msg")
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type AS target,
        'event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events WHERE CAST(user_id AS VARCHAR) = '7'
      ORDER BY time_ms, event_id""")),

    GraftQuery("m_list_views", (s, dir) => {
      // list_view_sets/list_partitions analog: registered view sets with
      // their materialized row counts
      val lk = new Lakehouse(s, dir)
      lk.logEntries.agg(count(lit(1)).as("n_rows"))
        .select(lit("log_entries").as("view_set"), col("n_rows"))
        .unionAll(lk.measures.agg(count(lit(1)).as("n_rows"))
          .select(lit("measures").as("view_set"), col("n_rows")))
        .unionAll(lk.logStats.agg(count(lit(1)).as("n_rows"))
          .select(lit("log_stats").as("view_set"), col("n_rows")))
        .orderBy("view_set")
    }, Some("""
      SELECT 'log_entries' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM events
      UNION ALL
      SELECT 'measures' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM events
      UNION ALL
      SELECT 'log_stats' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM (
        SELECT DISTINCT date_trunc('minute', ts), user_id, event_type FROM events)
      ORDER BY view_set""")),

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

    // `m_parse_block`: parse_block(block_id) analog (reference:
    // rust/analytics/src/lakehouse/parse_block_table_function.rs) —
    // given one block identity, re-parse its payload into typed rows.
    GraftQuery("m_parse_block", (s, dir) => {
      // parse_block(block_id): fetch ONE block's metadata, then re-parse
      // its payload into rows. Block selection runs on the (small,
      // aggregated) block metadata; the row fetch is a conjunctive
      // equality filter that reaches the parquet scan — on a
      // process/date-partitioned lake this prunes to a single file,
      // which is the entire point of the reference's JIT function. The
      // "block id" here is the busiest block (deterministic tiebreak),
      // standing in for the user-supplied id string.
      val k = blockKeyed(events(s, dir))
      val best = k.groupBy("process_id", "stream_tag", "block_start_ms")
        .agg(count(lit(1)).as("nb"))
        .orderBy(col("nb").desc, col("process_id"), col("stream_tag"), col("block_start_ms"))
        .limit(1)
        .select("process_id", "stream_tag", "block_start_ms")
      k.join(broadcast(best), Seq("process_id", "stream_tag", "block_start_ms"))
        .select("process_id", "stream_tag", "block_start_ms",
          "event_id", "time_ms", "value", "props")
        .orderBy("event_id")
    }, Some("""
      WITH k AS (
        SELECT event_id, epoch_ms(ts) AS time_ms, CAST(user_id AS VARCHAR) AS process_id,
          event_type AS stream_tag, epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          value, props
        FROM events),
      b AS (
        SELECT process_id, stream_tag, block_start_ms
        FROM k GROUP BY 1, 2, 3
        ORDER BY count(*) DESC, process_id, stream_tag, block_start_ms
        LIMIT 1)
      SELECT process_id, stream_tag, block_start_ms, event_id, time_ms, value, props
      FROM k JOIN b USING (process_id, stream_tag, block_start_ms)
      ORDER BY event_id""")),

    // `m_block_payload`: get_payload analog (reference:
    // rust/analytics/src/lakehouse/get_payload_function.rs) — the raw
    // block payload bytes, reconstructed deterministically per block.
    GraftQuery("m_block_payload", (s, dir) => {
      // get_payload(stream_id, block_id): the raw payload bytes of every
      // block — Lakehouse.blockPayloads, the synthesis shared with the
      // get_payload SQL table function. Emitted as md5 + byte length so
      // the result stays metadata-sized.
      new Lakehouse(s, dir).blockPayloads
        .select(col("process_id"), col("stream_tag"), col("block_start_ms"),
          col("nb_objects"),
          md5(col("payload")).as("payload_md5"),
          octet_length(col("payload")).cast("long").as("payload_bytes"))
        .orderBy("process_id", "stream_tag", "block_start_ms")
    }, Some("""
      WITH l AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms, event_id,
          CAST(event_id AS VARCHAR) || ':' || event_type || ':' ||
            CAST(CAST(floor(value * 100.0) AS BIGINT) AS VARCHAR) || ':' || props AS line
        FROM events)
      SELECT process_id, stream_tag, block_start_ms,
        CAST(count(*) AS BIGINT) AS nb_objects,
        md5(string_agg(line, chr(10) ORDER BY event_id)) AS payload_md5,
        CAST(strlen(string_agg(line, chr(10) ORDER BY event_id)) AS BIGINT) AS payload_bytes
      FROM l GROUP BY 1, 2, 3
      ORDER BY process_id, stream_tag, block_start_ms""")),

    // `m_export_log`: export_log view analog (reference:
    // rust/analytics/src/lakehouse/export_log_view.rs) — the
    // SQL-defined (time, level, msg) extraction that the reference
    // materializes incrementally per partition.
    GraftQuery("m_export_log", (s, dir) => {
      // export_log view analog: the reference materializes a SQL-defined
      // (time, level, msg) extraction of log_entries incrementally per
      // partition — this is that extraction (the Materialize.updateByDay
      // machinery it would feed is proven in MaterializeSpec). Pure
      // projection: rides the scan, zero shuffle before the output sort.
      new Lakehouse(s, dir).logEntries
        .select(col("time_ms"), col("event_id"), col("level"),
          concat(col("target"), lit(": "), col("msg")).as("msg"))
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type || ': event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events
      ORDER BY time_ms, event_id""")),

    // `m_images`: images view (reference images_view.rs +
    // image_block_processor.rs + images_table.rs). The reference only
    // allows process-scoped instances, so the query goes through
    // `viewInstance("images", id)` — the filter pushes to the scan.
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
        duckRound(col("value"), 6).as("value"))
      val summaries = e
        .groupBy(col("user_id").cast("string").as("process_id"),
          col("event_type").as("metric"),
          (ms - pmod(ms, lit(60000L)) + lit(60000L)).as("time_ms"))
        .agg(count(lit(1)).cast("double").as("s_count"),
          duckRound(sum("value"), 6).as("s_sum"),
          duckRound(min("value"), 6).as("s_min"),
          duckRound(max("value"), 6).as("s_max"))
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
      ORDER BY time_bin_ms, process_id, level, target""")),

    GraftQuery("m_retention_plan", (s, dir) => {
      val e = events(s, dir)
      val blocks = e
        .groupBy(col("user_id"), col("event_type"),
          (epochMs(col("ts")) - epochMs(col("ts")) % 60000).as("block_start_ms"))
        .agg(max(epochMs(col("ts"))).as("last_ms"))
      val streams = blocks.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("last_ms") <= cutoffMs, 1L).otherwise(0L)).as("n_expired"))
        .withColumn("emptied", (col("n_expired") === col("n_blocks")).cast("long"))
      streams.groupBy("user_id")
        .agg(sum("n_blocks").as("n_blocks"),
          sum("n_expired").as("n_expired_blocks"),
          count(lit(1)).as("n_streams"),
          sum("emptied").as("n_emptied_streams"))
        .withColumn("process_deleted",
          (col("n_emptied_streams") === col("n_streams")).cast("long"))
        .select(col("user_id").cast("string").as("process_id"),
          col("n_blocks"), col("n_expired_blocks"),
          col("n_streams"), col("n_emptied_streams"), col("process_deleted"))
        .orderBy("process_id")
    }, Some(s"""
      WITH blocks AS (
        SELECT user_id, event_type,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          max(epoch_ms(ts)) AS last_ms
        FROM events GROUP BY 1, 2, 3),
      streams AS (
        SELECT user_id, event_type,
          COUNT(*) AS n_blocks,
          SUM(CASE WHEN last_ms <= $cutoffMs THEN 1 ELSE 0 END) AS n_expired,
          CASE WHEN SUM(CASE WHEN last_ms <= $cutoffMs THEN 1 ELSE 0 END) = COUNT(*)
               THEN 1 ELSE 0 END AS emptied
        FROM blocks GROUP BY 1, 2)
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
        CAST(SUM(n_expired) AS BIGINT) AS n_expired_blocks,
        CAST(COUNT(*) AS BIGINT) AS n_streams,
        CAST(SUM(emptied) AS BIGINT) AS n_emptied_streams,
        CAST(CASE WHEN SUM(emptied) = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
          AS process_deleted
      FROM streams GROUP BY user_id
      ORDER BY process_id""")),

    // `m_compaction_plan`: the small-file compaction planner — per
    // stream, ingestion blocks (minute granularity, the blocks
    // metadata view) are assigned left-to-right into merge groups by
    // running payload size against a target group size: group_id =
    // (exclusive running sum) div target. The reference compacts JIT
    // partitions by `max_nb_objects` segments over the SAME ordered
    // block list (rust/analytics/src/lakehouse/jit_partitions.rs:
    // group_blocks_into_partitions); at 100 TB the target is the
    // config knob and the plan is what a maintenance daemon executes
    // per stream-partition. Metadata-only: the planner never touches
    // payload rows, and the window runs per (process, stream) — the
    // natural compaction domain — never globally.
    GraftQuery("m_compaction_plan", (s, dir) => {
      val blocks = new graft.Lakehouse(s, dir).blocks
      val w = Window.partitionBy("process_id", "stream_tag")
        .orderBy("block_start_ms")
        .rowsBetween(Window.unboundedPreceding, -1)
      blocks
        .withColumn("prior_bytes",
          coalesce(sum("payload_bytes").over(w), lit(0L)))
        .withColumn("group_id", expr(s"prior_bytes div $targetBytes"))
        .groupBy("process_id", "stream_tag", "group_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum("payload_bytes").as("group_bytes"),
          sum("nb_objects").as("group_objects"),
          min("block_start_ms").as("first_block_ms"),
          max("block_start_ms").as("last_block_ms"))
        .orderBy("process_id", "stream_tag", "group_id")
    }, Some(s"""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          CAST(count(*) AS BIGINT) AS nb_objects,
          CAST(sum(length(props)) AS BIGINT) AS payload_bytes
        FROM events GROUP BY 1, 2, 3),
      g AS (
        SELECT *, COALESCE(SUM(payload_bytes) OVER (
            PARTITION BY process_id, stream_tag ORDER BY block_start_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS prior_bytes
        FROM b)
      SELECT process_id, stream_tag,
        CAST(prior_bytes // $targetBytes AS BIGINT) AS group_id,
        CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(sum(payload_bytes) AS BIGINT) AS group_bytes,
        CAST(sum(nb_objects) AS BIGINT) AS group_objects,
        min(block_start_ms) AS first_block_ms,
        max(block_start_ms) AS last_block_ms
      FROM g GROUP BY 1, 2, 3
      ORDER BY process_id, stream_tag, group_id"""), headline = true),

    // `m_jit_groups`: event-time JIT partition grouping with
    // INSERT-SAFE cuts over a lake with out-of-order registered
    // blocks (reference #1429: rust/analytics/src/lakehouse/
    // jit_partitions.rs:65) — the relational PLAN form of
    // operators.JitPartitions; see the query's own comment.
    GraftQuery("m_jit_groups", (s, dir) => {
      // Event-time JIT partition grouping with INSERT-SAFE cuts
      // (reference #1429, jit_partitions.rs:65 BlockOrder::EventTime):
      // blocks sorted by event time may interleave late-REGISTERED
      // blocks, and a size cut is only taken where everything before
      // it was inserted no later than everything after (prefix-max
      // insert ≤ suffix-min insert), so emitted partitions' insert
      // ranges never overlap. Late registration is synthesized
      // deterministically (md5-bucket 20% of blocks register 4 min
      // late — the zero-RNG idiom of m_tail_sampling), creating real
      // inversions on both engines. Safe points split each stream's
      // block list into ATOMIC segments; size cuts then ride the
      // m_compaction_plan convention (exclusive-prefix-sum div
      // target) over segments — cuts can only land on safe
      // boundaries, and a single oversized segment grows past the
      // soft cap, exactly the reference's grow-don't-overlap rule.
      // chain_id additionally splits on STRICT event-coverage gaps
      // (touching minute blocks continue the chain — the #1429
      // contiguity fix: <=, not ==), counting decodable cross-block
      // chains per group. Everything is window + partial-agg over
      // block METADATA (the minute grid), never events; scale = the
      // blocks view, not the event volume. The exact greedy
      // materializer (operators.JitPartitions.groupBlocks, whose cut
      // points provably land on this query's safe boundaries) is
      // property-checked in JitPartitionsSpec.
      val maxObjects = 8L
      val ms = epochMs(col("ts"))
      val b = events(s, dir)
        .groupBy(col("user_id").cast("string").as("process_id"),
          col("event_type").as("stream_tag"),
          (ms - pmod(ms, lit(60000L))).as("begin_ms"))
        .agg(count(lit(1)).as("nb_objects"))
        .withColumn("end_ms", col("begin_ms") + lit(60000L))
      val lateKey = conv(substring(md5(concat_ws("|", col("process_id"),
        col("stream_tag"), col("begin_ms").cast("string"))), 1, 8), 16, 10).cast("long")
      val r = b.withColumn("insert_ms",
        col("begin_ms") + when(lateKey % 5 === 0, lit(240000L)).otherwise(lit(0L)))
      val byEvent = Window.partitionBy("process_id", "stream_tag").orderBy("begin_ms")
      val before = byEvent.rowsBetween(Window.unboundedPreceding, -1)
      val fromHere = byEvent.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val upToHere = byEvent.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val marked = r
        .withColumn("prefix_max_insert", max("insert_ms").over(before))
        .withColumn("suffix_min_insert", min("insert_ms").over(fromHere))
        .withColumn("prev_cov_end", max("end_ms").over(before))
        .withColumn("seg", sum(when(col("prefix_max_insert").isNull ||
            col("prefix_max_insert") <= col("suffix_min_insert"), 1L)
          .otherwise(0L)).over(upToHere))
        .withColumn("chain_id", sum(when(col("prev_cov_end").isNotNull &&
            col("begin_ms") > col("prev_cov_end"), 1L)
          .otherwise(0L)).over(upToHere))
      val bySeg = Window.partitionBy("process_id", "stream_tag").orderBy("seg")
        .rowsBetween(Window.unboundedPreceding, -1)
      val segGroups = marked.groupBy("process_id", "stream_tag", "seg")
        .agg(sum("nb_objects").as("seg_objects"))
        .withColumn("prior_objects", coalesce(sum("seg_objects").over(bySeg), lit(0L)))
        .withColumn("group_id", expr(s"prior_objects div $maxObjects"))
        .select("process_id", "stream_tag", "seg", "group_id")
      // the seg→group map is post-window/agg derived and grows with
      // the blocks grid — shuffle_hash keeps the attach co-partitioned
      // (a static broadcast of it never demotes; caught by the r12
      // broadcast audit the day this query landed)
      marked.join(segGroups.hint("shuffle_hash"), Seq("process_id", "stream_tag", "seg"))
        .groupBy("process_id", "stream_tag", "group_id")
        .agg(count(lit(1)).as("n_blocks"),
          countDistinct("seg").as("n_segments"),
          sum("nb_objects").as("group_objects"),
          min("insert_ms").as("min_insert_ms"),
          max("insert_ms").as("max_insert_ms"),
          min("begin_ms").as("first_block_ms"),
          max("begin_ms").as("last_block_ms"),
          countDistinct("chain_id").as("n_chains"))
        .orderBy("process_id", "stream_tag", "group_id")
    }, Some("""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS begin_ms,
          epoch_ms(ts) - epoch_ms(ts) % 60000 + 60000 AS end_ms,
          CAST(count(*) AS BIGINT) AS nb_objects
        FROM events GROUP BY 1, 2, 3, 4),
      r AS (
        SELECT *, begin_ms + CASE WHEN CAST(('0x' || substr(md5(
              process_id || '|' || stream_tag || '|' || CAST(begin_ms AS VARCHAR)
            ), 1, 8)) AS BIGINT) % 5 = 0 THEN 240000 ELSE 0 END AS insert_ms
        FROM b),
      w AS (
        SELECT *,
          MAX(insert_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix_max_insert,
          MIN(insert_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suffix_min_insert,
          MAX(end_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cov_end
        FROM r),
      s AS (
        SELECT *,
          SUM(CASE WHEN prefix_max_insert IS NULL
                    OR prefix_max_insert <= suffix_min_insert THEN 1 ELSE 0 END)
            OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
              ROWS UNBOUNDED PRECEDING) AS seg,
          SUM(CASE WHEN prev_cov_end IS NOT NULL AND begin_ms > prev_cov_end
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
              ROWS UNBOUNDED PRECEDING) AS chain_id
        FROM w),
      seg AS (
        SELECT process_id, stream_tag, seg, SUM(nb_objects) AS seg_objects
        FROM s GROUP BY 1, 2, 3),
      g AS (
        SELECT process_id, stream_tag, seg,
          CAST(COALESCE(SUM(seg_objects) OVER (PARTITION BY process_id, stream_tag
            ORDER BY seg ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 8 AS BIGINT) AS group_id
        FROM seg)
      SELECT s.process_id, s.stream_tag, g.group_id,
        CAST(COUNT(*) AS BIGINT) AS n_blocks,
        CAST(COUNT(DISTINCT s.seg) AS BIGINT) AS n_segments,
        CAST(SUM(s.nb_objects) AS BIGINT) AS group_objects,
        MIN(s.insert_ms) AS min_insert_ms,
        MAX(s.insert_ms) AS max_insert_ms,
        MIN(s.begin_ms) AS first_block_ms,
        MAX(s.begin_ms) AS last_block_ms,
        CAST(COUNT(DISTINCT s.chain_id) AS BIGINT) AS n_chains
      FROM s JOIN g ON s.process_id = g.process_id
        AND s.stream_tag = g.stream_tag AND s.seg = g.seg
      GROUP BY 1, 2, 3
      ORDER BY s.process_id, s.stream_tag, g.group_id""")),

    // `m_block_gaps`: ingestion-completeness audit over the blocks
    // metadata view — per stream, expected-vs-present minute blocks,
    // coverage and the largest hole. The reference's partition
    // inventory (list_partitions + blocks metadata,
    // rust/analytics/src/lakehouse/partition_cache.rs lists the same
    // per-stream block ranges) answers "is data missing" with exactly
    // this arithmetic; metadata-only, never touches payload rows.
    GraftQuery("m_block_gaps", (s, dir) => {
      val blocks = new Lakehouse(s, dir).blocks
      val w = Window.partitionBy("process_id", "stream_tag").orderBy("block_start_ms")
      blocks
        .withColumn("prev_ms", lag("block_start_ms", 1).over(w))
        .withColumn("gap_min", when(col("prev_ms").isNull, lit(0L))
          .otherwise(expr("(block_start_ms - prev_ms) div 60000 - 1")))
        .groupBy("process_id", "stream_tag")
        .agg(count(lit(1)).as("n_blocks"),
          min("block_start_ms").as("first_ms"),
          max("block_start_ms").as("last_ms"),
          max("gap_min").as("max_gap_min"))
        .withColumn("expected_minutes", expr("(last_ms - first_ms) div 60000 + 1"))
        .withColumn("missing_minutes", col("expected_minutes") - col("n_blocks"))
        .withColumn("coverage_e4", expr("n_blocks * 10000 div expected_minutes"))
        .select("process_id", "stream_tag", "n_blocks", "expected_minutes",
          "missing_minutes", "coverage_e4", "max_gap_min")
        .orderBy("process_id", "stream_tag")
    }, Some(s"""$oracleBlocks,
      g AS (
        SELECT *, lag(block_start_ms) OVER (
            PARTITION BY process_id, stream_tag ORDER BY block_start_ms) AS prev_ms
        FROM b),
      gg AS (
        SELECT *, CASE WHEN prev_ms IS NULL THEN 0
                       ELSE (block_start_ms - prev_ms) // 60000 - 1 END AS gap_min
        FROM g),
      agg AS (
        SELECT process_id, stream_tag, CAST(count(*) AS BIGINT) AS n_blocks,
          min(block_start_ms) AS first_ms, max(block_start_ms) AS last_ms,
          CAST(max(gap_min) AS BIGINT) AS max_gap_min
        FROM gg GROUP BY 1, 2)
      SELECT process_id, stream_tag, n_blocks,
        (last_ms - first_ms) // 60000 + 1 AS expected_minutes,
        (last_ms - first_ms) // 60000 + 1 - n_blocks AS missing_minutes,
        n_blocks * 10000 // ((last_ms - first_ms) // 60000 + 1) AS coverage_e4,
        max_gap_min
      FROM agg ORDER BY process_id, stream_tag""")),

    // `m_stream_staleness`: who has STOPPED reporting — per stream,
    // minutes since its last block vs the lake's newest block, worst
    // first. The current-freshness angle next to M94 (holes in the
    // past) and M98 (cadence); metadata-only.
    GraftQuery("m_stream_staleness", (s, dir) => {
      // the CURRENT-freshness angle of the completeness family: M94
      // audits holes in the past, M98 audits cadence, this ranks who
      // has STOPPED — per stream, minutes since its last block vs the
      // lake's newest block ("now" for a bounded dataset), flagged
      // stale past 120 min. Metadata-only; the lake max is a broadcast
      // scalar; output ordered worst-first.
      val blocks = new graft.Lakehouse(s, dir).blocks
        .groupBy("process_id", "stream_tag")
        .agg(max("block_start_ms").as("last_block_ms"),
          count(lit(1)).as("n_blocks"))
      val lakeMax = blocks.agg(max("last_block_ms").as("lake_max_ms"))
      blocks.crossJoin(broadcast(lakeMax))
        .withColumn("stale_min", expr("(lake_max_ms - last_block_ms) div 60000"))
        .withColumn("is_stale", when(col("stale_min") >= 120, 1L).otherwise(0L))
        .select("process_id", "stream_tag", "n_blocks", "last_block_ms",
          "stale_min", "is_stale")
        .orderBy(desc("stale_min"), col("process_id"), col("stream_tag"))
    }, Some("""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms
        FROM events),
      st AS (
        SELECT process_id, stream_tag, max(block_start_ms) AS last_block_ms,
          CAST(count(DISTINCT block_start_ms) AS BIGINT) AS n_blocks
        FROM b GROUP BY 1, 2),
      mx AS (SELECT max(last_block_ms) AS lake_max_ms FROM st)
      SELECT process_id, stream_tag, n_blocks, last_block_ms,
        (mx.lake_max_ms - last_block_ms) // 60000 AS stale_min,
        CAST(CASE WHEN (mx.lake_max_ms - last_block_ms) // 60000 >= 120
             THEN 1 ELSE 0 END AS BIGINT) AS is_stale
      FROM st CROSS JOIN mx
      ORDER BY stale_min DESC, process_id, stream_tag""")),

    // `m_scrape_gaps`: per-series sampling-cadence health — median
    // inter-sample interval (doubled order statistic) plus count of
    // gaps > 1.5× the median and the longest gap. Detects dying
    // emitters whose series still exist but skip samples — invisible
    // to count baselines until the series is fully dead.
    GraftQuery("m_scrape_gaps", (s, dir) => {
      val ms = epochMs(col("ts"))
      val samples = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), ms.as("t_ms"), col("event_id"))
      val ws = Window.partitionBy("name", "user_id").orderBy("t_ms", "event_id")
      val deltas = samples.withColumn("prev", lag("t_ms", 1).over(ws))
        .where(col("prev").isNotNull)
        .withColumn("delta", col("t_ms") - col("prev"))
      val wN = Window.partitionBy("name", "user_id")
      val r = deltas
        .withColumn("rk", row_number().over(wN.orderBy(col("delta"), col("t_ms"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(wN))
      val med = r.groupBy("name", "user_id").agg(
          sum(when(col("rk") === expr("(n + 1) div 2"), col("delta")).otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("delta")).otherwise(0L)).as("hi"))
        .withColumn("med2_ms", col("lo") + col("hi"))
        .select("name", "user_id", "med2_ms")
      deltas.join(med, Seq("name", "user_id")) // series-grid sized right side
        .groupBy("name", "user_id")
        .agg((count(lit(1)) + 1).as("n_samples"),
          max("med2_ms").as("med2_ms"),
          // gap = interval > 1.5× the median (delta > 1.5·(med2/2) ⇔ 4·delta > 3·med2)
          sum(when(col("delta") * 4 > col("med2_ms") * 3, 1L).otherwise(0L)).as("n_gaps"),
          max("delta").as("max_gap_ms"))
        .where(col("n_samples") >= 10)
        .orderBy("name", "user_id")
    }, Some("""
      WITH d AS (
        SELECT event_type AS name, user_id, epoch_ms(ts) AS t_ms, event_id,
          lag(epoch_ms(ts)) OVER (PARTITION BY event_type, user_id
            ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events),
      dd AS (SELECT name, user_id, t_ms, event_id, t_ms - prev AS delta
             FROM d WHERE prev IS NOT NULL),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name, user_id
            ORDER BY delta, t_ms, event_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, user_id) AS n
        FROM dd),
      med AS (
        SELECT name, user_id,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN delta ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN delta ELSE 0 END) AS BIGINT) AS med2_ms
        FROM r GROUP BY 1, 2)
      SELECT dd.name, dd.user_id, CAST(count(*) + 1 AS BIGINT) AS n_samples,
        max(med.med2_ms) AS med2_ms,
        CAST(SUM(CASE WHEN dd.delta * 4 > med.med2_ms * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        max(dd.delta) AS max_gap_ms
      FROM dd JOIN med USING (name, user_id)
      GROUP BY 1, 2 HAVING count(*) + 1 >= 10
      ORDER BY name, user_id"""))
  )
}
