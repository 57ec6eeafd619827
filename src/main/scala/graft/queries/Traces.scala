package graft.queries

import graft.operators.SpanAssembly
import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trace analytics (SURVEY §2 observability) over the assembled spans:
  * self time, critical path, summaries, the service graph, flame graphs,
  * tail sampling, waterfalls, tail attribution and log/span correlation.
  *
  * The three trace-backend operators a
  * tracing UI runs between "list processes" and "read one trace".
  *
  * Scale shape: all three ride the per-process windowed span assembly.
  * The service graph is one keyed self-join (process, span_id) plus a
  * partial-agg HashAggregate on (parent_name, child_name) — edge
  * cardinality is names², tiny. Flame folding is the m_critical_path
  * pattern: driver-iterated bounded descent (≤ max stack depth, known
  * up front) of equi-joins frontier→children, then ONE groupBy(path);
  * no recursion in-plan, no driver data movement. Tail sampling is a
  * single per-trace HashAggregate and a scalar hash predicate — the
  * keep decision needs no second pass over spans.
  *
  * Scale shape: span metrics is one partial-agg histogram
  * HashAggregate (names × 56-byte sketches); exemplars is a per-name
  * window (top-k within name partitions, no global sort); the
  * correlation join is keyed by process — per-process span sets are
  * stack-bounded, so the enclosure scan per event is small and the
  * deepest-span election is a per-event window over those candidates.
  *
  * Scale shape: the waterfall is one per-trace window (min begin /
  * wall) over process-partitioned spans — partitions are trace-sized;
  * latency bands run entirely on the 50-bin histogram table (names ×
  * 50 rows), so the quantile scan costs nothing at any corpus size.
  *
  * Trace triage analytics over the
  * assembled call tree.
  *
  * Scale shape: both ride the per-process windowed span assembly
  * (no global window); the parent linkage is the same bounded keyed
  * self-join as m_call_tree (equi-key = process, depth-1 band); the
  * child-time rollup and the final per-name/per-process aggs are
  * partial-agg HashAggregates. Nothing here is quadratic in spans.
  */
object Traces extends QuerySuite {

  /** The m_call_tree oracle chain (spans + parent linkage), shared. */
  private[queries] def oracleLinked: String = s"""${oracleSpansCte("")},
      linkedq AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.depth, ch.duration_ms,
          p.span_id AS parent_id,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms),
      fl AS (SELECT * FROM linkedq WHERE rk = 1)"""

  /** Per-span self time over the parent-linked frame (the
    * m_span_self_time computation, kept per-span here).
    */
  private def selfTimed(sp: DataFrame): DataFrame = {
    val childMs = sp.where(col("parent_id") =!= -1L)
      .groupBy(col("user_id"), col("parent_id").as("span_id"))
      .agg(sum("duration_ms").as("child_ms"))
    sp.join(childMs, Seq("user_id", "span_id"), "left")
      .withColumn("self_ms", col("duration_ms") - coalesce(col("child_ms"), lit(0L)))
  }

  // tail-sampling gates, probed on the sf0.01 corpus for a real mixed
  // decision: wall ≥ 2.0e9 ms ≈ p90 trace wall, depth ≥ 4 ≈ p90,
  // hash sample = lowest 10% of the 32-bit md5 prefix
  private val slowWallMs = 2000000000L

  private val deepDepth = 4L

  private val sampleCut = 429496730L // floor(0.1 * 2^32) + 1

  val queries: Seq[GraftQuery] = Seq(

    // `m_span_self_time`: EXCLUSIVE (self) time per span name —
    // inclusive duration minus direct children's time — the
    // flame-graph-totals operator (Perfetto's SELF_DUR / `dur -
    // sum(child dur)` idiom; the reference surfaces span trees whose
    // UIs compute exactly this). Inclusive totals double-count nested
    // work; self time is what "where is the CPU actually going"
    // queries need.
    GraftQuery("m_span_self_time", (s, dir) => {
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id")
      val childMs = sp.where(col("parent_id") =!= -1L)
        .groupBy(col("user_id"), col("parent_id").as("span_id"))
        .agg(sum("duration_ms").as("child_ms"))
      sp.join(childMs, Seq("user_id", "span_id"), "left")
        .withColumn("self_ms", col("duration_ms") - coalesce(col("child_ms"), lit(0L)))
        .groupBy("name")
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_ms"),
          sum("self_ms").as("self_ms"))
        .orderBy("name")
    }, Some(s"""$oracleLinked,
      cs AS (SELECT user_id, parent_id AS span_id, SUM(duration_ms) AS child_ms
             FROM fl WHERE parent_id IS NOT NULL GROUP BY 1, 2),
      sl AS (SELECT fl.name, fl.duration_ms,
               fl.duration_ms - COALESCE(cs.child_ms, 0) AS self_ms
             FROM fl LEFT JOIN cs USING (user_id, span_id))
      SELECT name, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
        CAST(SUM(self_ms) AS BIGINT) AS self_ms
      FROM sl GROUP BY name ORDER BY name""")),

    GraftQuery("m_critical_path", (s, dir) => {
      // Hot-path extraction: per process, start at the LONGEST root
      // span and descend, at each level into the longest direct child
      // (ties → smaller span_id) — the chain a "why was this trace
      // slow" drill-down follows. Driver-iterated level descent (depth
      // is bounded by the stack model and known up front — the Lloyd
      // convention: O(depth) tiny joins, no driver data movement);
      // children are pre-ranked ONCE with a per-(process, parent)
      // window, so each step is an equi-join against rank-1 rows.
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id").localCheckpoint()
      val ranked = sp.withColumn("crk", row_number().over(
          Window.partitionBy("user_id", "parent_id")
            .orderBy(col("duration_ms").desc, col("span_id"))))
        .where(col("crk") === 1).drop("crk").localCheckpoint()
      val depthRow = sp.agg(max("depth")).head()
      val maxDepth = if (depthRow.isNullAt(0)) 0 else depthRow.getLong(0).toInt
      val root = ranked.where(col("parent_id") === -1L)
        .select(col("user_id"), col("span_id"), col("name"),
          col("duration_ms"), lit(1L).as("step"))
      val frames = Iterator.iterate(root) { frontier =>
        frontier.select(col("user_id").as("f_uid"), col("span_id").as("f_sid"),
            col("step").as("f_step"))
          .join(ranked, col("f_uid") === col("user_id") &&
            col("f_sid") === col("parent_id"))
          .select(col("user_id"), col("span_id"), col("name"),
            col("duration_ms"), (col("f_step") + 1L).as("step"))
      }.take(maxDepth + 1).toSeq
      frames.reduce(_ union _)
        .select("user_id", "step", "span_id", "name", "duration_ms")
        .orderBy("user_id", "step")
    }, Some(s"""${oracleLinked.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, parent_id
          ORDER BY duration_ms DESC, span_id) AS crk
        FROM fl),
      pth AS (
        SELECT user_id, span_id, name, duration_ms, CAST(1 AS BIGINT) AS step
        FROM ranked WHERE parent_id IS NULL AND crk = 1
        UNION ALL
        SELECT c.user_id, c.span_id, c.name, c.duration_ms, p.step + 1
        FROM pth p JOIN ranked c
          ON c.user_id = p.user_id AND c.parent_id = p.span_id AND c.crk = 1)
      SELECT user_id, step, span_id, name, duration_ms
      FROM pth ORDER BY user_id, step""")),

    // `m_trace_summary`: per-process one-row triage rollup (span
    // count, tree depth, root count, wall-clock span, busiest-name
    // stats) — the first query a trace UI runs to rank processes
    // before drilling in.
    GraftQuery("m_trace_summary", (s, dir) => {
      spans(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_spans"),
          (max("depth") + 1).as("max_depth"),
          sum(when(col("depth") === 0, 1L).otherwise(0L)).as("n_roots"),
          countDistinct("name").as("n_names"),
          min("begin_ms").as("trace_begin_ms"),
          max("end_ms").as("trace_end_ms"),
          sum("duration_ms").as("total_span_ms"),
          max("duration_ms").as("max_span_ms"))
        .orderBy("user_id")
    }, Some(s"""${oracleSpansCte("")}
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(MAX(depth) + 1 AS BIGINT) AS max_depth,
        CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
        CAST(COUNT(DISTINCT name) AS BIGINT) AS n_names,
        MIN(begin_ms) AS trace_begin_ms,
        MAX(end_ms) AS trace_end_ms,
        CAST(SUM(duration_ms) AS BIGINT) AS total_span_ms,
        CAST(MAX(duration_ms) AS BIGINT) AS max_span_ms
      FROM spans GROUP BY user_id ORDER BY user_id""")),

    // `m_service_graph`: caller→callee dependency edges aggregated
    // from the span parent linkage (call count, total/max child time)
    // — the service-graph view every tracing backend derives from
    // span trees (the reference's call-tree linkage,
    // rust/analytics/src/call_tree.rs, is exactly the edge source).
    GraftQuery("m_service_graph", (s, dir) => {
      // caller→callee edges: each span contributes one edge from its
      // parent's name (roots → '<root>'). The parent's name rides the
      // containment join itself (withParents carryParentName, r15) —
      // the elected parent row IS the row the former (process,
      // span_id) lookup join re-found, so that second spans⋈spans
      // join and the localCheckpoint feeding it are gone: one string
      // column through the existing join instead of a second full
      // exchange of the span table.
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id", carryParentName = true)
      sp.select(coalesce(col("parent_name"), lit("<root>")).as("parent_name"),
          col("name").as("child_name"), col("duration_ms"))
        .groupBy("parent_name", "child_name")
        .agg(count(lit(1)).as("calls"),
          sum("duration_ms").as("total_ms"),
          max("duration_ms").as("max_ms"))
        .orderBy("parent_name", "child_name")
    }, Some(s"""${oracleLinked}
      SELECT COALESCE(p.name, '<root>') AS parent_name, c.name AS child_name,
        CAST(COUNT(*) AS BIGINT) AS calls,
        CAST(SUM(c.duration_ms) AS BIGINT) AS total_ms,
        CAST(MAX(c.duration_ms) AS BIGINT) AS max_ms
      FROM fl c LEFT JOIN fl p
        ON p.user_id = c.user_id AND p.span_id = c.parent_id
      GROUP BY 1, 2 ORDER BY 1, 2"""), headline = true),

    // `m_flame_collapse`: collapsed-stack folding — every span keyed
    // by its full root→self name path, aggregated to (path, count,
    // total, self) — the folded-stacks flame-graph input format.
    GraftQuery("m_flame_collapse", (s, dir) => {
      // folded stacks: path = root;…;self names, one row per unique
      // path with span count, inclusive total, and self time (the
      // flame-graph value column). Frontier descent mirrors
      // m_critical_path: roots are parent_id = -1 (orphans from
      // malformed streams root their own stacks, matching the
      // oracle's parent IS NULL), each step equi-joins children to
      // the previous frontier's paths.
      val st = selfTimed(SpanAssembly.withParents(spans(s, dir), "user_id"))
        .select("user_id", "span_id", "parent_id", "name", "depth", "duration_ms", "self_ms")
        .localCheckpoint()
      val depthRow = st.agg(max("depth")).head()
      val maxDepth = if (depthRow.isNullAt(0)) 0 else depthRow.getLong(0).toInt
      val root = st.where(col("parent_id") === -1L).withColumn("path", col("name"))
      val frames = Iterator.iterate(root) { frontier =>
        frontier.select(col("user_id").as("f_uid"), col("span_id").as("f_sid"),
            col("path").as("f_path"))
          .join(st, col("f_uid") === col("user_id") && col("f_sid") === col("parent_id"))
          .withColumn("path", concat(col("f_path"), lit(";"), col("name")))
          .drop("f_uid", "f_sid", "f_path")
      }.take(maxDepth + 1).toSeq
      frames.reduce(_ union _)
        .groupBy("path")
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_ms"),
          sum("self_ms").as("self_ms"))
        .orderBy("path")
    }, Some(s"""${oracleLinked.replaceFirst("WITH ", "WITH RECURSIVE ")},
      fcs AS (SELECT user_id, parent_id AS span_id, SUM(duration_ms) AS child_ms
              FROM fl WHERE parent_id IS NOT NULL GROUP BY 1, 2),
      fsl AS (SELECT fl.user_id, fl.span_id, fl.parent_id, fl.name, fl.duration_ms,
                fl.duration_ms - COALESCE(fcs.child_ms, 0) AS self_ms
              FROM fl LEFT JOIN fcs USING (user_id, span_id)),
      pth AS (
        SELECT user_id, span_id, name AS path, duration_ms, self_ms
        FROM fsl WHERE parent_id IS NULL
        UNION ALL
        SELECT c.user_id, c.span_id, p.path || ';' || c.name, c.duration_ms, c.self_ms
        FROM pth p JOIN fsl c
          ON c.user_id = p.user_id AND c.parent_id = p.span_id)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
        CAST(SUM(self_ms) AS BIGINT) AS self_ms
      FROM pth GROUP BY path ORDER BY path""")),

    // `m_tail_sampling`: tail-based trace sampling decision — keep a
    // trace because it was slow, deep, or in a deterministic hash
    // sample — decided AFTER the trace completes, the way production
    // collectors gate what reaches long-term storage.
    GraftQuery("m_tail_sampling", (s, dir) => {
      // tail-based sampling: the keep/drop decision a collector makes
      // once the whole trace is visible — keep slow traces (p90 wall),
      // deep traces (p90 depth), and a deterministic 10% hash sample
      // (md5 prefix, the zero-RNG idiom shared with
      // l_stratified_sample so replays and engines agree)
      val tr = spans(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
          (max("end_ms") - min("begin_ms")).as("wall_ms"),
          max("depth").as("max_depth"))
      val u = conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
      tr.withColumn("keep_slow", (col("wall_ms") >= slowWallMs).cast("long"))
        .withColumn("keep_deep", (col("max_depth") >= deepDepth).cast("long"))
        .withColumn("keep_sample", (u < sampleCut).cast("long"))
        .withColumn("keep", greatest(col("keep_slow"), col("keep_deep"), col("keep_sample")))
        .orderBy("user_id")
    }, Some(s"""${oracleSpansCte("")},
      tr AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT) AS wall_ms,
          CAST(MAX(depth) AS BIGINT) AS max_depth
        FROM spans GROUP BY user_id),
      dec AS (
        SELECT *,
          CASE WHEN wall_ms >= $slowWallMs THEN 1 ELSE 0 END AS keep_slow,
          CASE WHEN max_depth >= $deepDepth THEN 1 ELSE 0 END AS keep_deep,
          CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 < $sampleCut THEN 1 ELSE 0 END AS keep_sample
        FROM tr)
      SELECT user_id, n_spans, wall_ms, max_depth,
        CAST(keep_slow AS BIGINT) AS keep_slow,
        CAST(keep_deep AS BIGINT) AS keep_deep,
        CAST(keep_sample AS BIGINT) AS keep_sample,
        CAST(GREATEST(keep_slow, keep_deep, keep_sample) AS BIGINT) AS keep
      FROM dec ORDER BY user_id""")),

    // `m_trace_waterfall`: the waterfall view — every span of a trace
    // ordered by begin time with its offset from trace start, depth,
    // and share of trace wall time (e4 integer) — exactly the rows a
    // Gantt renderer consumes.
    GraftQuery("m_trace_waterfall", (s, dir) => {
      val w = Window.partitionBy("user_id")
      spans(s, dir)
        .withColumn("trace_start", min("begin_ms").over(w))
        .withColumn("trace_wall",
          max("end_ms").over(w) - col("trace_start"))
        .select(col("user_id"), col("span_id"), col("name"), col("depth"),
          (col("begin_ms") - col("trace_start")).as("offset_ms"),
          col("duration_ms"),
          when(col("trace_wall") > 0L,
            expr("duration_ms * 10000 div (trace_wall)"))
            .otherwise(10000L).as("share_e4"))
        .orderBy("user_id", "offset_ms", "span_id")
    }, Some(s"""${oracleSpansCte("")},
      t AS (
        SELECT user_id, span_id, name, depth, begin_ms, duration_ms,
          MIN(begin_ms) OVER (PARTITION BY user_id) AS trace_start,
          MAX(end_ms) OVER (PARTITION BY user_id)
            - MIN(begin_ms) OVER (PARTITION BY user_id) AS trace_wall
        FROM spans)
      SELECT user_id, span_id, name, depth,
        CAST(begin_ms - trace_start AS BIGINT) AS offset_ms,
        duration_ms,
        CAST(CASE WHEN trace_wall > 0 THEN duration_ms * 10000 // trace_wall
             ELSE 10000 END AS BIGINT) AS share_e4
      FROM t ORDER BY user_id, offset_ms, span_id""")),

    // `m_tail_attribution`: which process owns the global latency
    // tail — per span name, the exact p95 threshold (discrete order
    // statistic at rank ceil(19n/20)), then each process's share of
    // the spans above it. The drill-down a latency SLO page runs
    // after M66 says the p99 moved. The exact rank pass is the
    // oracle-checkable calibration form; at 100 TB the threshold
    // comes from M5's mergeable histogram sketch (M92 prices that
    // substitution) and only the attribution agg remains.
    GraftQuery("m_tail_attribution", (s, dir) => {
      // materialized once: both the rank pass and the attribution agg
      // read the assembled spans, and without a cut the whole windowed
      // span assembly replays for each
      val sp = spans(s, dir).select("user_id", "span_id", "name", "duration_ms")
        .localCheckpoint()
      val wN = Window.partitionBy("name")
      val wR = wN.orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wN))
      // discrete p95: the value at ascending rank ceil(19n/20)
      val thr = ranked.where(col("rk") === expr("(19 * n + 19) div 20"))
        .select(col("name"), col("duration_ms").as("thr_ms"))
      val perProc = sp.join(broadcast(thr), "name") // one row per name
        .withColumn("is_tail", when(col("duration_ms") > col("thr_ms"), 1L).otherwise(0L))
        .groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_spans"), sum("is_tail").as("n_tail"))
      perProc
        .withColumn("name_tail_total", sum("n_tail").over(Window.partitionBy("name")))
        .where(col("n_tail") > 0)
        .withColumn("tail_share_e4", expr("n_tail * 10000 div name_tail_total"))
        .select("name", "user_id", "n_spans", "n_tail", "name_tail_total", "tail_share_e4")
        .orderBy("name", "user_id")
    }, Some(s"""${oracleSpansCte("")},
      rk AS (
        SELECT name, user_id, span_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM spans),
      thr AS (SELECT name, duration_ms AS thr_ms FROM rk WHERE rk = (19 * n + 19) // 20),
      t AS (
        SELECT s.name, s.user_id,
          CASE WHEN s.duration_ms > thr.thr_ms THEN 1 ELSE 0 END AS is_tail
        FROM spans s JOIN thr USING (name)),
      pp AS (
        SELECT name, user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(is_tail) AS BIGINT) AS n_tail
        FROM t GROUP BY 1, 2),
      tot AS (
        SELECT *, CAST(SUM(n_tail) OVER (PARTITION BY name) AS BIGINT) AS name_tail_total
        FROM pp)
      SELECT name, user_id, n_spans, n_tail, name_tail_total,
        n_tail * 10000 // name_tail_total AS tail_share_e4
      FROM tot WHERE n_tail > 0 ORDER BY name, user_id""")),

    // `m_log_span_correlate`: every error log event annotated with
    // its deepest enclosing span — logs-in-trace-context, the
    // correlation joins a trace UI renders inline.
    GraftQuery("m_log_span_correlate", (s, dir) => {
      // deepest enclosing span per error event: keyed (process) join
      // + begin≤t≤end enclosure + per-event deepest-span election;
      // unenclosed errors keep a '<none>' row (they happened between
      // spans — still worth surfacing)
      val err = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), col("event_id"), epochMs(col("ts")).as("t_ms"))
      val sp = spans(s, dir)
      val w = Window.partitionBy("event_id")
        .orderBy(col("depth").desc_nulls_last, col("span_id").asc_nulls_last)
      err.join(sp,
          col("e_uid") === col("user_id") &&
            col("begin_ms") <= col("t_ms") && col("end_ms") >= col("t_ms"),
          "left")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("event_id"), col("e_uid").as("user_id"), col("t_ms"),
          coalesce(col("span_id"), lit(-1L)).as("span_id"),
          coalesce(col("name"), lit("<none>")).as("span_name"),
          coalesce(col("depth"), lit(-1L)).as("depth"))
        .orderBy("event_id")
    }, Some(s"""${oracleSpansCte("")},
      err AS (
        SELECT user_id AS e_uid, event_id, epoch_ms(ts) AS t_ms
        FROM events WHERE event_type = 'error'),
      cand AS (
        SELECT err.event_id, err.e_uid, err.t_ms, s.span_id, s.name, s.depth,
          ROW_NUMBER() OVER (PARTITION BY err.event_id
                             ORDER BY s.depth DESC NULLS LAST, s.span_id NULLS LAST) AS rk
        FROM err LEFT JOIN spans s
          ON s.user_id = err.e_uid AND s.begin_ms <= err.t_ms AND s.end_ms >= err.t_ms)
      SELECT event_id, e_uid AS user_id, t_ms,
        COALESCE(span_id, -1) AS span_id,
        COALESCE(name, '<none>') AS span_name,
        COALESCE(depth, -1) AS depth
      FROM cand WHERE rk = 1 ORDER BY event_id""")),

    // `m_exemplars`: top-3 slowest spans PER NAME with trace context
    // — the exemplar links a duration histogram carries so a metrics
    // dashboard can jump to a concrete trace (OpenMetrics exemplars).
    GraftQuery("m_exemplars", (s, dir) => {
      val w = Window.partitionBy("name")
        .orderBy(col("duration_ms").desc, col("span_id"))
      spans(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("name"), col("rk"), col("span_id"), col("user_id"),
          col("duration_ms"), col("depth"))
        .orderBy("name", "rk")
    }, Some(s"""${oracleSpansCte("")},
      r AS (
        SELECT name, span_id, user_id, duration_ms, depth,
          ROW_NUMBER() OVER (PARTITION BY name
                             ORDER BY duration_ms DESC, span_id) AS rk
        FROM spans)
      SELECT name, CAST(rk AS BIGINT) AS rk, span_id, user_id, duration_ms, depth
      FROM r WHERE rk <= 3 ORDER BY name, rk"""))
  )
}
