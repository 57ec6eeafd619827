package graft.queries

import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{round => sparkRound} // Spark's HALF_UP round

/** Event analytics (SURVEY §2 observability): log templates and their
  * drift, funnels, retention cohorts, state transitions, label
  * cardinality and top talkers.
  *
  * Product/event analytics over the
  * event stream — the funnel and cohort queries every event warehouse
  * serves alongside logs and traces.
  *
  * Scale shape: the funnel is K chained per-user HashAggregates and
  * keyed joins (K = steps, each stage shrinks to converted users);
  * the cohort matrix aggregates distinct (user, day) rows — the
  * triangle itself is days² cells. Both reuse the user_id
  * partitioning end-to-end; nothing is per-event after the first agg.
  *
  * Scale shape: transition counting reduces each user's stream inside
  * its own window partition and only the 25-cell matrix crosses; burst
  * breadth is two HashAggregates, the second over the wall-clock hour
  * grid; reset-aware rates are a lag window keyed per series + one
  * partial agg, values pre-quantized to exact e4 integers.
  */
object EventAnalytics extends QuerySuite {

  // conversion window: each step must follow the previous within 24h
  // (150 -> 39 -> 15 users on the sf0.01 corpus — a real funnel; the
  // unwindowed variant converges to 100% on a month-long dense stream)
  private val convWindowMs = 86400000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_log_templates", (s, dir) => {
      // log template mining (the Drain-style "cluster by constant
      // parts" signal, linearized): render the log line, strip numeric
      // fields to <num>, group by the surviving template. Counts are
      // integer-exact; the example line is the lexicographic min.
      val line = concat(col("event_type"), lit(" user="), col("user_id").cast("string"),
        lit(" value="), round(col("value"), 0).cast("long").cast("string"))
      events(s, dir)
        .select(col("user_id"), regexp_replace(line, "[0-9]+", "<num>").as("template"),
          line.as("line"))
        .groupBy("template")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_processes"),
          min("line").as("example"))
        .orderBy("template")
    }, Some("""
      WITH l AS (
        SELECT user_id,
          event_type || ' user=' || CAST(user_id AS VARCHAR) || ' value=' ||
            CAST(CAST(round(value, 0) AS BIGINT) AS VARCHAR) AS line
        FROM events)
      SELECT regexp_replace(line, '[0-9]+', '<num>', 'g') AS template,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_processes,
        min(line) AS example
      FROM l GROUP BY 1 ORDER BY template""")),

    // `m_template_drift`: day-over-day log-template distribution
    // drift — per-day L1 distance between consecutive days' template
    // share vectors (e4), with the top-moving template. The "did the
    // shape of our logs change after the deploy" detector over the
    // M37 template miner.
    GraftQuery("m_template_drift", (s, dir) => {
      // templates from the M37 miner's normalization; shares on the
      // dense template×day grid (absent → 0) so the L1 distance sees
      // appearing AND vanishing templates
      val line = concat(col("event_type"), lit(" user="), col("user_id").cast("string"),
        lit(" value="), sparkRound(col("value"), 0).cast("long").cast("string"))
      val td = events(s, dir)
        .select(regexp_replace(line, "[0-9]+", "<num>").as("template"),
          epochMs(col("ts")).as("t_ms"))
        .withColumn("day_ms", expr(s"(t_ms div $dayMs) * $dayMs"))
        .groupBy("template", "day_ms").agg(count(lit(1)).as("n"))
        .localCheckpoint() // grid + totals + lag below reread it
      val days = td.select("day_ms").distinct()
      val templates = td.select("template").distinct()
      val totals = td.groupBy("day_ms").agg(sum("n").as("day_total"))
      val grid = templates.crossJoin(days)
        .join(td, Seq("template", "day_ms"), "left")
        .join(totals, "day_ms")
        .withColumn("share_e4", expr("coalesce(n, 0) * 10000 div day_total"))
      val lw = Window.partitionBy("template").orderBy("day_ms")
      val diffs = grid
        .withColumn("prev_share_e4", lag("share_e4", 1).over(lw))
        .where(col("prev_share_e4").isNotNull)
        .withColumn("d_e4", abs(col("share_e4") - col("prev_share_e4")))
      diffs.groupBy("day_ms")
        .agg(sum("d_e4").as("l1_drift_e4"),
          // top mover: max |Δ|, ties → lexicographically smallest name
          min(struct((-col("d_e4")).as("neg"), col("template"))).as("tm"))
        .select(col("day_ms"), col("l1_drift_e4"),
          col("tm.template").as("top_template"), (-col("tm.neg")).as("top_delta_e4"))
        .orderBy("day_ms")
    }, Some(s"""
      WITH l AS (
        SELECT regexp_replace(
            event_type || ' user=' || CAST(user_id AS VARCHAR) || ' value=' ||
              CAST(CAST(round(value, 0) AS BIGINT) AS VARCHAR),
            '[0-9]+', '<num>', 'g') AS template,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms
        FROM events),
      td AS (SELECT template, day_ms, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1, 2),
      grid AS (
        SELECT t.template, d.day_ms, COALESCE(td.n, 0) AS n
        FROM (SELECT DISTINCT template FROM td) t
        CROSS JOIN (SELECT DISTINCT day_ms FROM td) d
        LEFT JOIN td ON td.template = t.template AND td.day_ms = d.day_ms),
      sh AS (
        SELECT g.template, g.day_ms,
          g.n * 10000 // tt.day_total AS share_e4
        FROM grid g JOIN (
          SELECT day_ms, CAST(SUM(n) AS BIGINT) AS day_total FROM td GROUP BY 1) tt
          USING (day_ms)),
      df AS (
        SELECT *, LAG(share_e4) OVER (PARTITION BY template ORDER BY day_ms) AS prev_share_e4
        FROM sh),
      dd AS (
        SELECT template, day_ms, abs(share_e4 - prev_share_e4) AS d_e4
        FROM df WHERE prev_share_e4 IS NOT NULL),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY day_ms ORDER BY d_e4 DESC, template) AS rn
        FROM dd)
      SELECT d1.day_ms, CAST(d1.l1_drift_e4 AS BIGINT) AS l1_drift_e4,
        r.template AS top_template, r.d_e4 AS top_delta_e4
      FROM (SELECT day_ms, SUM(d_e4) AS l1_drift_e4 FROM dd GROUP BY 1) d1
      JOIN rk r ON r.day_ms = d1.day_ms AND r.rn = 1
      ORDER BY d1.day_ms""")),

    // `m_funnel`: ordered-sequence conversion (signup → view →
    // purchase, each within a 24h window of the previous): per step, users reaching it IN ORDER (each step's
    // event strictly after the previous step's first completion) and
    // the step-to-step conversion e4 — the product-analytics funnel,
    // computed as chained keyed min-aggregates, no pattern-match UDF.
    GraftQuery("m_funnel", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        epochMs(col("ts")).as("t"))
      val s1 = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("t1"))
      // step tables are per-USER min-aggregates — they grow with the
      // user base (16 MB built at sf10, r12 audit), so the chained
      // joins pin shuffle_hash: everything co-partitions on user_id
      // once and a statically-broadcast post-agg side never demotes
      val s2 = e.where(col("event_type") === "view").join(s1.hint("shuffle_hash"), "user_id")
        .where(col("t") > col("t1") && col("t") <= col("t1") + convWindowMs)
        .groupBy("user_id").agg(min("t").as("t2"))
      val s3 = e.where(col("event_type") === "purchase").join(s2.hint("shuffle_hash"), "user_id")
        .where(col("t") > col("t2") && col("t") <= col("t2") + convWindowMs)
        .groupBy("user_id").agg(min("t").as("t3"))
      val counts = s1.agg(count(lit(1)).as("users")).withColumn("step", lit(1L))
        .unionByName(s2.agg(count(lit(1)).as("users")).withColumn("step", lit(2L)))
        .unionByName(s3.agg(count(lit(1)).as("users")).withColumn("step", lit(3L)))
      val w = Window.orderBy("step")
      counts
        .withColumn("prev", lag("users", 1).over(w))
        .select(col("step"),
          array(lit("signup"), lit("view"), lit("purchase"))(col("step").cast("int") - 1)
            .as("event_type"),
          col("users"),
          coalesce(expr("users * 10000 div prev"), lit(10000L)).as("conv_e4"))
        .orderBy("step")
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'view' AND t > t1 AND t <= t1 + 86400000 GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 86400000 GROUP BY 1),
      counts AS (
        SELECT 1 AS step, 'signup' AS event_type, COUNT(*) AS users FROM s1
        UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
        UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3)
      SELECT CAST(step AS BIGINT) AS step, event_type,
        CAST(users AS BIGINT) AS users,
        CAST(COALESCE(users * 10000 // LAG(users) OVER (ORDER BY step), 10000) AS BIGINT)
          AS conv_e4
      FROM counts ORDER BY step""")),

    // `m_retention_cohort`: users bucketed by first-seen day, activity
    // counted per (cohort, days-since) cell — the retention triangle.
    GraftQuery("m_retention_cohort", (s, dir) => {
      val act = events(s, dir)
        .select(col("user_id"), epochMs(date_trunc("day", col("ts"))).as("day_ms"))
        .distinct()
        .localCheckpoint() // feeds cohort mins AND the offset cells
      val coh = act.groupBy("user_id").agg(min("day_ms").as("cohort_ms"))
      act.join(coh, "user_id")
        .select(col("cohort_ms"),
          expr(s"(day_ms - cohort_ms) div $dayMs").as("offset_days"))
        .groupBy("cohort_ms", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_ms", "offset_days")
    }, Some(s"""
      WITH act AS (
        SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms FROM events),
      coh AS (SELECT user_id, MIN(day_ms) AS cohort_ms FROM act GROUP BY 1)
      SELECT cohort_ms,
        CAST((day_ms - cohort_ms) // $dayMs AS BIGINT) AS offset_days,
        CAST(COUNT(*) AS BIGINT) AS n_users
      FROM act JOIN coh USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_ms, offset_days""")),

    // `m_transition_matrix`: per-user event-type transition counts and
    // exact conditional probabilities — the first-order Markov journey
    // matrix (signup → view → purchase …) product analytics reads
    // before funnel design (M67 checks ONE prescribed order; this
    // surfaces what orders actually happen). Lag window keyed per
    // user; output is the (types × types) grid.
    GraftQuery("m_transition_matrix", (s, dir) => {
      val ms = epochMs(col("ts"))
      val w = Window.partitionBy("user_id").orderBy("t_ms", "event_id")
      val steps = events(s, dir)
        .select(col("user_id"), col("event_type").as("to_state"),
          ms.as("t_ms"), col("event_id"))
        .withColumn("from_state", lag("to_state", 1).over(w))
        .where(col("from_state").isNotNull)
      val counts = steps.groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
      counts
        .withColumn("row_total", sum("n").over(Window.partitionBy("from_state")))
        .withColumn("p_e4", expr("n * 10000 div row_total"))
        .select("from_state", "to_state", "n", "row_total", "p_e4")
        .orderBy("from_state", "to_state")
    }, Some("""
      WITH st AS (
        SELECT user_id, event_type AS to_state, epoch_ms(ts) AS t_ms, event_id,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS from_state
        FROM events),
      c AS (
        SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        FROM st WHERE from_state IS NOT NULL GROUP BY 1, 2),
      t AS (
        SELECT *, CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS row_total
        FROM c)
      SELECT from_state, to_state, n, row_total, n * 10000 // row_total AS p_e4
      FROM t ORDER BY from_state, to_state"""), headline = true),

    GraftQuery("m_label_cardinality", (s, dir) => {
      // metrics-label cardinality guard: per metric name, how many
      // distinct values the property label takes, as a ratio of rows
      // (e4) — the "this label is about to explode the time-series
      // store" audit every metrics backend runs before accepting a
      // label into an index. Extraction uses the native property_get
      // expression (codegen'd, same as M4); one partial-agg groupBy.
      events(s, dir)
        .select(col("event_type"),
          call_function("graft_property_get", col("props"), lit("k")).as("label"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("label").as("n_values"))
        .withColumn("ratio_e4", expr("n_values * 10000 div n_rows"))
        .withColumn("high_cardinality", (col("ratio_e4") >= 1000L).cast("long"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) AS BIGINT) AS n_values,
        CAST(COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) * 10000 // COUNT(*)
          AS BIGINT) AS ratio_e4,
        CAST(CASE WHEN COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) * 10000
                       // COUNT(*) >= 1000 THEN 1 ELSE 0 END AS BIGINT) AS high_cardinality
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // `m_top_talkers`: log-volume concentration (Pareto) — processes
    // ranked by event volume with exact cumulative share and the
    // minimal ≥80% head set flagged. The "who do we rate-limit first"
    // table; the global window rides the PROCESS grid (fleet-bounded,
    // counts pre-aggregated map-side), never raw events.
    GraftQuery("m_top_talkers", (s, dir) => {
      val per = events(s, dir)
        .groupBy(col("user_id").cast("string").as("process_id"))
        .agg(count(lit(1)).as("n_events"))
      val tot = per.agg(sum("n_events").as("total"))
      // global window over the PROCESS grid only — counts are already
      // reduced map-side, so the sort is fleet-bounded, not volume-bound
      val wr = Window.orderBy(col("n_events").desc, col("process_id"))
      per.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(wr))
        .withColumn("cum", sum("n_events").over(
          wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("share_e4", expr("n_events * 10000 div total"))
        .withColumn("cum_share_e4", expr("cum * 10000 div total"))
        // in the 80% head iff everything BEFORE this process is < 80%
        .withColumn("in_top80",
          when((col("cum") - col("n_events")) * 10000 < col("total") * 8000, 1L)
            .otherwise(0L))
        .select("rk", "process_id", "n_events", "share_e4", "cum_share_e4", "in_top80")
        .orderBy("rk")
    }, Some("""
      WITH per AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per),
      r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, process_id) AS rk,
          CAST(SUM(n_events) OVER (ORDER BY n_events DESC, process_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM per)
      SELECT CAST(rk AS BIGINT) AS rk, process_id, n_events,
        n_events * 10000 // t.total AS share_e4,
        cum * 10000 // t.total AS cum_share_e4,
        CAST(CASE WHEN (cum - n_events) * 10000 < t.total * 8000
             THEN 1 ELSE 0 END AS BIGINT) AS in_top80
      FROM r CROSS JOIN tot t ORDER BY rk"""))
  )
}
