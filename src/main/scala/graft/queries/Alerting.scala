package graft.queries

import graft.{GraftQuery, Lakehouse, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Alerting and SLOs (SURVEY §2 observability): threshold and
  * hysteresis alerts, burn rates and error budgets, Apdex, deploy
  * regression, error bursts, anomaly detection, alert flapping and
  * deduplication, incident context.
  *
  * The alerting/regression layer a
  * monitoring stack runs ON TOP of the log/span views.
  *
  * Scale shape: burn rate and deviation are partial-agg HashAggregates
  * over time bins (bin cardinality ≪ rows) plus keyed joins between
  * bin tables; the deviation window is per-type over DAYS (≤ tens of
  * rows per partition). Deploy compare sorts WITHIN (name, period)
  * partitions only — no global sort; the two middle elements come off
  * a bounded per-group window.
  *
  * Scale shape: bursts run on the minute grid (rows → minutes before
  * any window; the island window is per-nothing but over minutes —
  * tens of thousands of rows per month, trivially bounded). The error
  * rate reuses the process-keyed containment join; the rollup is one
  * partial-agg HashAggregate on name.
  *
  * Scale shape: apdex and utilization are single partial-agg
  * HashAggregates over spans; flapping's lag window is per (name,
  * day) — state rides as one byte, and the per-series-day partition
  * is the natural key at any fleet size; series novelty is the
  * first-appearance min election (the exact-dedup pattern) plus a
  * day-grid cumulative window.
  */
object Alerting extends QuerySuite {

  // SLO: error budget 25% (the synthetic stream runs ~20% errors, so
  // hours over budget are real but not constant); page when the hour
  // AND its 6-hour window both exceed the budget
  private val sloRatioE6 = 250000L

  private val longWindowHours = 6L

  private val apdexT = 30000000L // satisfied threshold (ms); tolerating ≤ 4T

  private val flapThreshold = 100.0 // alert predicate: value ≥ 100

  private val flapsPerDay = 20L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_threshold_alerts", (s, dir) => {
      // alerting: detect UPWARD crossings of a measure threshold — the
      // alert fires on the sample where value exceeds the limit and the
      // previous sample (per process, in event-time order) did not.
      // One keyed window; at scale this is the standard per-series lag
      // shape (partition by series key, never a global order).
      val lim = 300.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      m.withColumn("prev", lag("value", 1).over(w))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select(col("user_id"), col("t_ms"), col("event_id"),
          duckRound(col("prev"), 2).as("prev_value"), duckRound(col("value"), 2).as("value"))
        .orderBy("user_id", "t_ms", "event_id")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, t_ms, event_id,
        round(prev, 2) AS prev_value, round(value, 2) AS value
      FROM m WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0
      ORDER BY user_id, t_ms, event_id""")),

    // `m_burn_rate`: multi-window SLO burn-rate alerting (the Google
    // SRE workbook multiwindow pattern): per-hour error ratio gated
    // against the SLO budget, paged only when the enclosing 6-hour
    // window ALSO burns — short window for reaction time, long window
    // to suppress blips. All-integer ratios (e6).
    GraftQuery("m_burn_rate", (s, dir) => {
      val e = events(s, dir).select(epochMs(col("ts")).as("t_ms"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .select(expr(s"(t_ms div $hourMs) * $hourMs").as("hour_ms"), col("is_err"))
      val hourly = e.groupBy("hour_ms")
        .agg(count(lit(1)).as("total"), sum("is_err").as("errors"))
        .withColumn("ratio_e6", expr("errors * 1000000 div total"))
        .localCheckpoint() // feeds both windows
      val win = hourly
        .withColumn("win_ms",
          expr(s"(hour_ms div ${hourMs * longWindowHours}) * ${hourMs * longWindowHours}"))
        .groupBy("win_ms")
        .agg(sum("total").as("w_total"), sum("errors").as("w_errors"))
        .withColumn("w_ratio_e6", expr("w_errors * 1000000 div w_total"))
      hourly
        .withColumn("win_ms",
          expr(s"(hour_ms div ${hourMs * longWindowHours}) * ${hourMs * longWindowHours}"))
        .join(win, "win_ms")
        .select(col("hour_ms"), col("total"), col("errors"), col("ratio_e6"),
          col("w_ratio_e6"),
          (col("ratio_e6") >= sloRatioE6 && col("w_ratio_e6") >= sloRatioE6)
            .cast("long").as("page"))
        .orderBy("hour_ms")
    }, Some(s"""
      WITH e AS (
        SELECT (epoch_ms(ts) // $hourMs) * $hourMs AS hour_ms,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        FROM events),
      hourly AS (
        SELECT hour_ms, COUNT(*) AS total, SUM(is_err) AS errors,
          SUM(is_err) * 1000000 // COUNT(*) AS ratio_e6
        FROM e GROUP BY 1),
      win AS (
        SELECT (hour_ms // ${hourMs * longWindowHours}) * ${hourMs * longWindowHours} AS win_ms,
          SUM(total) AS w_total, SUM(errors) AS w_errors,
          SUM(errors) * 1000000 // SUM(total) AS w_ratio_e6
        FROM hourly GROUP BY 1)
      SELECT hour_ms, CAST(total AS BIGINT) AS total,
        CAST(errors AS BIGINT) AS errors,
        CAST(ratio_e6 AS BIGINT) AS ratio_e6,
        CAST(w_ratio_e6 AS BIGINT) AS w_ratio_e6,
        CAST(CASE WHEN ratio_e6 >= $sloRatioE6 AND w_ratio_e6 >= $sloRatioE6
             THEN 1 ELSE 0 END AS BIGINT) AS page
      FROM hourly JOIN win
        ON (hourly.hour_ms // ${hourMs * longWindowHours}) * ${hourMs * longWindowHours} = win.win_ms
      ORDER BY hour_ms"""), headline = true),

    // `m_baseline_deviation`: per-(type, day) volume vs the expanding
    // mean of all PRIOR days — the daily-volume anomaly detector
    // ("did clicks fall off a cliff today"). Integer deviation (e2)
    // with an exact integer baseline (sum div n over prior days).
    GraftQuery("m_baseline_deviation", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), epochMs(date_trunc("day", col("ts"))).as("day_ms"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day_ms")
        .rowsBetween(Window.unboundedPreceding, -1)
      daily
        .withColumn("base_sum", sum("cnt").over(w))
        .withColumn("base_n", count(lit(1)).over(w))
        .where(col("base_n") >= 1)
        .withColumn("baseline", expr("base_sum div base_n"))
        .select(col("event_type"), col("day_ms"), col("cnt"), col("baseline"),
          expr("cnt * 100 div baseline").as("dev_e2"))
        .withColumn("anomaly",
          (expr("abs(cnt * 100 div baseline - 100)") >= 20L).cast("long"))
        .orderBy("event_type", "day_ms")
    }, Some("""
      WITH daily AS (
        SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
          COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      b AS (
        SELECT event_type, day_ms, cnt,
          SUM(cnt) OVER (PARTITION BY event_type ORDER BY day_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS base_sum,
          COUNT(*) OVER (PARTITION BY event_type ORDER BY day_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS base_n
        FROM daily)
      SELECT event_type, day_ms, CAST(cnt AS BIGINT) AS cnt,
        CAST(base_sum // base_n AS BIGINT) AS baseline,
        CAST(cnt * 100 // (base_sum // base_n) AS BIGINT) AS dev_e2,
        CAST(CASE WHEN abs(cnt * 100 // (base_sum // base_n) - 100) >= 20
             THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      FROM b WHERE base_n >= 1
      ORDER BY event_type, day_ms""")),

    // `m_deploy_compare`: span-duration regression across a cutover
    // point — per span name, exact median duration before vs after
    // (med2 = sum of the two middle order statistics, an integer-exact
    // median×2) — the "did the deploy make it slower" query.
    GraftQuery("m_deploy_compare", (s, dir) => {
      // per-name median×2 (exact integer: the sum of the two middle
      // order statistics) before vs after the cutover — median is the
      // deploy-regression statistic (mean is skew-hostage). Rank
      // positions a=(n+1) div 2, b=(n+2) div 2 within (name, period).
      val sp = spans(s, dir).select(col("name"),
        when(col("begin_ms") < cutoverMs, "before").otherwise("after").as("period"),
        col("duration_ms"), col("span_id"))
      val w = Window.partitionBy("name", "period")
        .orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("name", "period")))
      val med = ranked
        .groupBy("name", "period")
        .agg(max("n").as("n_spans"),
          sum(when(col("rk") === expr("(n + 1) div 2"), col("duration_ms"))
            .otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("duration_ms"))
            .otherwise(0L)).as("hi"))
        .withColumn("med2", col("lo") + col("hi"))
        // names×2 rows; without a cut the before/after branches each
        // replay the whole span-assembly + rank chain
        .localCheckpoint()
      val before = med.where(col("period") === "before")
        .select(col("name"), col("n_spans").as("n_before"), col("med2").as("med2_before"))
      val after = med.where(col("period") === "after")
        .select(col("name"), col("n_spans").as("n_after"), col("med2").as("med2_after"))
      before.join(after, Seq("name"), "full_outer")
        .select(col("name"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("med2_before"), lit(0L)).as("med2_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("med2_after"), lit(0L)).as("med2_after"),
          (coalesce(col("med2_after"), lit(0L))
            - coalesce(col("med2_before"), lit(0L))).as("delta_med2"))
        .orderBy("name")
    }, Some(s"""${oracleSpansCte("")},
      sp AS (
        SELECT name,
          CASE WHEN begin_ms < $cutoverMs THEN 'before' ELSE 'after' END AS period,
          duration_ms, span_id
        FROM spans),
      ranked AS (
        SELECT name, period, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name, period
                             ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, period) AS n
        FROM sp),
      med AS (
        SELECT name, period, MAX(n) AS n_spans,
          SUM(CASE WHEN rk = (n + 1) // 2 THEN duration_ms ELSE 0 END)
            + SUM(CASE WHEN rk = (n + 2) // 2 THEN duration_ms ELSE 0 END) AS med2
        FROM ranked GROUP BY 1, 2),
      bf AS (SELECT name, n_spans AS n_before, med2 AS med2_before FROM med WHERE period = 'before'),
      af AS (SELECT name, n_spans AS n_after, med2 AS med2_after FROM med WHERE period = 'after')
      SELECT COALESCE(bf.name, af.name) AS name,
        CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
        CAST(COALESCE(med2_before, 0) AS BIGINT) AS med2_before,
        CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
        CAST(COALESCE(med2_after, 0) AS BIGINT) AS med2_after,
        CAST(COALESCE(med2_after, 0) - COALESCE(med2_before, 0) AS BIGINT) AS delta_med2
      FROM bf FULL OUTER JOIN af ON bf.name = af.name
      ORDER BY name""")),

    // `m_error_bursts`: error-storm detection — maximal runs of
    // CONSECUTIVE minutes containing errors (gaps-and-islands on the
    // minute grid), each burst with its span, length, and error mass.
    // A 40-minute storm is one incident, not 40 alerts; this is the
    // grouping an incident feed needs.
    GraftQuery("m_error_bursts", (s, dir) => {
      // gaps-and-islands: minute - (rank over minutes)·1min is
      // constant within a consecutive run — the island key
      val em = events(s, dir).where(col("event_type") === "error")
        .select(epochMs(col("ts")).as("t_ms"))
        .select(expr(s"(t_ms div $minuteMs) * $minuteMs").as("minute_ms"))
        .groupBy("minute_ms").agg(count(lit(1)).as("n_errors"))
      val w = Window.orderBy("minute_ms")
      em.withColumn("island",
          col("minute_ms") - row_number().over(w).cast("long") * minuteMs)
        .groupBy("island")
        .agg(min("minute_ms").as("burst_start_ms"),
          max("minute_ms").as("burst_end_ms"),
          count(lit(1)).as("n_minutes"),
          sum("n_errors").as("total_errors"))
        .where(col("n_minutes") >= 2)
        .select("burst_start_ms", "burst_end_ms", "n_minutes", "total_errors")
        .orderBy("burst_start_ms")
    }, Some(s"""
      WITH em AS (
        SELECT (epoch_ms(ts) // $minuteMs) * $minuteMs AS minute_ms,
          COUNT(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1),
      isl AS (
        SELECT *, minute_ms - ROW_NUMBER() OVER (ORDER BY minute_ms) * $minuteMs AS island
        FROM em),
      b AS (
        SELECT island, MIN(minute_ms) AS burst_start_ms, MAX(minute_ms) AS burst_end_ms,
          COUNT(*) AS n_minutes, SUM(n_errors) AS total_errors
        FROM isl GROUP BY 1)
      SELECT burst_start_ms, burst_end_ms,
        CAST(n_minutes AS BIGINT) AS n_minutes,
        CAST(total_errors AS BIGINT) AS total_errors
      FROM b WHERE n_minutes >= 2 ORDER BY burst_start_ms""")),

    // `m_span_error_rate`: RED-style error linkage per span name —
    // how many spans of each name enclose at least one error event
    // (the M64 containment join aggregated to rates). "Which
    // operation fails" rather than "which log line fired".
    GraftQuery("m_span_error_rate", (s, dir) => {
      // spans enclosing >= 1 error event, per name: the containment
      // join is process-keyed (per-process span/error sets are small);
      // error flags collapse per span, then one name rollup
      val err = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), epochMs(col("ts")).as("t_ms"))
      val sp = spans(s, dir)
      val flagged = sp.join(err,
          col("e_uid") === col("user_id") &&
            col("begin_ms") <= col("t_ms") && col("end_ms") >= col("t_ms"),
          "left")
        .groupBy("user_id", "span_id", "name")
        .agg(max(col("t_ms").isNotNull.cast("long")).as("has_error"))
      flagged.groupBy("name")
        .agg(count(lit(1)).as("n_spans"), sum("has_error").as("n_error_spans"))
        .withColumn("error_rate_e4", expr("n_error_spans * 10000 div n_spans"))
        .orderBy("name")
    }, Some(s"""${oracleSpansCte("")},
      err AS (
        SELECT user_id AS e_uid, epoch_ms(ts) AS t_ms
        FROM events WHERE event_type = 'error'),
      flagged AS (
        SELECT s.user_id, s.span_id, s.name,
          MAX(CASE WHEN err.t_ms IS NOT NULL THEN 1 ELSE 0 END) AS has_error
        FROM spans s LEFT JOIN err
          ON err.e_uid = s.user_id AND s.begin_ms <= err.t_ms AND s.end_ms >= err.t_ms
        GROUP BY 1, 2, 3)
      SELECT name, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(has_error) AS BIGINT) AS n_error_spans,
        CAST(SUM(has_error) * 10000 // COUNT(*) AS BIGINT) AS error_rate_e4
      FROM flagged GROUP BY name ORDER BY name""")),

    // `m_apdex`: the Apdex score (Apdex Alliance spec) per (name,
    // hour): satisfied (d ≤ T), tolerating (T < d ≤ 4T), frustrated;
    // score = (satisfied + tolerating/2) / total, held exact as
    // (2·sat + tol) · 10000 div (2·total) — the user-experience
    // roll-up SLO dashboards lead with.
    GraftQuery("m_apdex", (s, dir) => {
      spans(s, dir).select(col("name"),
          expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
          when(col("duration_ms") <= apdexT, 1L).otherwise(0L).as("sat"),
          when(col("duration_ms") > apdexT && col("duration_ms") <= 4L * apdexT, 1L)
            .otherwise(0L).as("tol"))
        .groupBy("name", "hour_ms")
        .agg(count(lit(1)).as("total"), sum("sat").as("satisfied"),
          sum("tol").as("tolerating"))
        .withColumn("apdex_e4",
          expr("(2 * satisfied + tolerating) * 10000 div (2 * total)"))
        .orderBy("name", "hour_ms")
    }, Some(s"""${oracleSpansCte("")}
      SELECT name, (begin_ms // $hourMs) * $hourMs AS hour_ms,
        CAST(COUNT(*) AS BIGINT) AS total,
        CAST(SUM(CASE WHEN duration_ms <= $apdexT THEN 1 ELSE 0 END) AS BIGINT)
          AS satisfied,
        CAST(SUM(CASE WHEN duration_ms > $apdexT AND duration_ms <= ${4 * apdexT}
                 THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
        (2 * CAST(SUM(CASE WHEN duration_ms <= $apdexT THEN 1 ELSE 0 END) AS BIGINT)
           + CAST(SUM(CASE WHEN duration_ms > $apdexT AND duration_ms <= ${4 * apdexT}
                     THEN 1 ELSE 0 END) AS BIGINT)) * 10000
          // (2 * CAST(COUNT(*) AS BIGINT)) AS apdex_e4
      FROM spans GROUP BY 1, 2 ORDER BY name, hour_ms""")),

    // `m_alert_flapping`: alert-hygiene audit — per (series, day),
    // the number of threshold CROSSINGS (state transitions of
    // value ≥ T vs the previous sample). A series that pages on
    // every crossing with ≥20 transitions/day is flapping: it needs
    // hysteresis or a longer window, not more pages. The
    // transition-count-per-window shape is the standard flap
    // detection from network monitoring (BGP route-flap damping
    // lineage).
    GraftQuery("m_alert_flapping", (s, dir) => {
      val m = new Lakehouse(s, dir).measures.select(
        col("name"), col("time_ms"), col("event_id"),
        expr(s"(time_ms div $dayMs) * $dayMs").as("day_ms"),
        (col("value") >= flapThreshold).cast("long").as("state"))
      val w = Window.partitionBy("name", "day_ms").orderBy("time_ms", "event_id")
      m.withColumn("prev", lag("state", 1).over(w))
        .groupBy("name", "day_ms")
        .agg(count(lit(1)).as("n_samples"), sum("state").as("n_high"),
          sum(when(col("prev").isNotNull && col("prev") =!= col("state"), 1L)
            .otherwise(0L)).as("transitions"))
        .withColumn("flapping", (col("transitions") >= flapsPerDay).cast("long"))
        .orderBy("name", "day_ms")
    }, Some(s"""
      WITH m AS (
        SELECT event_type AS name, epoch_ms(ts) AS time_ms, event_id,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms,
          CASE WHEN value >= $flapThreshold THEN 1 ELSE 0 END AS state
        FROM events),
      lagged AS (
        SELECT *, LAG(state) OVER (PARTITION BY name, day_ms
                                   ORDER BY time_ms, event_id) AS prev
        FROM m)
      SELECT name, day_ms, CAST(COUNT(*) AS BIGINT) AS n_samples,
        CAST(SUM(state) AS BIGINT) AS n_high,
        CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> state THEN 1 ELSE 0 END)
             AS BIGINT) AS transitions,
        CAST(CASE WHEN SUM(CASE WHEN prev IS NOT NULL AND prev <> state THEN 1 ELSE 0 END)
                  >= $flapsPerDay THEN 1 ELSE 0 END AS BIGINT) AS flapping
      FROM lagged GROUP BY 1, 2 ORDER BY name, day_ms""")),

    // `m_series_novelty`: metric-fleet growth — each (name,
    // process_id) series credited to its FIRST day of appearance:
    // new-series count, active-series count and cumulative distinct
    // per day. The "cardinality is growing because of what" timeline
    // next to M69's point-in-time cardinality guard.
    GraftQuery("m_series_novelty", (s, dir) => {
      val series = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), epochMs(col("ts")).as("t_ms"))
        .select(col("name"), col("user_id"), expr(s"(t_ms div $dayMs) * $dayMs").as("day_ms"))
      val active = series.groupBy("day_ms")
        .agg(countDistinct(col("name"), col("user_id")).as("n_active_series"))
      val firstSeen = series.groupBy("name", "user_id").agg(min("day_ms").as("day_ms"))
        .groupBy("day_ms").agg(count(lit(1)).as("n_new_series"))
      val w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      active.join(firstSeen, Seq("day_ms"), "left")
        .withColumn("n_new_series", coalesce(col("n_new_series"), lit(0L)))
        .withColumn("cum_series", sum("n_new_series").over(w))
        .select("day_ms", "n_active_series", "n_new_series", "cum_series")
        .orderBy("day_ms")
    }, Some(s"""
      WITH s AS (
        SELECT event_type AS name, user_id,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms
        FROM events),
      active AS (
        SELECT day_ms, CAST(COUNT(DISTINCT (name, user_id)) AS BIGINT) AS n_active_series
        FROM s GROUP BY 1),
      fs AS (
        SELECT day_ms, CAST(COUNT(*) AS BIGINT) AS n_new_series
        FROM (SELECT name, user_id, MIN(day_ms) AS day_ms FROM s GROUP BY 1, 2)
        GROUP BY 1)
      SELECT a.day_ms, a.n_active_series,
        COALESCE(fs.n_new_series, 0) AS n_new_series,
        CAST(SUM(COALESCE(fs.n_new_series, 0)) OVER (ORDER BY a.day_ms
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_series
      FROM active a LEFT JOIN fs USING (day_ms)
      ORDER BY day_ms""")),

    // `m_error_budget`: SLO error-budget burn-down — per day: events,
    // errors, cumulative both, budget used e6 (cum ratio) and
    // remaining e6 against the 25% SLO. The burn-down chart is the
    // monthly-review counterpart of M59's fast/slow burn alert.
    GraftQuery("m_error_budget", (s, dir) => {
      val daily = events(s, dir)
        .select(epochMs(col("ts")).as("t_ms"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .select(expr(s"(t_ms div $dayMs) * $dayMs").as("day_ms"), col("is_err"))
        .groupBy("day_ms")
        .agg(count(lit(1)).as("total"), sum("is_err").as("errors"))
      val w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_total", sum("total").over(w))
        .withColumn("cum_errors", sum("errors").over(w))
        .withColumn("used_e6", expr("cum_errors * 1000000 div cum_total"))
        .withColumn("remaining_e6", lit(sloRatioE6) - col("used_e6"))
        .withColumn("exhausted", (col("remaining_e6") < 0L).cast("long"))
        .select("day_ms", "total", "errors", "cum_total", "cum_errors",
          "used_e6", "remaining_e6", "exhausted")
        .orderBy("day_ms")
    }, Some(s"""
      WITH daily AS (
        SELECT (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms,
          CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        FROM events GROUP BY 1),
      cum AS (
        SELECT *,
          CAST(SUM(total) OVER (ORDER BY day_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_total,
          CAST(SUM(errors) OVER (ORDER BY day_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_errors
        FROM daily)
      SELECT day_ms, total, errors, cum_total, cum_errors,
        cum_errors * 1000000 // cum_total AS used_e6,
        $sloRatioE6 - cum_errors * 1000000 // cum_total AS remaining_e6,
        CAST(CASE WHEN $sloRatioE6 - cum_errors * 1000000 // cum_total < 0
             THEN 1 ELSE 0 END AS BIGINT) AS exhausted
      FROM cum ORDER BY day_ms""")),

    GraftQuery("m_incident_context", (s, dir) => {
      // cross-signal incident correlation — "what else fired around
      // this burst": every error BURST (M70's maximal consecutive
      // error minutes, ≥2 long) annotated with the metric threshold
      // CROSSINGS (M36's upward-crossing alerts) inside the burst's
      // ±5-minute context window. The triage join dashboards do by
      // eye, as one query. Scale shape: bursts are wall-clock-minute
      // bounded (tiny at any volume) and BROADCAST into the range
      // join — the crossing stream never shuffles for it; the
      // burstless-burst rows come back via a keyed left join against
      // the aggregated hits.
      val padMs = 300000L
      val lim = 300.0
      val e = events(s, dir)
      val em = e.where(col("event_type") === "error")
        .select(epochMs(col("ts")).as("t_ms"))
        .select(expr(s"(t_ms div $minuteMs) * $minuteMs").as("minute_ms"))
        .groupBy("minute_ms").agg(count(lit(1)).as("n_errors"))
      val wI = Window.orderBy("minute_ms") // minute grid: bounded input
      val bursts = em.withColumn("island",
          col("minute_ms") - row_number().over(wI).cast("long") * minuteMs)
        .groupBy("island")
        .agg(min("minute_ms").as("burst_start_ms"), max("minute_ms").as("burst_end_ms"),
          count(lit(1)).as("n_minutes"))
        .where(col("n_minutes") >= 2)
        .select("burst_start_ms", "burst_end_ms")
      val wS = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val crossings = e.where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
        .withColumn("prev", lag("value", 1).over(wS))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select("user_id", "t_ms")
      val hits = crossings.join(broadcast(bursts),
          col("t_ms") >= col("burst_start_ms") - padMs &&
            col("t_ms") < col("burst_end_ms") + minuteMs + padMs)
        .groupBy("burst_start_ms", "burst_end_ms")
        .agg(count(lit(1)).as("n_crossings"),
          countDistinct("user_id").as("n_series"),
          min("t_ms").as("first_crossing_ms"))
      bursts.join(hits, Seq("burst_start_ms", "burst_end_ms"), "left")
        .select(col("burst_start_ms"), col("burst_end_ms"),
          coalesce(col("n_crossings"), lit(0L)).as("n_crossings"),
          coalesce(col("n_series"), lit(0L)).as("n_series"),
          coalesce(col("first_crossing_ms"), lit(-1L)).as("first_crossing_ms"))
        .orderBy("burst_start_ms")
    }, Some("""
      WITH em AS (
        SELECT (epoch_ms(ts) // 60000) * 60000 AS minute_ms, COUNT(*) AS n
        FROM events WHERE event_type = 'error' GROUP BY 1),
      isl AS (
        SELECT minute_ms,
          minute_ms - ROW_NUMBER() OVER (ORDER BY minute_ms) * 60000 AS island
        FROM em),
      b AS (
        SELECT MIN(minute_ms) AS burst_start_ms, MAX(minute_ms) AS burst_end_ms,
          COUNT(*) AS n_minutes
        FROM isl GROUP BY island),
      bursts AS (
        SELECT burst_start_ms, burst_end_ms FROM b WHERE n_minutes >= 2),
      x AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase'),
      crossings AS (
        SELECT user_id, t_ms FROM x
        WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0),
      hits AS (
        SELECT burst_start_ms, burst_end_ms,
          CAST(COUNT(*) AS BIGINT) AS n_crossings,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_series,
          MIN(t_ms) AS first_crossing_ms
        FROM crossings JOIN bursts
          ON t_ms >= burst_start_ms - 300000 AND t_ms < burst_end_ms + 60000 + 300000
        GROUP BY 1, 2)
      SELECT b2.burst_start_ms, b2.burst_end_ms,
        COALESCE(n_crossings, 0) AS n_crossings,
        COALESCE(n_series, 0) AS n_series,
        COALESCE(first_crossing_ms, -1) AS first_crossing_ms
      FROM bursts b2 LEFT JOIN hits USING (burst_start_ms, burst_end_ms)
      ORDER BY burst_start_ms""")),

    // `m_log_anomaly_mad`: robust volume-anomaly summary — per event
    // type over the DENSE hour grid (absent hours count 0), the
    // median hourly count and the median absolute deviation (both as
    // integer-exact doubled order statistics), and how many hours
    // deviate ≥ 5×MAD. Median/MAD is the outlier-immune baseline the
    // mean-based M60/M90 family can't provide: one 10⁶-count burst
    // drags every mean baseline but moves a median not at all
    // (Iglewicz–Hoaglin robust-z lineage, threshold 5·MAD).
    GraftQuery("m_log_anomaly_mad", (s, dir) => {
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      // one events scan: grid bounds and the name set both come off the
      // pre-aggregated hourly table, cut once. Baseline math shared
      // with the streaming leg (RobustStream) via operators.Robust.
      val hourly = e.groupBy(col("event_type").as("name"),
          (ms - pmod(ms, lit(3600000L))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val dense = graft.operators.Robust.denseHourly(hourly).localCheckpoint()
      val baseline = graft.operators.Robust.madBaseline(dense)
      dense.join(broadcast(baseline), "name")
        .withColumn("score_e4", expr(graft.operators.Robust.scoreE4Sql))
        .groupBy("name")
        .agg(count(lit(1)).as("n_hours"),
          max("med2").as("med2"), max("mad4").as("mad4"),
          sum(when(col("score_e4") >= 50000, 1L).otherwise(0L)).as("n_anomalous"),
          max("score_e4").as("max_score_e4"))
        .orderBy("name")
    }, Some("""
      WITH h AS (
        SELECT event_type AS name, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT min(hour_ms) AS lo, max(hour_ms) AS hi FROM h),
      grid AS (
        SELECT n.name, CAST(u.g AS BIGINT) AS hour_ms
        FROM (SELECT DISTINCT name FROM h) n
        CROSS JOIN (SELECT unnest(range(lo, hi + 1, 3600000)) AS g FROM bounds) u),
      dense AS (
        SELECT grid.name, grid.hour_ms, COALESCE(h.cnt, 0) AS cnt
        FROM grid LEFT JOIN h ON h.name = grid.name AND h.hour_ms = grid.hour_ms),
      r1 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY cnt, hour_ms) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM dense),
      med AS (
        SELECT name,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN cnt ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN cnt ELSE 0 END) AS BIGINT) AS med2
        FROM r1 GROUP BY 1),
      dev AS (
        SELECT d.name, d.hour_ms, d.cnt, m.med2, abs(d.cnt * 2 - m.med2) AS dev2
        FROM dense d JOIN med m USING (name)),
      r2 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY dev2, hour_ms) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM dev),
      mad AS (
        SELECT name,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN dev2 ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN dev2 ELSE 0 END) AS BIGINT) AS mad4
        FROM r2 GROUP BY 1),
      sc AS (
        SELECT dev.*, mad.mad4,
          dev.dev2 * 2 * 10000 // GREATEST(mad.mad4, 1) AS score_e4
        FROM dev JOIN mad USING (name))
      SELECT name, CAST(count(*) AS BIGINT) AS n_hours,
        max(med2) AS med2, max(mad4) AS mad4,
        CAST(SUM(CASE WHEN score_e4 >= 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        CAST(max(score_e4) AS BIGINT) AS max_score_e4
      FROM sc GROUP BY 1 ORDER BY name"""), headline = true),

    // `m_correlated_bursts`: incident BREADTH — for each hour with
    // error activity, how many distinct processes emitted errors and
    // how concentrated they are (top process share e4). The "one bad
    // host or fleet-wide incident" discriminator M70's global burst
    // runs can't answer: a deploy gone wrong lights up many processes
    // at once (low concentration), a failing disk lights up one
    // (share ≈ 10000). Two keyed partial aggs: events → (process,
    // hour) → hour.
    GraftQuery("m_correlated_bursts", (s, dir) => {
      val ms = epochMs(col("ts"))
      val perProc = events(s, dir).where(col("event_type") === "error")
        .groupBy(col("user_id"),
          (ms - pmod(ms, lit(3600000L))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"))
      perProc.groupBy("hour_ms")
        .agg(sum("cnt").as("n_errors"),
          count(lit(1)).as("n_processes"),
          max("cnt").as("top_cnt"))
        .where(col("n_processes") >= 3)
        .withColumn("top_share_e4", expr("top_cnt * 10000 div n_errors"))
        // fleet-wide: no single process owns even half the errors
        .withColumn("fleet_wide", when(col("top_share_e4") < 5000, 1L).otherwise(0L))
        .select("hour_ms", "n_errors", "n_processes", "top_share_e4", "fleet_wide")
        .orderBy("hour_ms")
    }, Some("""
      WITH pp AS (
        SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      h AS (
        SELECT hour_ms, CAST(SUM(cnt) AS BIGINT) AS n_errors,
          CAST(count(*) AS BIGINT) AS n_processes,
          CAST(max(cnt) AS BIGINT) AS top_cnt
        FROM pp GROUP BY 1)
      SELECT hour_ms, n_errors, n_processes,
        top_cnt * 10000 // n_errors AS top_share_e4,
        CAST(CASE WHEN top_cnt * 10000 // n_errors < 5000 THEN 1 ELSE 0 END AS BIGINT)
          AS fleet_wide
      FROM h WHERE n_processes >= 3
      ORDER BY hour_ms""")),

    // `m_alert_dedup`: notification-grouping accounting over M36's
    // threshold crossings — Alertmanager-style grouping (all crossings
    // of the same alert rule inside one window collapse into ONE
    // page): per day, crossings fired, series involved, and the pages
    // grouping saves. The alert-fatigue measure next to M81's
    // flapping audit: flapping says "this series needs hysteresis",
    // this says "this rule needs grouping, and here is the page
    // volume it would save". One keyed lag window (samples →
    // crossings) + a day-grid partial agg.
    GraftQuery("m_alert_dedup", (s, dir) => {
      val lim = 300.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val crossings = m.withColumn("prev", lag("value", 1).over(w))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select(col("user_id"), col("t_ms"))
      crossings
        .groupBy(expr("t_ms - t_ms % 86400000").as("day_ms"))
        .agg(count(lit(1)).as("n_crossings"),
          countDistinct("user_id").as("n_series"))
        .withColumn("pages_saved", col("n_crossings") - 1)
        .withColumn("saved_e4", expr("(n_crossings - 1) * 10000 div n_crossings"))
        .select("day_ms", "n_crossings", "n_series", "pages_saved", "saved_e4")
        .orderBy("day_ms")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase'),
      cr AS (
        SELECT user_id, t_ms
        FROM m WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0)
      SELECT t_ms - t_ms % 86400000 AS day_ms,
        CAST(count(*) AS BIGINT) AS n_crossings,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_series,
        CAST(count(*) - 1 AS BIGINT) AS pages_saved,
        CAST(count(*) - 1 AS BIGINT) * 10000 // CAST(count(*) AS BIGINT) AS saved_e4
      FROM cr GROUP BY 1 ORDER BY day_ms""")),

    GraftQuery("m_hysteresis_alerts", (s, dir) => {
      // the hysteresis (Schmitt-trigger) alert M81's flapping audit
      // prescribes: fire when the series crosses HI (100), clear only
      // below LO (50) — values oscillating inside the band produce
      // ONE page where the single-threshold rule (M36) pages on every
      // re-cross. State machine as a carry-forward window: tag samples
      // +1 above HI / 0 below LO / null in the band; the state at any
      // sample is the last non-null tag at-or-before it, and an alert
      // is a 0→1 (or first-sample) rising edge. Per series: raw
      // single-threshold crossings vs hysteresis alerts and the pages
      // the band saves. Keyed windows per series only.
      val hi = 100.0
      val lo = 50.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val st = m
        .withColumn("tag",
          when(col("value") > hi, 1L).when(col("value") < lo, 0L).otherwise(lit(null)))
        .withColumn("state", coalesce(
          last("tag", ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          lit(0L)))
        .withColumn("prev_state", coalesce(lag("state", 1).over(w), lit(0L)))
        .withColumn("hyst_fire",
          when(col("state") === 1 && col("prev_state") === 0, 1L).otherwise(0L))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("raw_fire", // first evaluation above HI also pages
          when(col("value") > hi &&
            (col("prev_value").isNull || col("prev_value") <= hi), 1L).otherwise(0L))
      st.groupBy("user_id")
        .agg(sum("raw_fire").as("n_raw_crossings"),
          sum("hyst_fire").as("n_hyst_alerts"))
        .where(col("n_raw_crossings") > 0 || col("n_hyst_alerts") > 0)
        .withColumn("pages_saved", col("n_raw_crossings") - col("n_hyst_alerts"))
        .orderBy("user_id")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value
        FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT *, CASE WHEN value > 100.0 THEN 1
                       WHEN value < 50.0 THEN 0 END AS tag,
          LAG(value) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) AS prev_value
        FROM m),
      st AS (
        SELECT *, COALESCE(last_value(tag IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY t_ms, event_id
            ROWS UNBOUNDED PRECEDING), 0) AS state
        FROM t),
      e AS (
        SELECT *, COALESCE(LAG(state) OVER (
            PARTITION BY user_id ORDER BY t_ms, event_id), 0) AS prev_state
        FROM st)
      SELECT user_id,
        CAST(SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END) AS BIGINT)
          AS n_raw_crossings,
        CAST(SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hyst_alerts,
        CAST(SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END)
           - SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS pages_saved
      FROM e GROUP BY 1
      HAVING SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END) > 0
          OR SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) > 0
      ORDER BY user_id"""))
  )
}
