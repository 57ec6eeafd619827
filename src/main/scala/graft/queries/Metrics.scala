package graft.queries

import graft.functions.Histograms
import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{round => sparkRound} // Spark's HALF_UP round

/** Metrics and histograms (SURVEY §2 observability): histogram sketches
  * and their quantiles, merges and expansions, metrics derived from spans,
  * heatmaps, downsampling, concurrency and saturation, distribution
  * shift, trends, seasonal baselines and counter resets.
  *
  * Scale shape: downsampling is ONE partial-agg HashAggregate (the
  * first/last election rides min/max over (t, id, value) structs — no
  * window, no second pass); concurrency collapses spans to the minute
  * grid FIRST, so the only ordered window runs over minutes (bounded
  * by wall-clock, not event count); the heatmap is a two-key
  * HashAggregate over hours×~40 buckets; drift works on the
  * templates×days grid (both tiny after the template groupBy).
  *
  * Drill-down and capacity rollups
  * over the round-6 dashboard shapes.
  *
  * Scale shape: exemplars use a per-cell window (cells are
  * hours × ≤40 buckets; rank inside a cell touches only that cell's
  * spans) — no global sort; saturation inherits m_concurrency's
  * minute-grid bound, the peak is a broadcast scalar, and the hour
  * rollup is one HashAggregate over minutes.
  *
  * Distribution-shift testing.
  *
  * Scale shape: spans reduce to (name, period, bucket) counts in one
  * partial-agg pass; the dense grid, CDFs and the max-distance all
  * live on names × 2 × 42 rows. Windows are per (name, period) over
  * ≤42 buckets — never over spans.
  *
  * Scale shape: the trend's rank window is per (name, day) — the
  * same partitioning the span table already carries; everything
  * after the median election lives on names × days rows. The budget
  * is one day-grid partial agg + a cumulative window over days.
  */
object Metrics extends QuerySuite {

  /** Histogram params used across the M5–M9 queries. */
  private val HStart = 0.0

  private val HEnd = 500.0

  private val HBins = 50

  private def histoPerType(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).groupBy("event_type")
      .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
  }

  /** DuckDB-side binned counts including empty bins (clamped floor,
    * identical to the reference accumulator).
    */
  private val oracleBins = s"""
      WITH c AS (
        SELECT event_type,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      et AS (SELECT DISTINCT event_type FROM events),
      b AS (SELECT CAST(range AS BIGINT) AS bin_idx FROM range(0, 50))"""

  // duration histogram: 0..2.5e9 ms in 50 bins (p99 span ≈ 1.0e9 ms,
  // max ≈ 2.44e9 on the sf0.01 corpus)
  private val spanHEnd = 2.5e9

  private val spanBinW = spanHEnd / HBins

  private val binMs = 600000L // 10-minute downsample bins

  private val maxBucket = 41 // duration_ms < 2^41 ≈ 70 years

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_histogram", (s, dir) => {
      histoPerType(s, dir)
        .select(col("event_type"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2"""), headline = true),

    GraftQuery("m_histo_quantile", (s, dir) => {
      val ratios = Seq(0.5, 0.9, 0.99)
      histoPerType(s, dir)
        .select(col("event_type"), explode(array(ratios.map(r =>
          struct(lit(r).as("ratio"),
            round(Histograms.quantileFromHistogram(col("h"), r), 4).as("q"))): _*)).as("x"))
        .select(col("event_type"), col("x.ratio").as("ratio"), col("x.q").as("q"))
        .orderBy("event_type", "ratio")
    }, Some(s"""$oracleBins,
      cum AS (
        SELECT event_type, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT event_type, r.ratio,
          min_by(
            (1.0 - ((total*r.ratio - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*r.ratio - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*r.ratio AND cnt > 0) AS q
        FROM cum, (SELECT unnest([0.5, 0.9, 0.99]) AS ratio) r
        GROUP BY event_type, r.ratio)
      SELECT event_type, ratio, round(COALESCE(q, 500.0), 4) AS q
      FROM est ORDER BY event_type, ratio"""), headline = true),

    GraftQuery("m_histo_timeseries", (s, dir) => {
      // the reference's flagship dashboard shape: p95-over-time from
      // per-hour histogram sketches (one partial-agg pass; at scale the
      // sketches come straight from materialized minute partitions via
      // sum_histograms instead of raw events)
      events(s, dir)
        .groupBy(epochMs(date_trunc("hour", col("ts"))).as("hour_ms"))
        .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
        .select(col("hour_ms"),
          round(Histograms.quantileFromHistogram(col("h"), 0.95), 4).as("p95"),
          Histograms.countFromHistogram(col("h")).as("n"))
        .orderBy("hour_ms")
    }, Some("""
      WITH c AS (
        SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT hour_ms, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY hour_ms ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY hour_ms) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT hour_ms,
          min_by(
            (1.0 - ((total*0.95 - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*0.95 - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*0.95 AND cnt > 0) AS q,
          CAST(any_value(total) AS BIGINT) AS n
        FROM cum GROUP BY hour_ms)
      SELECT hour_ms, round(COALESCE(q, 500.0), 4) AS p95, n
      FROM est ORDER BY hour_ms""")),

    GraftQuery("m_histo_stats", (s, dir) => {
      histoPerType(s, dir)
        .select(col("event_type"),
          Histograms.countFromHistogram(col("h")).as("cnt"),
          round(Histograms.sumFromHistogram(col("h")), 2).as("s"),
          round(Histograms.varianceFromHistogram(col("h")), 2).as("var"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, CAST(count(value) AS BIGINT) AS cnt,
        round(sum(value),2) AS s,
        round(((sum(value*value)/count(value)) - (sum(value)/count(value))*(sum(value)/count(value)))
              * (CAST(count(value) AS DOUBLE)/(count(value)-1)), 2) AS var
      FROM events GROUP BY 1 ORDER BY event_type""")),

    GraftQuery("m_histo_merge", (s, dir) => {
      // build per-minute histograms, then merge with sum_histograms —
      // must equal the direct histogram (merge associativity)
      val perMin = events(s, dir)
        .groupBy(date_trunc("minute", col("ts")).as("minute"), col("event_type"))
        .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
      perMin.groupBy("event_type")
        .agg(Histograms.sumHistograms(col("h")).as("h"))
        .select(col("event_type"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2""")),

    GraftQuery("m_histo_expand", (s, dir) => {
      val h = histoPerType(s, dir)
      Histograms.expand(h, col("h"), Seq(col("event_type")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"),
          round(col("bin_center"), 4).as("bin_center"), col("count"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx,
        round(0.0 + (CAST(b.bin_idx AS DOUBLE) + 0.5) * 10.0, 4) AS bin_center,
        COALESCE(c.cnt, 0) AS count
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2""")),

    GraftQuery("m_rollup_merge", (s, dir) => {
      // minute partitions merged into hour partitions (reference merge.rs
      // shape): second-stage agg over the first-stage aggregate
      val perMinute = events(s, dir)
        .groupBy(epochMs(date_trunc("minute", col("ts"))).as("minute_ms"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("sum_v"))
      perMinute
        .groupBy((col("minute_ms") - pmod(col("minute_ms"), lit(3600000L))).as("hour_ms"), col("event_type"))
        .agg(sum("cnt").as("cnt"))
        .orderBy("hour_ms", "event_type")
    }, Some("""
      SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""")),

    GraftQuery("m_histo_calib", (s, dir) => {
      // sketch-accuracy gate for the histogram family — the
      // calibration discipline l_pq_recall (ANN) and l_minhash_calib
      // (MinHash) already apply, closed over the third sketch: per
      // event type, p95 from the 50-bin histogram vs the EXACT
      // interpolated p95, plus the signed error. Both derivations in
      // ONE partial-agg pass (the sketch UDAF and the exact percentile
      // share a groupBy); at 100 TB the exact column is the audit you
      // run on a sample to size the sketch's bin budget, the sketch is
      // what dashboards serve.
      val h = events(s, dir).groupBy("event_type").agg(
        graft.functions.Histograms.makeHistogram(0.0, 500.0, 50, col("value")).as("h"),
        percentile(col("value"), lit(0.95)).as("p95e"))
      h.select(col("event_type"),
          sparkRound(graft.functions.Histograms.quantileFromHistogram(col("h"), 0.95), 4)
            .as("p95_hist"),
          sparkRound(col("p95e"), 4).as("p95_exact"),
          sparkRound(graft.functions.Histograms.quantileFromHistogram(col("h"), 0.95)
            - col("p95e"), 4).as("err"))
        .orderBy("event_type")
    }, Some("""
      WITH c AS (
        SELECT event_type,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT event_type,
          min_by(
            (1.0 - ((total*0.95 - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*0.95 - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*0.95 AND cnt > 0) AS q
        FROM cum GROUP BY event_type),
      ex AS (
        SELECT event_type, quantile_cont(value, 0.95) AS p95e
        FROM events GROUP BY 1)
      SELECT est.event_type, round(COALESCE(q, 500.0), 4) AS p95_hist,
        round(p95e, 4) AS p95_exact,
        round(COALESCE(q, 500.0) - p95e, 4) AS err
      FROM est JOIN ex USING (event_type)
      ORDER BY event_type""")),

    GraftQuery("m_hll_daily_merge", (s, dir) => {
      // distinct-users-over-any-range from DAILY sketches — the reason
      // mergeable sketches exist in a lakehouse: the daily register
      // table is what a materializer persists per day partition
      // (16 rows per (type, day)); answering a two-week question then
      // touches sketch rows, never raw events. Spark takes the
      // daily-merge route (registers per (type, day) → max-merge over
      // the queried days); the ORACLE builds registers directly over
      // the range — the hash match proves max-merge associativity
      // cross-engine. Exact count joined alongside for honesty, as in
      // q_hll_sketch.
      val from = 1704672000000L // 2024-01-08T00:00Z
      val until = 1705881600000L // 2024-01-22T00:00Z (exclusive)
      val e = events(s, dir)
      val daily = graft.operators.Hll.registers(
        e.withColumn("day_ms", epochMs(date_trunc("day", col("ts")))),
        Seq("event_type", "day_ms"), col("user_id"))
      val merged = daily
        .where(col("day_ms") >= from && col("day_ms") < until)
        .groupBy("event_type", "idx").agg(max("mrho").as("mrho"))
      val sk = graft.operators.Hll.estimate(merged, Seq("event_type"))
      val ex = e.where(epochMs(col("ts")) >= from && epochMs(col("ts")) < until)
        .groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), col("n_reg"), col("n_zero"),
          sparkRound(col("hll_estimate"), 2).as("hll_estimate"), col("exact_users"))
        .orderBy("event_type")
    }, Some("""
      WITH x AS (
        SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM events
        WHERE epoch_ms(ts) >= 1704672000000 AND epoch_ms(ts) < 1705881600000),
      p AS (
        SELECT event_type,
          CAST(('0x' || substr(h, 1, 1)) AS INTEGER) AS idx,
          ltrim(substr(h, 2, 12), '0') AS r
        FROM x),
      rr AS (
        SELECT event_type, idx,
          CASE WHEN length(r) = 0 THEN 49
               ELSE (12 - length(r)) * 4 +
                 CASE WHEN substr(r,1,1) = '1' THEN 3
                      WHEN substr(r,1,1) IN ('2','3') THEN 2
                      WHEN substr(r,1,1) IN ('4','5','6','7') THEN 1
                      ELSE 0 END + 1 END AS rho
        FROM p),
      regs AS (SELECT event_type, idx, max(rho) AS mrho FROM rr GROUP BY 1, 2),
      sk AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_reg,
          CAST(sum(CAST(power(2.0, 49 - mrho) AS BIGINT)) AS BIGINT) +
            (16 - CAST(count(*) AS BIGINT)) * 562949953421312 AS den
        FROM regs GROUP BY 1),
      ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
             FROM events
             WHERE epoch_ms(ts) >= 1704672000000 AND epoch_ms(ts) < 1705881600000
             GROUP BY 1)
      SELECT sk.event_type, n_reg, 16 - n_reg AS n_zero,
        round(CAST(0.673 AS DOUBLE) * CAST(256.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
              / CAST(den AS DOUBLE), 2) AS hll_estimate,
        exact_users
      FROM sk JOIN ex USING (event_type)
      ORDER BY event_type""")),

    // `m_span_metrics`: per-name span-duration histograms — the
    // RED-metrics derivation from the span stream (spanmetrics
    // connector semantics), using the SAME mergeable histogram UDAF
    // as the measures views (M5), dense 50-bin output.
    GraftQuery("m_span_metrics", (s, dir) => {
      spans(s, dir)
        .groupBy("name")
        .agg(Histograms.makeHistogram(0.0, spanHEnd, HBins, col("duration_ms").cast("double")).as("h"))
        .select(col("name"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("name"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("name", "bin_idx")
    }, Some(s"""${oracleSpansCte("")},
      c AS (
        SELECT name,
          LEAST(GREATEST(CAST(FLOOR(duration_ms / $spanBinW) AS BIGINT), 0), ${HBins - 1}) AS bin_idx,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM spans GROUP BY 1, 2),
      nm AS (SELECT DISTINCT name FROM spans),
      bb AS (SELECT CAST(range AS BIGINT) AS bin_idx FROM range(0, $HBins))
      SELECT nm.name, bb.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM nm CROSS JOIN bb
      LEFT JOIN c ON c.name = nm.name AND c.bin_idx = bb.bin_idx
      ORDER BY 1, 2""")),

    // `m_latency_bands`: integer quantile bands per span name from
    // the dense m_span_metrics histogram — the smallest bin whose
    // cumulative count reaches p50/p90/p99 — SLO threshold selection
    // without a single float (the bin index IS the answer at sketch
    // resolution, the same contract as quantile_from_histogram).
    GraftQuery("m_latency_bands", (s, dir) => {
      // integer quantiles at histogram resolution: per name, the
      // smallest bin index whose cumulative span count reaches the
      // percentile. Runs on the binned counts (names × 50 rows), so
      // the scan cost is independent of span volume.
      val binned = spans(s, dir)
        .withColumn("bin_idx",
          least(greatest(floor(col("duration_ms") / spanBinW).cast("long"), lit(0L)), lit(49L)))
        .groupBy("name", "bin_idx").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("name").orderBy("bin_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = binned
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("total", sum("cnt").over(Window.partitionBy("name")))
      cum.groupBy("name")
        .agg(max("total").as("n_spans"),
          min(when(col("cum") * 100 >= col("total") * 50, col("bin_idx"))).as("p50_bin"),
          min(when(col("cum") * 100 >= col("total") * 90, col("bin_idx"))).as("p90_bin"),
          min(when(col("cum") * 100 >= col("total") * 99, col("bin_idx"))).as("p99_bin"))
        .orderBy("name")
    }, Some(s"""${oracleSpansCte("")},
      binned AS (
        SELECT name,
          LEAST(GREATEST(CAST(FLOOR(duration_ms / $spanBinW) AS BIGINT), 0), 49) AS bin_idx,
          COUNT(*) AS cnt
        FROM spans GROUP BY 1, 2),
      cum AS (
        SELECT name, bin_idx, cnt,
          SUM(cnt) OVER (PARTITION BY name ORDER BY bin_idx
                         ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(cnt) OVER (PARTITION BY name) AS total
        FROM binned)
      SELECT name, CAST(MAX(total) AS BIGINT) AS n_spans,
        CAST(MIN(CASE WHEN cum * 100 >= total * 50 THEN bin_idx END) AS BIGINT) AS p50_bin,
        CAST(MIN(CASE WHEN cum * 100 >= total * 90 THEN bin_idx END) AS BIGINT) AS p90_bin,
        CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN bin_idx END) AS BIGINT) AS p99_bin
      FROM cum GROUP BY name ORDER BY name""")),

    // `m_heatmap`: latency heatmap grid — (hour, power-of-two
    // duration bucket) span counts with each hour-column's share e4.
    // The duration-distribution-over-time panel behind every latency
    // SLO discussion.
    GraftQuery("m_heatmap", (s, dir) => {
      // duration bucket = floor(log2(duration_ms)) via binary-digit
      // count (0 → bucket 0); share is each cell's fraction of its
      // hour column, e4 integer
      val sp = spans(s, dir).select(
        expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
        (length(bin(col("duration_ms"))).cast("long") - 1L).as("dur_bucket"))
      val cells = sp.groupBy("hour_ms", "dur_bucket").agg(count(lit(1)).as("n_spans"))
      val hw = Window.partitionBy("hour_ms")
      cells.withColumn("hour_total", sum("n_spans").over(hw))
        .withColumn("share_e4", expr("n_spans * 10000 div hour_total"))
        .select("hour_ms", "dur_bucket", "n_spans", "share_e4")
        .orderBy("hour_ms", "dur_bucket")
    }, Some(s"""${oracleSpansCte("")},
      c AS (
        SELECT (begin_ms // $hourMs) * $hourMs AS hour_ms,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS dur_bucket,
          CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY 1, 2)
      SELECT hour_ms, dur_bucket, n_spans,
        n_spans * 10000 // CAST(SUM(n_spans) OVER (PARTITION BY hour_ms) AS BIGINT) AS share_e4
      FROM c ORDER BY hour_ms, dur_bucket""")),

    // `m_heatmap_exemplars`: per latency-heatmap cell (hour ×
    // power-of-two duration bucket), the top-3 slowest spans with
    // their ids — the heatmap→trace jump link (same contract as
    // OpenMetrics exemplars, M62, but keyed by the M75 grid cell so a
    // click on any cell lands on a concrete trace).
    GraftQuery("m_heatmap_exemplars", (s, dir) => {
      val sp = spans(s, dir).select(
        expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
        (length(bin(col("duration_ms"))).cast("long") - 1L).as("dur_bucket"),
        col("user_id"), col("span_id"), col("duration_ms"))
      val w = Window.partitionBy("hour_ms", "dur_bucket")
        .orderBy(col("duration_ms").desc, col("user_id"), col("span_id"))
      sp.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3L)
        .select("hour_ms", "dur_bucket", "rk", "user_id", "span_id", "duration_ms")
        .orderBy("hour_ms", "dur_bucket", "rk")
    }, Some(s"""${oracleSpansCte("")},
      g AS (
        SELECT (begin_ms // $hourMs) * $hourMs AS hour_ms,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS dur_bucket,
          user_id, span_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY (begin_ms // $hourMs),
                                          length(bin(duration_ms))
                             ORDER BY duration_ms DESC, user_id, span_id) AS rk
        FROM spans)
      SELECT hour_ms, dur_bucket, CAST(rk AS BIGINT) AS rk, user_id, span_id, duration_ms
      FROM g WHERE rk <= 3 ORDER BY hour_ms, dur_bucket, rk""")),

    // `m_downsample`: M4/OHLC measure downsampling — per (series,
    // 10-minute bin): count, min, max, first and last value. The
    // lossless-rendering reduction a dashboard applies before
    // plotting (a pixel column can only show open/close/min/max
    // anyway), and the shape Grafana's M4 paper standardized. Emitted
    // values are untouched input doubles — selection, not arithmetic,
    // so the result is bit-exact cross-engine by construction.
    GraftQuery("m_downsample", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
        .withColumn("bin_ms", expr(s"(t_ms div $binMs) * $binMs"))
      // first/last by (t_ms, event_id) — unique, so the value field of
      // the struct min/max is never consulted and the election is
      // deterministic; struct min/max keeps the whole thing in one
      // HashAggregate with map-side partials
      e.groupBy("event_type", "bin_ms")
        .agg(count(lit(1)).as("n"),
          min("value").as("v_min"),
          max("value").as("v_max"),
          min(struct(col("t_ms"), col("event_id"), col("value"))).as("o"),
          max(struct(col("t_ms"), col("event_id"), col("value"))).as("c"))
        .select(col("event_type"), col("bin_ms"), col("n"),
          col("o.value").as("v_open"), col("c.value").as("v_close"),
          col("v_min"), col("v_max"))
        .orderBy("event_type", "bin_ms")
    }, Some(s"""
      WITH e AS (
        SELECT event_type, epoch_ms(ts) AS t_ms, event_id, value,
          (epoch_ms(ts) // $binMs) * $binMs AS bin_ms
        FROM events),
      w AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY event_type, bin_ms
                             ORDER BY t_ms, event_id) AS rn_a,
          ROW_NUMBER() OVER (PARTITION BY event_type, bin_ms
                             ORDER BY t_ms DESC, event_id DESC) AS rn_d
        FROM e)
      SELECT event_type, bin_ms, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(CASE WHEN rn_a = 1 THEN value END) AS v_open,
        MIN(CASE WHEN rn_d = 1 THEN value END) AS v_close,
        MIN(value) AS v_min, MAX(value) AS v_max
      FROM w GROUP BY 1, 2 ORDER BY event_type, bin_ms"""), headline = true),

    // `m_concurrency`: system-wide in-flight span timeline — per
    // minute, spans opened, spans closed, and the open count at the
    // minute's end (sweep-line +1/−1 prefix sum). The load/capacity
    // view ("how many requests were in flight at 14:32").
    GraftQuery("m_concurrency", (s, dir) => {
      // sweep-line on the minute grid: +1 at the begin minute, −1 at
      // the end minute; open_at_end = prefix sum of net deltas. Events
      // collapse to minutes BEFORE the ordered window, so the window's
      // input is bounded by elapsed wall-clock minutes.
      val sp = spans(s, dir)
      val deltas = sp.select(
          expr(s"(begin_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(1L).as("delta"))
        .unionAll(sp.select(
          expr(s"(end_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(-1L).as("delta")))
      val perMinute = deltas.groupBy("minute_ms")
        .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"),
          sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closed"),
          sum("delta").as("net"))
      val w = Window.orderBy("minute_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perMinute.withColumn("open_at_end", sum("net").over(w))
        .select("minute_ms", "n_opened", "n_closed", "open_at_end")
        .orderBy("minute_ms")
    }, Some(s"""${oracleSpansCte("")},
      sweep AS (
        SELECT (begin_ms // $minuteMs) * $minuteMs AS minute_ms, 1 AS delta FROM spans
        UNION ALL
        SELECT (end_ms // $minuteMs) * $minuteMs AS minute_ms, -1 AS delta FROM spans),
      pm AS (
        SELECT minute_ms,
          CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
          CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
          CAST(SUM(delta) AS BIGINT) AS net
        FROM sweep GROUP BY 1)
      SELECT minute_ms, n_opened, n_closed,
        CAST(SUM(net) OVER (ORDER BY minute_ms ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_at_end
      FROM pm ORDER BY minute_ms"""), headline = true),

    // `m_saturation`: capacity-saturation rollup over the M74
    // concurrency timeline — per hour: observed minutes, minutes at
    // ≥ half the global peak in-flight count, and the hour's peak.
    // The "how close to capacity did we run, and when" summary an
    // SRE reads before the peak itself pages.
    GraftQuery("m_saturation", (s, dir) => {
      val sp = spans(s, dir)
      val deltas = sp.select(
          expr(s"(begin_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(1L).as("delta"))
        .unionAll(sp.select(
          expr(s"(end_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(-1L).as("delta")))
      val w = Window.orderBy("minute_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = deltas.groupBy("minute_ms").agg(sum("delta").as("net"))
        .withColumn("open_at_end", sum("net").over(w))
        .localCheckpoint() // peak + rollup both read the grid
      val peak = grid.agg(max("open_at_end").as("peak"))
      grid.crossJoin(broadcast(peak))
        .withColumn("hour_ms", expr(s"(minute_ms div $hourMs) * $hourMs"))
        .withColumn("saturated", (col("open_at_end") * 2L >= col("peak")).cast("long"))
        .groupBy("hour_ms")
        .agg(count(lit(1)).as("n_minutes"),
          sum("saturated").as("n_saturated"),
          max("open_at_end").as("hour_peak"))
        .orderBy("hour_ms")
    }, Some(s"""${oracleSpansCte("")},
      sweep AS (
        SELECT (begin_ms // $minuteMs) * $minuteMs AS minute_ms, 1 AS delta FROM spans
        UNION ALL
        SELECT (end_ms // $minuteMs) * $minuteMs AS minute_ms, -1 AS delta FROM spans),
      grid AS (
        SELECT minute_ms,
          CAST(SUM(SUM(delta)) OVER (ORDER BY minute_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS open_at_end
        FROM sweep GROUP BY minute_ms),
      pk AS (SELECT CAST(MAX(open_at_end) AS BIGINT) AS peak FROM grid)
      SELECT (minute_ms // $hourMs) * $hourMs AS hour_ms,
        CAST(COUNT(*) AS BIGINT) AS n_minutes,
        CAST(SUM(CASE WHEN open_at_end * 2 >= pk.peak THEN 1 ELSE 0 END) AS BIGINT)
          AS n_saturated,
        CAST(MAX(open_at_end) AS BIGINT) AS hour_peak
      FROM grid CROSS JOIN pk
      GROUP BY 1 ORDER BY hour_ms""")),

    // `m_duration_shift`: per-name span-duration DISTRIBUTION shift
    // across the deploy cutover — the two-sample Kolmogorov–Smirnov
    // statistic at power-of-two sketch resolution: max CDF distance
    // (e4 integer) between the before/after bucket histograms.
    // m_deploy_compare answers "did the median move"; this catches
    // the shifts a median hides (new bimodality, tail growth) — the
    // statistically honest "did the deploy change latency" check.
    GraftQuery("m_duration_shift", (s, dir) => {
      val counts = spans(s, dir).select(col("name"),
          when(col("begin_ms") < cutoverMs, "before").otherwise("after").as("period"),
          (length(bin(col("duration_ms"))).cast("long") - 1L).as("bucket"))
        .groupBy("name", "period", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint() // grid + totals read it twice
      val names = counts.select("name").distinct()
      val buckets = s.range(maxBucket + 1).select(col("id").as("bucket"))
      val periods = s.createDataFrame(Seq(Tuple1("before"), Tuple1("after"))).toDF("period")
      val grid = names.crossJoin(broadcast(buckets)).crossJoin(broadcast(periods))
        .join(counts, Seq("name", "period", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cw = Window.partitionBy("name", "period").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("name", "period")
      val cdf = grid.withColumn("cum", sum("n").over(cw))
        .withColumn("total", sum("n").over(tw))
        .where(col("total") > 0L) // names absent from a period carry no CDF
        .withColumn("cdf_e4", expr("cum * 10000 div total"))
      val wide = cdf.groupBy("name", "bucket")
        .agg(
          sum(when(col("period") === "before", col("cdf_e4"))).as("cdf_before"),
          sum(when(col("period") === "after", col("cdf_e4"))).as("cdf_after"),
          sum(when(col("period") === "before", col("total"))).as("n_before"),
          sum(when(col("period") === "after", col("total"))).as("n_after"))
        .where(col("cdf_before").isNotNull && col("cdf_after").isNotNull)
      wide.groupBy("name")
        .agg(max(abs(col("cdf_before") - col("cdf_after"))).as("ks_e4"),
          max("n_before").as("n_before"), max("n_after").as("n_after"))
        .withColumn("shifted", (col("ks_e4") >= 2000L).cast("long"))
        .select("name", "n_before", "n_after", "ks_e4", "shifted")
        .orderBy("name")
    }, Some(s"""${oracleSpansCte("")},
      c AS (
        SELECT name,
          CASE WHEN begin_ms < $cutoverMs THEN 'before' ELSE 'after' END AS period,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM spans GROUP BY 1, 2, 3),
      grid AS (
        SELECT nm.name, p.period, b.bucket, COALESCE(c.n, 0) AS n
        FROM (SELECT DISTINCT name FROM c) nm
        CROSS JOIN (SELECT unnest(range(0, ${maxBucket + 1})) AS bucket) b
        CROSS JOIN (SELECT unnest(['before', 'after']) AS period) p
        LEFT JOIN c ON c.name = nm.name AND c.period = p.period AND c.bucket = b.bucket),
      cdf AS (
        SELECT *,
          CAST(SUM(n) OVER (PARTITION BY name, period ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) * 10000
            // CAST(SUM(n) OVER (PARTITION BY name, period) AS BIGINT) AS cdf_e4,
          CAST(SUM(n) OVER (PARTITION BY name, period) AS BIGINT) AS total
        FROM grid
        QUALIFY total > 0),
      wide AS (
        SELECT name, bucket,
          SUM(CASE WHEN period = 'before' THEN cdf_e4 END) AS cdf_before,
          SUM(CASE WHEN period = 'after' THEN cdf_e4 END) AS cdf_after,
          SUM(CASE WHEN period = 'before' THEN total END) AS n_before,
          SUM(CASE WHEN period = 'after' THEN total END) AS n_after
        FROM cdf GROUP BY 1, 2
        HAVING cdf_before IS NOT NULL AND cdf_after IS NOT NULL)
      SELECT name,
        CAST(MAX(n_before) AS BIGINT) AS n_before,
        CAST(MAX(n_after) AS BIGINT) AS n_after,
        CAST(MAX(abs(cdf_before - cdf_after)) AS BIGINT) AS ks_e4,
        CAST(CASE WHEN MAX(abs(cdf_before - cdf_after)) >= 2000 THEN 1 ELSE 0 END AS BIGINT)
          AS shifted
      FROM wide GROUP BY 1 ORDER BY name"""), headline = true),

    // `m_latency_trend`: per-name least-squares slope of the DAILY
    // MEDIAN duration — the "is it getting slower" gate that a
    // single-cutover compare (M61) can't answer. Medians ride as
    // exact integer 2·median (sum of the two middle order
    // statistics, the M61 trick); the slope is the closed-form
    // integer rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) emitted as
    // e4 ms/day — every intermediate an exact i64 (day indices are
    // per-name rebased so products stay small).
    GraftQuery("m_latency_trend", (s, dir) => {
      val sp = spans(s, dir).select(col("name"),
        expr(s"begin_ms div $dayMs").as("day"), col("duration_ms"), col("span_id"))
      val w = Window.partitionBy("name", "day").orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("name", "day")))
      val med = ranked.groupBy("name", "day")
        .agg(sum(when(col("rk") === expr("(n + 1) div 2"), col("duration_ms"))
            .otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("duration_ms"))
            .otherwise(0L)).as("hi"))
        .withColumn("med2", col("lo") + col("hi"))
      // rebase day indices per name so the LSQ products stay small
      val rebased = med
        .withColumn("x", col("day") - min("day").over(Window.partitionBy("name")))
      rebased.groupBy("name")
        .agg(count(lit(1)).as("n_days"),
          sum("x").as("sx"), sum("med2").as("sy"),
          sum(expr("x * med2")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .where(col("n_days") >= 2L)
        // med2 = 2·median, so ×5000 yields e4 in true ms/day
        .withColumn("slope_ms_per_day_e4",
          expr("(n_days * sxy - sx * sy) * 5000 div (n_days * sxx - sx * sx)"))
        .withColumn("trend",
          when(col("slope_ms_per_day_e4") > 0L, 1L)
            .when(col("slope_ms_per_day_e4") < 0L, -1L).otherwise(0L))
        .select("name", "n_days", "slope_ms_per_day_e4", "trend")
        .orderBy("name")
    }, Some(s"""${oracleSpansCte("")},
      sp AS (SELECT name, begin_ms // $dayMs AS day, duration_ms, span_id FROM spans),
      ranked AS (
        SELECT name, day, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name, day
                             ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, day) AS n
        FROM sp),
      med AS (
        SELECT name, day,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN duration_ms ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN duration_ms ELSE 0 END) AS BIGINT)
            AS med2
        FROM ranked GROUP BY 1, 2),
      rb AS (
        SELECT name, med2,
          day - MIN(day) OVER (PARTITION BY name) AS x
        FROM med),
      fit AS (
        SELECT name, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(med2) AS BIGINT) AS sy,
          CAST(SUM(x * med2) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM rb GROUP BY 1
        HAVING COUNT(*) >= 2)
      SELECT name, n_days,
        (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx)
          AS slope_ms_per_day_e4,
        CAST(CASE WHEN (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx) > 0
                  THEN 1
                  WHEN (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx) < 0
                  THEN -1 ELSE 0 END AS BIGINT) AS trend
      FROM fit ORDER BY name""")),

    // `m_seasonal_baseline`: hour-of-day seasonal deviation — counts
    // scored against their type's same-hour-of-day mean across days
    // (diurnal-aware, unlike M60's flat daily baseline), exact e4
    // integers, windows keyed per (name, hour-of-day).
    GraftQuery("m_seasonal_baseline", (s, dir) => {
      // hour-of-day seasonal anomaly detection: each (event type, day,
      // hour-of-day) count scored against that type's SAME-hour-of-day
      // mean across all days — the diurnal-pattern-aware deviation M60's
      // flat per-day baseline can't express (9am traffic is not 3am
      // traffic). Exact integers: deviation_e4 = (cnt·nDays − total)·1e4
      // div total ≡ (cnt − mean)/mean without materializing the mean.
      // Shapes: one partial agg to the (name × day × hod) grid, a
      // window keyed per (name, hod) — 24 cells per name per day-count,
      // never global — and the day-count scalar broadcast. Only cells
      // deviating ≥ ±50% from their seasonal norm surface.
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      val cells = e.groupBy(col("event_type").as("name"),
          epochMs(date_trunc("day", col("ts"))).as("day_ms"),
          ((ms % lit(86400000L)) / lit(3600000L)).cast("long").as("hod"))
        .agg(count(lit(1)).as("cnt"))
      val nDays = e.select(
        countDistinct(date_trunc("day", col("ts"))).as("n_days"))
      val w = Window.partitionBy("name", "hod")
      cells.withColumn("hod_total", sum("cnt").over(w))
        .crossJoin(broadcast(nDays))
        .withColumn("deviation_e4",
          expr("(cnt * n_days - hod_total) * 10000 div hod_total"))
        .where(abs(col("deviation_e4")) >= 5000)
        .select("name", "day_ms", "hod", "cnt", "hod_total", "n_days", "deviation_e4")
        .orderBy("name", "day_ms", "hod")
    }, Some("""
      WITH cells AS (
        SELECT event_type AS name,
          epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms,
          (epoch_ms(ts) % 86400000) // 3600000 AS hod,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3),
      nd AS (
        SELECT CAST(count(DISTINCT epoch_ms(ts) - epoch_ms(ts) % 86400000) AS BIGINT)
          AS n_days FROM events),
      t AS (
        SELECT *, SUM(cnt) OVER (PARTITION BY name, hod) AS hod_total
        FROM cells)
      SELECT name, day_ms, CAST(hod AS BIGINT) AS hod, cnt,
        CAST(hod_total AS BIGINT) AS hod_total, n_days,
        CAST((cnt * n_days - hod_total) * 10000 // hod_total AS BIGINT) AS deviation_e4
      FROM t CROSS JOIN nd
      WHERE abs((cnt * n_days - hod_total) * 10000 // hod_total) >= 5000
      ORDER BY name, day_ms, hod""")),

    // `m_rate_resets`: reset-aware counter increase (PromQL
    // increase()/rate() semantics) — a counter dropping below its
    // previous sample restarted, so the step contributes the new value
    // rather than a negative delta. The production form of M21c's
    // naive delta rate, with restart counts as a fleet-health signal.
    GraftQuery("m_rate_resets", (s, dir) => {
      // reset-aware counter increase (PromQL increase()/rate()
      // semantics): a counter that drops below its previous sample has
      // restarted — the step contributes the NEW value (counting from
      // zero), not a negative delta. M21c's naive delta rate goes
      // negative across restarts; this is the production form. Values
      // quantized to e4 integers FIRST so per-series sums are exact
      // integers (raw double sums are fold-order-dependent across
      // engines). Lag window keyed per series; one partial agg after.
      val w = Window.partitionBy("name", "user_id").orderBy("t_ms", "event_id")
      val tMs = epochMs(col("ts"))
      val steps = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), col("event_id"),
          tMs.as("t_ms"), sparkRound(col("value") * 10000.0, 0).cast("long").as("v_e4"))
        .withColumn("prev", lag("v_e4", 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("reset", when(col("v_e4") < col("prev"), 1L).otherwise(0L))
        .withColumn("inc_e4",
          when(col("v_e4") >= col("prev"), col("v_e4") - col("prev"))
            .otherwise(col("v_e4")))
      steps.groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum("reset").as("n_resets"),
          sum("inc_e4").as("increase_e4"))
        .orderBy("name", "user_id")
    }, Some("""
      WITH d AS (
        SELECT event_type AS name, user_id, event_id, epoch_ms(ts) AS t_ms,
          CAST(round(value * 10000.0, 0) AS BIGINT) AS v_e4,
          lag(CAST(round(value * 10000.0, 0) AS BIGINT)) OVER (
            PARTITION BY event_type, user_id
            ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events),
      st AS (
        SELECT name, user_id,
          CASE WHEN v_e4 < prev THEN 1 ELSE 0 END AS reset,
          CASE WHEN v_e4 >= prev THEN v_e4 - prev ELSE v_e4 END AS inc_e4
        FROM d WHERE prev IS NOT NULL)
      SELECT name, user_id, CAST(count(*) AS BIGINT) AS n_steps,
        CAST(SUM(reset) AS BIGINT) AS n_resets,
        CAST(SUM(inc_e4) AS BIGINT) AS increase_e4
      FROM st GROUP BY 1, 2
      ORDER BY name, user_id"""))
  )
}
