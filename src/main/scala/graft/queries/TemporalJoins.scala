package graft.queries

import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temporal joins (SURVEY §2 core SQL): sessionization, as-of joins
  * (backward and forward) and band joins of errors against purchases,
  * and the rate of a measure between samples. One physical operator per
  * semantic: [[graft.plans.AsofJoinNative]] and [[graft.plans.BandJoinNative]].
  */
object TemporalJoins extends QuerySuite {

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
  private def errorPurchaseAsof(s: SparkSession, dir: String,
      forward: Boolean): DataFrame = {
    val (errs, purch) = errorsAndPurchases(s, dir)
    graft.plans.AsofJoinNative.join(errs, purch, Seq("user_id"), "t_ms", "mt_ms",
        direction = if (forward) "forward" else "backward",
        tolerance = if (forward) Some(3600000L) else None,
        rightTiebreak = Seq("m_id"))
      .select(col("user_id"), col("event_id"), col("t_ms"),
        duckRound(col("value"), 2).as(if (forward) "next_purchase" else "last_purchase"),
        col("m_id").as("purchase_id"))
      .orderBy("user_id", "t_ms", "event_id")
  }

  /** Temporal correlation: the purchases within 30 min of each error,
    * per user, on the native sliding-merge band exec (BandJoinNode →
    * BandJoinExec) — never a per-key nested loop. Serves m_band_join
    * and m_band_native.
    */
  private def errorPurchaseBand(s: SparkSession, dir: String): DataFrame = {
    val (errs, purch) = errorsAndPurchases(s, dir)
    graft.plans.BandJoinNative.join(errs, purch, Seq("user_id"), "t_ms", "mt_ms",
        width = 1800000L)
      .select(col("user_id"), col("event_id").as("err_id"), col("m_id").as("pur_id"),
        (col("mt_ms") - col("t_ms")).as("dt_ms"),
        duckRound(col("value"), 2).as("value"))
      .orderBy("user_id", "err_id", "pur_id")
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_sessionize", (s, dir) => {
      // gap-based sessionization: a >30-minute silence starts a new
      // session — cumulative sum over a boolean gap marker
      val e = table(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tMs = epochMs(col("ts"))
      val gap = (tMs - lag(tMs, 1).over(w)) > 1800000L
      val sess = e.select(col("user_id"), col("event_id"), tMs.as("t_ms"),
          when(gap, 1L).otherwise(0L).as("new_sess"))
        .withColumn("session_idx", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("t_ms").as("start_ms"),
          (max("t_ms") - min("t_ms")).as("duration_ms"))
        .orderBy("user_id", "session_idx")
    }, Some("""
      WITH g AS (
        SELECT user_id, event_id, epoch_ms(ts) AS t_ms,
          CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1 ELSE 0 END AS new_sess
        FROM events),
      s AS (
        SELECT user_id, event_id, t_ms,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_ms, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        CAST(count(*) AS BIGINT) AS n_events,
        min(t_ms) AS start_ms,
        max(t_ms) - min(t_ms) AS duration_ms
      FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""")),

    GraftQuery("m_band_join", (s, dir) => {
      // temporal correlation: purchases within 30 min of each error,
      // per user; the oracle uses the direct inequality join
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

    GraftQuery("m_asof_join", (s, dir) => {
      // backward as-of join: for each error event, the latest purchase
      // value at-or-before it for that user; the oracle is DuckDB's
      // union + carry-forward window formulation of ASOF JOIN
      errorPurchaseAsof(s, dir, forward = false)
    }, Some("""
      WITH l AS (
        SELECT user_id, event_id, epoch_ms(ts) AS t, 1 AS side, event_id AS seq,
          CAST(NULL AS STRUCT(v DOUBLE, mid BIGINT)) AS r
        FROM events WHERE event_type = 'error'),
      r AS (
        SELECT user_id, CAST(NULL AS BIGINT) AS event_id, epoch_ms(ts) AS t, 0 AS side,
          event_id AS seq, {'v': value, 'mid': event_id} AS r
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
      c AS (
        SELECT user_id, event_id, t, side,
          last_value(r IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, side, seq
            ROWS UNBOUNDED PRECEDING) AS m
        FROM u)
      SELECT user_id, event_id, t AS t_ms, round(m.v, 2) AS last_purchase, m.mid AS purchase_id
      FROM c WHERE side = 1
      ORDER BY user_id, t_ms, event_id""")),

    GraftQuery("m_measure_rate", (s, dir) => {
      // counter→rate: per-(process, metric) delta over time delta,
      // the metrics-analysis pattern from the reference docs
      val e = table(s, dir, "events").where(col("user_id") < 20)
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
      val tMs = epochMs(col("ts"))
      e.select(col("user_id"), col("event_type").as("name"), col("event_id"),
          tMs.as("t_ms"), col("value"),
          lag("value", 1).over(w).as("prev_value"),
          lag(tMs, 1).over(w).as("prev_ms"))
        .where(col("prev_ms").isNotNull && tMs > col("prev_ms"))
        .select(col("user_id"), col("name"), col("event_id"),
          duckRound((col("value") - col("prev_value")) / ((col("t_ms") - col("prev_ms")) / lit(1000.0)), 6).as("rate_per_s"))
        .orderBy("user_id", "name", "event_id")
    }, Some("""
      WITH d AS (
        SELECT user_id, event_type AS name, event_id, epoch_ms(ts) AS t_ms, value,
          LAG(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_value,
          LAG(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ms
        FROM events WHERE user_id < 20)
      SELECT user_id, name, event_id,
        round((value - prev_value) / ((t_ms - prev_ms) / 1000.0), 6) AS rate_per_s
      FROM d WHERE prev_ms IS NOT NULL AND t_ms > prev_ms
      ORDER BY user_id, name, event_id""")),

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
      ORDER BY e.user_id, err_id, pur_id"""))
  )
}
