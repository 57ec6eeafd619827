package graft.queries

import graft.{GraftQuery, QuerySuite, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL feature coverage (SURVEY §2 core SQL): the DataFusion-SQL parity
  * layer beyond TPC-H — windows and frames, grouping sets, subqueries,
  * set operations, pivots, string/date functions, distinct counting and
  * sketches, percentiles, and join strategies.
  *
  * Additional DataFusion-SQL-parity coverage: multi-dimensional
  * aggregation (rollup/cube), correlated subqueries, string and date
  * function families, conditional aggregation.
  */
object SqlFeatures extends QuerySuite {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q_star_broadcast", (s, dir) => {
      val p = table(s, dir, "part")
      val l = table(s, dir, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          duckRound(sum("l_quantity"), 2).as("sum_qty"),
          duckRound(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        round(sum(l_quantity),2) AS sum_qty,
        round(avg(l_extendedprice),4) AS avg_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    GraftQuery("q_window_funcs", (s, dir) => {
      val e = table(s, dir, "events").where(col("user_id") < 20)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      e.select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).as("rn"),
          rank().over(wv).as("value_rank"),
          duckRound(lag("value", 1).over(w), 2).as("prev_value"),
          duckRound(lead("value", 1).over(w), 2).as("next_value"))
        .orderBy("user_id", "rn")
    }, Some("""
      SELECT user_id, event_id, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
        round(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
        round(LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS next_value
      FROM events WHERE user_id < 20
      ORDER BY user_id, rn""")),

    GraftQuery("q_time_bucket", (s, dir) => {
      val e = table(s, dir, "events")
      e.groupBy(epochMs(date_trunc("hour", col("ts"))).as("bucket_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr(money(s"sum($decValue)")).as("sum_value"),
          duckRound(min("value"), 2).as("min_value"),
          duckRound(max("value"), 2).as("max_value"))
        .orderBy("bucket_ms", "event_type")
    }, Some(s"""
      SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
        CAST(count(*) AS BIGINT) AS n,
        ${money(s"sum($decValue)")} AS sum_value,
        round(min(value),2) AS min_value,
        round(max(value),2) AS max_value
      FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type"""), headline = true),

    GraftQuery("q_topk_per_group", (s, dir) => {
      val e = table(s, dir, "events")
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      e.select(col("event_type"), col("event_id"), col("value"),
          row_number().over(w).as("rk"))
        .where(col("rk") <= 3)
        .orderBy("event_type", "rk")
    }, Some("""
      SELECT event_type, event_id, value, rk FROM (
        SELECT event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
        FROM events) WHERE rk <= 3 ORDER BY event_type, rk""")),

    GraftQuery("q_count_distinct", (s, dir) => {
      val e = table(s, dir, "events")
      e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          expr(money(s"sum($decValue)")).as("sum_value"))
        .orderBy("event_type")
    }, Some(s"""
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(count(*) AS BIGINT) AS n_events, ${money(s"sum($decValue)")} AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),

    GraftQuery("q_approx_distinct", (s, dir) => {
      // engine-specific sketches (HLL++ / approx quantile) — no cross-engine oracle
      val e = table(s, dir, "events")
      e.groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"),
          duckRound(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 1), 2).as("p50_approx"),
          duckRound(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 2), 2).as("p95_approx"))
        .orderBy("event_type")
    }, None),

    GraftQuery("q_semi_anti", (s, dir) => {
      val c = table(s, dir, "customer")
      val ok = table(s, dir, "orders").select("o_custkey")
      val withO = c.join(ok, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
      val without = c.join(ok, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      withO.join(without, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
        .orderBy("c_mktsegment")
    }, Some("""
      WITH ok AS (SELECT DISTINCT o_custkey FROM orders)
      SELECT c_mktsegment,
        CAST(SUM(CASE WHEN ok.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        CAST(SUM(CASE WHEN ok.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
      FROM customer LEFT JOIN ok ON c_custkey = ok.o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    GraftQuery("q_set_ops", (s, dir) => {
      val cn = table(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
      val sn = table(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
      cn.intersect(sn).select(lit("both").as("tag"), col("nk"))
        .unionAll(cn.except(sn).select(lit("cust_only").as("tag"), col("nk")))
        .orderBy("tag", "nk")
    }, Some("""
      WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
           sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
      SELECT 'both' AS tag, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
      UNION ALL
      SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
      ORDER BY tag, nk""")),

    GraftQuery("q_percentiles", (s, dir) => {
      val l = table(s, dir, "lineitem")
      l.agg(
        duckRound(percentile(col("l_extendedprice"), lit(0.25)), 2).as("p25"),
        duckRound(percentile(col("l_extendedprice"), lit(0.5)), 2).as("p50"),
        duckRound(percentile(col("l_extendedprice"), lit(0.9)), 2).as("p90"),
        duckRound(percentile(col("l_extendedprice"), lit(0.99)), 2).as("p99"))
    }, Some("""
      SELECT
        round(quantile_cont(l_extendedprice, 0.25),2) AS p25,
        round(quantile_cont(l_extendedprice, 0.5),2) AS p50,
        round(quantile_cont(l_extendedprice, 0.9),2) AS p90,
        round(quantile_cont(l_extendedprice, 0.99),2) AS p99
      FROM lineitem""")),

    GraftQuery("q_rollup", (s, dir) => {
      table(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), duckRound(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
             COALESCE(l_linestatus, 'ALL') AS l_linestatus,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(l_quantity),2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag, l_linestatus""")),

    GraftQuery("q_exists_subquery", (s, dir) => {
      // customers whose orders include a high-priority one: correlated
      // EXISTS expressed as a semi join (what Catalyst rewrites EXISTS to)
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), duckRound(avg("c_acctbal"), 4).as("avg_bal"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
             round(avg(c_acctbal),4) AS avg_bal
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    GraftQuery("q_scalar_subquery", (s, dir) => {
      // parts priced above the global average — scalar subquery shape
      val p = table(s, dir, "part")
      val avgPrice = p.agg(avg("p_retailprice").as("ap"))
      p.crossJoin(broadcast(avgPrice))
        .where(col("p_retailprice") > col("ap"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_above_avg
      FROM part
      WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
      GROUP BY p_brand ORDER BY p_brand""")),

    GraftQuery("q_string_funcs", (s, dir) => {
      val p = table(s, dir, "part").where(col("p_partkey") < 500)
      p.select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("prefix"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
          when(col("p_name").like("%gre%"), lit("hit")).otherwise(lit("miss")).as("like_gre"),
          trim(lit("  pad  ")).as("trimmed"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, upper(p_name) AS uname, lower(p_brand) AS lbrand,
        CAST(length(p_name) AS BIGINT) AS name_len,
        substring(p_name, 1, 5) AS prefix,
        concat_ws('/', p_brand, p_type) AS brand_type,
        regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
        CASE WHEN p_name LIKE '%gre%' THEN 'hit' ELSE 'miss' END AS like_gre,
        trim('  pad  ') AS trimmed
      FROM part WHERE p_partkey < 500 ORDER BY p_partkey""")),

    GraftQuery("q_date_arith", (s, dir) => {
      val o = table(s, dir, "orders").where(col("o_orderkey") < 2000)
      val d = col("o_orderdate").cast("date")
      o.select(col("o_orderkey"),
          year(d).as("y"), month(d).as("m"), dayofmonth(d).as("d"),
          quarter(d).as("q"), dayofweek(d).as("dow"),
          date_add(d, 30).cast("string").as("plus30"),
          datediff(lit("2000-01-01").cast("date"), d).cast("long").as("days_to_y2k"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS y,
        CAST(month(o_orderdate) AS INTEGER) AS m,
        CAST(day(o_orderdate) AS INTEGER) AS d,
        CAST(quarter(o_orderdate) AS INTEGER) AS q,
        CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
      FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""")),

    GraftQuery("q_conditional_agg", (s, dir) => {
      // rev_bulk is a money sum → decimal-exact (the double fold-order
      // lottery flipped its last cent at the sf10 decade; the shared
      // fragment is valid in both engines' SQL, so the arithmetic
      // cannot drift — PLANS.md round-9)
      val l = table(s, dir, "lineitem")
      l.groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, lit(1)).otherwise(lit(0))).as("n_high_disc"),
          expr(money(
            s"sum(case when l_quantity > 25 then ${decPrice} end)"))
            .as("rev_bulk"),
          count(when(col("l_tax") === 0, lit(1))).as("n_no_tax"))
        .select(col("l_returnflag"), col("n_high_disc"), col("rev_bulk"),
          col("n_no_tax"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
        ${money(s"SUM(CASE WHEN l_quantity > 25 THEN ${decPrice} END)")} AS rev_bulk,
        CAST(COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS BIGINT) AS n_no_tax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    GraftQuery("q_cube", (s, dir) => {
      table(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr(money(s"sum(${decTotalPrice})")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, Some(s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             ${money(s"sum(${decTotalPrice})")} AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus, o_orderpriority""")),

    GraftQuery("q_unpivot", (s, dir) => {
      // UNPIVOT/melt: wide per-part numeric columns to (part, metric,
      // value) long form via stack — the inverse of q_pivot
      table(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          expr("stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice) AS (metric, value)"))
        .withColumn("value", duckRound(col("value"), 2))
        .orderBy("p_partkey", "metric")
    }, Some("""
      SELECT p_partkey, u.metric, round(u.value, 2) AS value
      FROM part, LATERAL (VALUES ('size', CAST(p_size AS DOUBLE)),
                                 ('retail', p_retailprice)) u(metric, value)
      WHERE p_partkey <= 500
      ORDER BY p_partkey, metric""")),

    GraftQuery("q_string_agg", (s, dir) => {
      // ordered string aggregation (listagg) — per-region nation roster
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    }, Some("""
      SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        CAST(count(*) AS BIGINT) AS n
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")),

    GraftQuery("q_median_mode", (s, dir) => {
      // exact median (interpolated) and modal category per return flag
      val l = table(s, dir, "lineitem")
      l.groupBy("l_returnflag")
        .agg(duckRound(median(col("l_extendedprice")), 3).as("med_price"),
          duckRound(median(col("l_quantity")), 3).as("med_qty"),
          mode(col("l_linestatus")).as("mode_status"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        round(median(l_extendedprice), 3) AS med_price,
        round(CAST(median(l_quantity) AS DOUBLE), 3) AS med_qty,
        mode(l_linestatus) AS mode_status
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    GraftQuery("q_pivot", (s, dir) => {
      // PIVOT: per-nation order counts/revenue pivoted by order priority
      // class — Spark's relational pivot; the oracle uses conditional
      // aggregation (the universal PIVOT lowering)
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val cls = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .otherwise("low")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot(cls, Seq("high", "low"))
        .agg(count(lit(1)))
        .select(col("n_name"),
          coalesce(col("high"), lit(0L)).as("high"),
          coalesce(col("low"), lit(0L)).as("low"))
        .orderBy("n_name")
    }, Some("""
      SELECT n_name,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")),

    GraftQuery("q_grouping_sets", (s, dir) => {
      // arbitrary GROUPING SETS (beyond rollup/cube) with grouping_id
      // disambiguating the aggregation level
      val s2 = s
      Tables.df(s2, dir, "orders").createOrReplaceTempView("orders_gs")
      s2.sql("""
        SELECT o_orderstatus, o_orderpriority,
          grouping_id(o_orderstatus, o_orderpriority) AS gid,
          CAST(count(*) AS BIGINT) AS n,
          sum(cast(o_totalprice as decimal(18,2))) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority""")
        // the decimal sum is exact, so rounding it is engine-agnostic;
        // surfaced as double to match the oracle's cast
        .withColumn("total", expr("cast(round(total, 2) as double)"))
    }, Some(s"""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        CAST(count(*) AS BIGINT) AS n,
        ${money(s"sum(${decTotalPrice})")} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
      ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    GraftQuery("q_window_frames", (s, dir) => {
      // sliding/expanding frame semantics: ROWS moving average,
      // RANGE running sum over a value window, and frame-bounded
      // min/max — the frame-clause surface beyond q_window_funcs
      val e = table(s, dir, "events").where(col("user_id") < 10)
      val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val rows5 = byTime.rowsBetween(-4, 0)
      val rng = Window.partitionBy("user_id").orderBy(col("value"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("user_id"), col("event_id"),
          duckRound(avg("value").over(rows5), 4).as("ma5"),
          duckRound(min("value").over(rows5), 2).as("min5"),
          duckRound(sum("value").over(rng), 2).as("running_by_value"))
        .orderBy("user_id", "event_id")
    }, Some("""
      SELECT user_id, event_id,
        round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS ma5,
        round(min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS min5,
        round(sum(value) OVER (PARTITION BY user_id ORDER BY value
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_by_value
      FROM events WHERE user_id < 10
      ORDER BY user_id, event_id""")),

    GraftQuery("q_skew_join", (s, dir) => {
      // salted fact-fact join (operators.Skew): hot order keys spread
      // over 8 salt partitions; result must equal the plain join, which
      // is exactly what the oracle computes
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew
        .saltedJoin(l, o, "l_orderkey", col("l_partkey") * lit(7L) + col("l_linenumber"), 8)
        .groupBy("o_orderpriority")
        .agg(moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, ${moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority""")),

    GraftQuery("q_hll_sketch", (s, dir) => {
      // HyperLogLog from first principles, built to be bit-reproducible
      // across engines: register index = first hex digit of
      // md5(user_id) (m=16), rho = leading-zero count of the next 48
      // bits + 1, derived purely from hex-string ops. The harmonic-mean
      // denominator sum(2^-M_j) is accumulated as the SCALED INTEGER
      // sum(2^(49-M_j)) — dyadic terms summed exactly in a long, so
      // groupBy order can't perturb the FP result (a double sum of
      // mixed-magnitude dyadics rounds order-dependently). No
      // small-range correction: its ln() is implementation-defined
      // bitwise, so the raw estimate + n_zero are emitted and the
      // m=16 choice keeps this corpus (>=150 users per type) out of
      // the correction regime anyway. Scale shape: one keyed groupBy
      // to registers (16 rows per group), one tiny final agg.
      val e = events(s, dir)
      val regs = graft.operators.Hll.registers(e, Seq("event_type"), col("user_id"))
      val sk = graft.operators.Hll.estimate(regs, Seq("event_type"))
      val ex = e.groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), col("n_reg"), col("n_zero"),
          duckRound(col("hll_estimate"), 2).as("hll_estimate"), col("exact_users"))
        .orderBy("event_type")
    }, Some("""
      WITH x AS (
        SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
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
             FROM events GROUP BY 1)
      SELECT sk.event_type, n_reg, 16 - n_reg AS n_zero,
        round(CAST(0.673 AS DOUBLE) * CAST(256.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
              / CAST(den AS DOUBLE), 2) AS hll_estimate,
        exact_users
      FROM sk JOIN ex USING (event_type)
      ORDER BY event_type""")),

    GraftQuery("q_date_bin", (s, dir) => {
      // DataFusion date_bin('15 minutes', time): arbitrary-stride
      // binning via epoch arithmetic (integer ops, engine-exact)
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      e.groupBy((ms - pmod(ms, lit(900000L))).as("bin_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"), duckRound(avg("value"), 4).as("avg_value"))
        .orderBy("bin_ms", "event_type")
    }, Some("""
      SELECT epoch_ms(ts) - epoch_ms(ts) % 900000 AS bin_ms, event_type,
        CAST(count(*) AS BIGINT) AS n, round(avg(value),4) AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY bin_ms, event_type"""))
  )
}
