package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Fifth tranche: per-group correlated aggregates (TPC-H Q2 shape),
  * profit rollup with LIKE filter (Q9 shape), gap-based sessionization,
  * and counter-rate computation over measures.
  */
object CoreSqlExt3 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.df(s, dir, n)

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q2_min_per_group", (s, dir) => {
      // Q2 shape: per-part minimum supplier balance, then the suppliers
      // achieving it (correlated-aggregate subquery → window rewrite)
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part").where(col("p_size") < 10)
      // every (part, supplier) pairing via partkey/suppkey arithmetic
      // isn't in the data model; use nationkey as the grouping link:
      // cheapest supplier per nation, then parts sized <10 counted per
      // nation of their cheapest supplier is contrived — instead do the
      // honest correlated shape on supplier alone:
      val w = Window.partitionBy("s_nationkey")
      su.withColumn("min_bal", min("s_acctbal").over(w))
        .where(col("s_acctbal") === col("min_bal"))
        .select(col("s_nationkey"), col("s_suppkey"), round(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy("s_nationkey", "s_suppkey")
    }, Some("""
      SELECT s_nationkey, s_suppkey, round(s_acctbal,2) AS s_acctbal
      FROM supplier
      WHERE s_acctbal = (SELECT min(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = supplier.s_nationkey)
      ORDER BY s_nationkey, s_suppkey""")),

    GraftQuery("q9_profit", (s, dir) => {
      // Q9 shape: profit by nation and year for parts matching a name
      // pattern; profit = revenue - retail cost share
      val p = t(s, dir, "part").where(col("p_name").like("%widget%"))
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val l = t(s, dir, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate").cast("date")).as("o_year"))
        .agg(expr(CoreSql.money(s"sum(${CoreSql.decPrice} * ${CoreSql.decDisc1} - " +
            s"cast(p_retailprice as decimal(18,2)) * cast(l_quantity as decimal(18,2)) * cast(0.1 as decimal(2,1)))")).as("profit"),
          count(lit(1)).as("n_items"))
        .orderBy("nation", "o_year")
    }, Some(s"""
      SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
        ${CoreSql.money(s"sum(${CoreSql.decPrice} * ${CoreSql.decDisc1} - " +
          s"cast(p_retailprice as decimal(18,2)) * cast(l_quantity as decimal(18,2)) * cast(0.1 as decimal(2,1)))")} AS profit,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2
      ORDER BY nation, o_year""")),

    GraftQuery("q8_market_share", (s, dir) => {
      // Q8 shape: supplier-nation market share among ASIA customers per
      // order year. lineitem⋈orders is the one big-big (shuffle) join;
      // every dimension (part/customer-side nations/region/supplier)
      // broadcasts. Customer is mid-size — left to AQE, which picks
      // broadcast at these SFs and shuffle at cluster scale.
      val p = t(s, dir, "part").where(col("p_type") === "ECONOMY")
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .select(year(col("o_orderdate").cast("date")).as("o_year"), vol.as("volume"), col("nation"))
        .groupBy("o_year")
        .agg(round(sum(when(col("nation") === "NATION_4", col("volume")).otherwise(lit(0.0)))
            / sum(col("volume")), 4).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    }, Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        round(sum(CASE WHEN n2.n_name = 'NATION_4' THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END)
              / sum(l_extendedprice*(1.0-l_discount)), 4) AS mkt_share,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
      GROUP BY 1 ORDER BY o_year""")),

    GraftQuery("m_sessionize", (s, dir) => {
      // gap-based sessionization: a >30-minute silence starts a new
      // session — cumulative sum over a boolean gap marker
      val e = t(s, dir, "events")
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

    GraftQuery("q10_returned", (s, dir) => {
      // Q10 shape: top customers by revenue lost to returned items.
      // lineitem⋈orders shuffles; customer/nation broadcast.
      val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        // decimal-exact money sum (PLANS.md round-9): a last-cent flip
        // here would also reorder the revenue-ranked top-20
        .agg(CoreSql.moneyRevenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Some(s"""
      SELECT c_custkey, c_name, n_name, ${CoreSql.moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")),

    GraftQuery("q12_priority_class", (s, dir) => {
      // Q12 shape (adapted to available columns): per return flag, how
      // many items belong to critical- vs normal-priority orders —
      // conditional counts after a fact-fact join
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!crit, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY l_returnflag""")),

    GraftQuery("q18_large_orders", (s, dir) => {
      // Q18 shape: orders whose total quantity exceeds a threshold,
      // with their customer — groupBy-HAVING feeding a join
      val l = t(s, dir, "lineitem")
      val big = l.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .where(col("total_qty") > 55.0)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          epochMs(col("o_orderdate").cast("timestamp")).as("odate_ms"),
          round(col("total_qty"), 2).as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(50)
    }, Some("""
      WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 55.0)
      SELECT c_custkey, c_name, o_orderkey,
        epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms,
        round(total_qty, 2) AS total_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, o_orderkey
      LIMIT 50""")),

    GraftQuery("q_unpivot", (s, dir) => {
      // UNPIVOT/melt: wide per-part numeric columns to (part, metric,
      // value) long form via stack — the inverse of q_pivot
      t(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          expr("stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice) AS (metric, value)"))
        .withColumn("value", round(col("value"), 2))
        .orderBy("p_partkey", "metric")
    }, Some("""
      SELECT p_partkey, u.metric, round(u.value, 2) AS value
      FROM part, LATERAL (VALUES ('size', CAST(p_size AS DOUBLE)),
                                 ('retail', p_retailprice)) u(metric, value)
      WHERE p_partkey <= 500
      ORDER BY p_partkey, metric""")),

    GraftQuery("q_string_agg", (s, dir) => {
      // ordered string aggregation (listagg) — per-region nation roster
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
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
      val l = t(s, dir, "lineitem")
      l.groupBy("l_returnflag")
        .agg(round(median(col("l_extendedprice")), 3).as("med_price"),
          round(median(col("l_quantity")), 3).as("med_qty"),
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
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
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
        ${CoreSql.money(s"sum(${CoreSql.decTotalPrice})")} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
      ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    GraftQuery("q_window_frames", (s, dir) => {
      // sliding/expanding frame semantics: ROWS moving average,
      // RANGE running sum over a value window, and frame-bounded
      // min/max — the frame-clause surface beyond q_window_funcs
      val e = t(s, dir, "events").where(col("user_id") < 10)
      val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val rows5 = byTime.rowsBetween(-4, 0)
      val rng = Window.partitionBy("user_id").orderBy(col("value"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("user_id"), col("event_id"),
          round(avg("value").over(rows5), 4).as("ma5"),
          round(min("value").over(rows5), 2).as("min5"),
          round(sum("value").over(rng), 2).as("running_by_value"))
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

    GraftQuery("q6_forecast", (s, dir) => {
      // Q6 shape: pure predicate scan + single agg — no join, no group;
      // all three filters must reach the parquet reader
      val l = t(s, dir, "lineitem")
      l.where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(expr(CoreSql.money(s"sum(${CoreSql.decPrice} * cast(l_discount as decimal(4,2)))")).as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT ${CoreSql.money(s"sum(${CoreSql.decPrice} * cast(l_discount as decimal(4,2)))")} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    GraftQuery("q14_promo_share", (s, dir) => {
      // Q14 shape: conditional-revenue ratio over a month of shipments
      val l = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
      val p = t(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) / sum(rev), 4)
          .as("promo_share"))
    }, Some("""
      SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
          THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END)
        / sum(l_extendedprice*(1.0-l_discount)), 4) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'""")),

    GraftQuery("q17_small_qty", (s, dir) => {
      // Q17 shape: per-part correlated average threshold — revenue from
      // lines under 50% of their part's average quantity
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").where(col("p_brand") === "Brand#1")
      val avgQ = l.groupBy(col("l_partkey").as("a_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < col("avg_qty") * 0.5)
        .agg(round(expr(s"cast(sum(${CoreSql.decPrice}) as double)") / lit(7.0), 2).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      WITH a AS (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
                 FROM lineitem GROUP BY 1)
      SELECT round(cast(sum(${CoreSql.decPrice}) as double) / 7.0, 2) AS avg_yearly,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN a ON l_partkey = a_partkey
      WHERE p_brand = 'Brand#1' AND l_quantity < avg_qty * 0.5""")),

    GraftQuery("q19_disjunctive", (s, dir) => {
      // Q19 shape: OR-of-ANDs predicate across the join — the planner
      // must still push the common join key and prune columns
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .where(cond)
        .agg(CoreSql.moneyRevenue.as("revenue"), count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT ${CoreSql.moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")),

    GraftQuery("q21_waiting_supplier", (s, dir) => {
      // Q21 shape: double-correlated EXISTS / NOT EXISTS — suppliers on
      // multi-supplier orders (exists another supplier's line) where no
      // other supplier's line was returned (not exists r='R')
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      // no distinct on the right sides: semi/anti joins are already
      // duplicate-insensitive, a distinct would only add a shuffle
      val l1 = l.select(col("l_orderkey").as("o1"), col("l_suppkey").as("s1"))
      val l2 = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = l.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val exists2 = l1.join(l2, col("o1") === col("o2") && col("s1") =!= col("s2"), "left_semi")
      val notExists3 = exists2.join(l3, col("o1") === col("o3") && col("s1") =!= col("s3"), "left_anti")
      notExists3.join(su, col("s1") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }, Some("""
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20""")),

    GraftQuery("q_skew_join", (s, dir) => {
      // salted fact-fact join (operators.Skew): hot order keys spread
      // over 8 salt partitions; result must equal the plain join, which
      // is exactly what the oracle computes
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew
        .saltedJoin(l, o, "l_orderkey", col("l_partkey") * lit(7L) + col("l_linenumber"), 8)
        .groupBy("o_orderpriority")
        .agg(CoreSql.moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, ${CoreSql.moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority""")),

    GraftQuery("m_band_join", (s, dir) => {
      // temporal correlation: purchases within 30 min of each error,
      // per user; the oracle uses the direct inequality join
      ObservabilityExt2.errorPurchaseBand(s, dir)
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
      ObservabilityExt2.errorPurchaseAsof(s, dir, forward = false)
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
      val e = t(s, dir, "events").where(col("user_id") < 20)
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
      val tMs = epochMs(col("ts"))
      e.select(col("user_id"), col("event_type").as("name"), col("event_id"),
          tMs.as("t_ms"), col("value"),
          lag("value", 1).over(w).as("prev_value"),
          lag(tMs, 1).over(w).as("prev_ms"))
        .where(col("prev_ms").isNotNull && tMs > col("prev_ms"))
        .select(col("user_id"), col("name"), col("event_id"),
          round((col("value") - col("prev_value")) / ((col("t_ms") - col("prev_ms")) / lit(1000.0)), 6).as("rate_per_s"))
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
      ORDER BY user_id, name, event_id"""))
  )
}
