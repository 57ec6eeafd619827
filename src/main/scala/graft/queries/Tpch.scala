package graft.queries

import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H over the test lake (SURVEY §2 core SQL): the 22 query shapes,
  * adapted to the testdata's tables. `q1_agg` leads the registry: it is
  * the driver's smoke entry.
  *
  * The remaining TPC-H shapes, adapted to the testdata
  * schema (no partsupp / commitdate / receiptdate / phone columns — each
  * query keeps the *structural* essence of its TPC-H counterpart:
  * correlated EXISTS (Q4), scalar-subquery HAVING threshold (Q11),
  * outer-join distribution (Q13), agg-view + scalar max (Q15),
  * NOT IN + count-distinct (Q16), nested correlated share threshold
  * (Q20), anti-join + avg threshold (Q22)).
  *
  * Cross-engine exactness: any value that feeds an equality or threshold
  * COMPARISON is integer-exact (quantities cast to BIGINT, balances to
  * cents) so Spark-vs-DuckDB float summation order can never flip a row
  * in or out of the result. Reference SQL surface:
  * rust/analytics/src/lakehouse/query.rs (full DataFusion SQL).
  */
object Tpch extends QuerySuite {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q1_agg", (s, dir) => {
      val l = table(s, dir, "lineitem")
      l.where(col("l_shipdate").cast("date") <= lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          expr(money(s"sum($decPrice)")).as("sum_base_price"),
          expr(money(s"sum($decPrice * $decDisc1)")).as("sum_disc_price"),
          expr(money(s"sum($decPrice * $decDisc1 * $decTax1)")).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity),2) AS sum_qty,
        ${money(s"sum($decPrice)")} AS sum_base_price,
        ${money(s"sum($decPrice * $decDisc1)")} AS sum_disc_price,
        ${money(s"sum($decPrice * $decDisc1 * $decTax1)")} AS sum_charge,
        round(avg(l_quantity),4) AS avg_qty,
        round(avg(l_extendedprice),4) AS avg_price,
        round(avg(l_discount),4) AS avg_disc,
        CAST(count(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""), headline = true),

    GraftQuery("q2_min_per_group", (s, dir) => {
      // Q2 shape: per-part minimum supplier balance, then the suppliers
      // achieving it (correlated-aggregate subquery → window rewrite)
      val su = table(s, dir, "supplier")
      val p = table(s, dir, "part").where(col("p_size") < 10)
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

    GraftQuery("q3_join_topk", (s, dir) => {
      val c = table(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders").where(col("o_orderdate").cast("date") < lit("1998-03-15"))
      val l = table(s, dir, "lineitem").where(col("l_shipdate").cast("date") > lit("1998-03-15"))
      // Join-then-group, deliberately NOT eager-agged (r13 fourth-decade
      // probe, PLANS.md): pre-summing revenue per l_orderkey below the
      // join forces a full lineitem exchange at EVERY scale — an 11×
      // regression at sf10, where AQE's runtime broadcasts let lineitem
      // ride its scan with zero shuffle. At the decade where c⋈o
      // crosses the broadcast ceiling the plan transitions to a
      // fact-fact exchange whose cost is exchange-volume-bound (SMJ /
      // shuffled-hash / eager-agg all land within 3%), zero spill, all
      // stages wide — the correct cluster shape, parallel across a
      // fleet.
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), epochMs(col("o_orderdate")).as("order_date_ms"), col("o_orderpriority"))
        .agg(moneyRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Some(s"""
      SELECT l_orderkey, epoch_ms(o_orderdate) AS order_date_ms, o_orderpriority,
        $moneyRevenueSql AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
      GROUP BY l_orderkey, epoch_ms(o_orderdate), o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""), headline = true),

    GraftQuery("q4_order_priority", (s, dir) => {
      // Q4 shape: correlated EXISTS → left-semi join, then count by
      // priority. "Late shipment" stands in for commit<receipt.
      val o = table(s, dir, "orders")
        .where(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-04-01")
      val l = table(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")),

    GraftQuery("q5_multi_join", (s, dir) => {
      val r = table(s, dir, "region")
      val n = table(s, dir, "nation")
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
        .where(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
               col("o_orderdate").cast("date") < lit("1997-01-01"))
      val l = table(s, dir, "lineitem")
      val su = table(s, dir, "supplier")
      // dims are tiny: broadcast them; the big join l⋈o shuffles on orderkey once
      broadcast(r).join(broadcast(n), col("r_regionkey") === col("n_regionkey"))
        .join(c, col("n_nationkey") === col("c_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Some(s"""
      SELECT r_name, n_name,
        $moneyRevenueSql AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM region
      JOIN nation ON r_regionkey = n_regionkey
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""), headline = true),

    GraftQuery("q6_forecast", (s, dir) => {
      // Q6 shape: pure predicate scan + single agg — no join, no group;
      // all three filters must reach the parquet reader
      val l = table(s, dir, "lineitem")
      l.where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(expr(money(s"sum(${decPrice} * cast(l_discount as decimal(4,2)))")).as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT ${money(s"sum(${decPrice} * cast(l_discount as decimal(4,2)))")} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    GraftQuery("q7_nation_pairs", (s, dir) => {
      val su = table(s, dir, "supplier")
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n1 = table(s, dir, "nation").select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = table(s, dir, "nation").select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      l.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .where(col("supp_nation") =!= col("cust_nation") &&
          col("supp_nation").isin("NATION_0", "NATION_1", "NATION_2") &&
          col("cust_nation").isin("NATION_0", "NATION_1", "NATION_2"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).as("l_year"))
        .agg(moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, Some(s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        ${moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
        AND n1.n_name IN ('NATION_0','NATION_1','NATION_2')
        AND n2.n_name IN ('NATION_0','NATION_1','NATION_2')
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year""")),

    GraftQuery("q8_market_share", (s, dir) => {
      // Q8 shape: supplier-nation market share among ASIA customers per
      // order year. lineitem⋈orders is the one big-big (shuffle) join;
      // every dimension (part/customer-side nations/region/supplier)
      // broadcasts. Customer is mid-size — left to AQE, which picks
      // broadcast at these SFs and shuffle at cluster scale.
      val p = table(s, dir, "part").where(col("p_type") === "ECONOMY")
      val r = table(s, dir, "region").where(col("r_name") === "ASIA")
      val n1 = table(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = table(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      table(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
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

    GraftQuery("q9_profit", (s, dir) => {
      // Q9 shape: profit by nation and year for parts matching a name
      // pattern; profit = revenue - retail cost share
      val p = table(s, dir, "part").where(col("p_name").like("%widget%"))
      val su = table(s, dir, "supplier")
      val n = table(s, dir, "nation")
      val l = table(s, dir, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate").cast("date")).as("o_year"))
        .agg(expr(money(s"sum(${decPrice} * ${decDisc1} - " +
            s"cast(p_retailprice as decimal(18,2)) * cast(l_quantity as decimal(18,2)) * cast(0.1 as decimal(2,1)))")).as("profit"),
          count(lit(1)).as("n_items"))
        .orderBy("nation", "o_year")
    }, Some(s"""
      SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
        ${money(s"sum(${decPrice} * ${decDisc1} - " +
          s"cast(p_retailprice as decimal(18,2)) * cast(l_quantity as decimal(18,2)) * cast(0.1 as decimal(2,1)))")} AS profit,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2
      ORDER BY nation, o_year""")),

    GraftQuery("q10_returned", (s, dir) => {
      // Q10 shape: top customers by revenue lost to returned items.
      // lineitem⋈orders shuffles; customer/nation broadcast.
      val l = table(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        // decimal-exact money sum (PLANS.md round-9): a last-cent flip
        // here would also reorder the revenue-ranked top-20
        .agg(moneyRevenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Some(s"""
      SELECT c_custkey, c_name, n_name, ${moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")),

    GraftQuery("q11_important_stock", (s, dir) => {
      // Q11 shape: per-key aggregate kept only when it exceeds a
      // fraction of the GLOBAL aggregate over the same filtered input
      // (scalar-subquery HAVING). lineitem⋈supplier stands in for
      // partsupp; quantities are summed as BIGINT so the threshold
      // comparison is integer-exact in both engines.
      val su = table(s, dir, "supplier").where(col("s_nationkey") < 5)
      val flt = table(s, dir, "lineitem")
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"))
      val perPart = flt.groupBy("l_partkey").agg(sum("q").as("qty_value"))
      // scalar subquery = 1-row broadcast cross join (no driver collect).
      // The total is derived from the per-part sums (exact: integer sums
      // compose) so both branches share one groupBy exchange — the fact
      // scan runs once (ReusedExchange), not twice.
      val total = perPart.agg((sum("qty_value") * lit(0.001)).as("threshold"))
      perPart.crossJoin(broadcast(total))
        .where(col("qty_value") > col("threshold"))
        .select(col("l_partkey"), col("qty_value"))
        .orderBy(desc("qty_value"), col("l_partkey"))
    }, Some("""
      WITH flt AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey < 5)
      SELECT l_partkey, CAST(sum(q) AS BIGINT) AS qty_value
      FROM flt GROUP BY l_partkey
      HAVING sum(q) > (SELECT sum(q)*0.001 FROM flt)
      ORDER BY qty_value DESC, l_partkey""")),

    GraftQuery("q12_priority_class", (s, dir) => {
      // Q12 shape (adapted to available columns): per return flag, how
      // many items belong to critical- vs normal-priority orders —
      // conditional counts after a fact-fact join
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
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

    GraftQuery("q13_cust_distribution", (s, dir) => {
      // Q13 shape: LEFT OUTER join (customers with zero matching orders
      // must survive with count 0) → per-customer order count → second
      // aggregation over the counts (distribution histogram).
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }, Some("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) t
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")),

    GraftQuery("q14_promo_share", (s, dir) => {
      // Q14 shape: conditional-revenue ratio over a month of shipments
      val l = table(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
      val p = table(s, dir, "part")
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

    GraftQuery("q15_top_supplier", (s, dir) => {
      // Q15 shape: aggregate view (supplier revenue over a quarter),
      // then the supplier(s) achieving the view's max via a scalar
      // subquery. Integer quantity total keeps the equality exact.
      // explicit isNotNull keeps both branches' scan subtrees identical
      // (the supplier join pushes one into the main branch only), so AQE
      // reuses the groupBy stage — one fact scan instead of two
      val l = table(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1999-01-01" && col("l_shipdate") < "1999-04-01" &&
          col("l_suppkey").isNotNull)
      val rev = l.groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      val top = rev.agg(max("total_qty").as("max_qty"))
      val su = table(s, dir, "supplier")
      rev.crossJoin(broadcast(top))
        .where(col("total_qty") === col("max_qty"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_qty"))
        .orderBy("s_suppkey")
    }, Some("""
      WITH rev AS (
        SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1999-01-01' AND l_shipdate < DATE '1999-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_qty
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_qty = (SELECT max(total_qty) FROM rev)
      ORDER BY s_suppkey""")),

    GraftQuery("q16_parts_suppliers", (s, dir) => {
      // Q16 shape: NOT IN subquery (anti join — s_suppkey is never null
      // so anti ≡ NOT IN) + count(DISTINCT supplier) per part attribute
      // triple. lineitem provides the part↔supplier relation.
      val badSupp = table(s, dir, "supplier").where(col("s_acctbal") < 0).select("s_suppkey")
      val p = table(s, dir, "part")
        .where(col("p_brand") =!= "Brand#13" && col("p_type") =!= "ECONOMY" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25))
      table(s, dir, "lineitem")
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    }, Some("""
      SELECT p_brand, p_type, p_size,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#13' AND p_type <> 'ECONOMY'
        AND p_size IN (1,4,7,10,13,16,19,22,25)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    GraftQuery("q17_small_qty", (s, dir) => {
      // Q17 shape: per-part correlated average threshold — revenue from
      // lines under 50% of their part's average quantity
      val l = table(s, dir, "lineitem")
      val p = table(s, dir, "part").where(col("p_brand") === "Brand#1")
      val avgQ = l.groupBy(col("l_partkey").as("a_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < col("avg_qty") * 0.5)
        .agg(round(expr(s"cast(sum(${decPrice}) as double)") / lit(7.0), 2).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      WITH a AS (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
                 FROM lineitem GROUP BY 1)
      SELECT round(cast(sum(${decPrice}) as double) / 7.0, 2) AS avg_yearly,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN a ON l_partkey = a_partkey
      WHERE p_brand = 'Brand#1' AND l_quantity < avg_qty * 0.5""")),

    GraftQuery("q18_large_orders", (s, dir) => {
      // Q18 shape: orders whose total quantity exceeds a threshold,
      // with their customer — groupBy-HAVING feeding a join
      val l = table(s, dir, "lineitem")
      val big = l.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .where(col("total_qty") > 55.0)
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
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

    GraftQuery("q19_disjunctive", (s, dir) => {
      // Q19 shape: OR-of-ANDs predicate across the join — the planner
      // must still push the common join key and prune columns
      val l = table(s, dir, "lineitem")
      val p = table(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .where(cond)
        .agg(moneyRevenue.as("revenue"), count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT ${moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")),

    GraftQuery("q20_potential_promotion", (s, dir) => {
      // Q20 shape: nested correlated subqueries — suppliers holding a
      // >25% share of any matching part's yearly volume. share test is
      // qty*4 > part_total in exact integers (no 0.25*sum float).
      val p = table(s, dir, "part").where(col("p_name").like("large%")).select("p_partkey")
      val sp = table(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1999-01-01" && col("l_shipdate") < "2000-01-01")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val tot = sp.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum("qty").as("tot_qty"))
      val su = table(s, dir, "supplier")
      sp.join(tot, col("l_partkey") === col("t_partkey"))
        .where(col("qty") * 4 > col("tot_qty"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name")).distinct()
        .orderBy("s_suppkey")
    }, Some("""
      WITH sp AS (
        SELECT l_suppkey, l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'large%'
          AND l_shipdate >= DATE '1999-01-01' AND l_shipdate < DATE '2000-01-01'
        GROUP BY l_suppkey, l_partkey),
      tot AS (SELECT l_partkey AS t_partkey, CAST(sum(qty) AS BIGINT) AS tot_qty
              FROM sp GROUP BY l_partkey)
      SELECT DISTINCT s_suppkey, s_name
      FROM sp JOIN tot ON l_partkey = t_partkey
              JOIN supplier ON s_suppkey = l_suppkey
      WHERE qty * 4 > tot_qty
      ORDER BY s_suppkey""")),

    GraftQuery("q21_waiting_supplier", (s, dir) => {
      // Q21 shape: double-correlated EXISTS / NOT EXISTS — suppliers on
      // multi-supplier orders (exists another supplier's line) where no
      // other supplier's line was returned (not exists r='R')
      val l = table(s, dir, "lineitem")
      val su = table(s, dir, "supplier")
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

    GraftQuery("q22_sales_opportunity", (s, dir) => {
      // Q22 shape: customers above the average positive balance with no
      // recent orders (NOT EXISTS → anti join), grouped by country code
      // (nationkey stands in for the phone prefix). Balances go through
      // integer cents so the avg threshold is bit-identical across
      // engines (sum of BIGINT / count, one double division).
      val cents = round(col("c_acctbal") * 100, 0).cast("long")
      val pos = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("cents"))
      val thr = pos.where(col("cents") > 0)
        .agg((sum("cents").cast("double") / count(lit(1))).as("avg_cents"))
      val recent = table(s, dir, "orders")
        .where(col("o_orderdate") >= "2000-06-01").select("o_custkey")
      pos.crossJoin(broadcast(thr))
        .where(col("cents") > col("avg_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("cents").as("tot_cents"))
        .orderBy("cntrycode")
    }, Some("""
      WITH pos AS (
        SELECT c_custkey, c_nationkey, CAST(round(c_acctbal*100, 0) AS BIGINT) AS cents
        FROM customer)
      SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
        CAST(sum(cents) AS BIGINT) AS tot_cents
      FROM pos
      WHERE cents > (SELECT CAST(sum(cents) AS DOUBLE)/count(*) FROM pos WHERE cents > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-06-01')
      GROUP BY c_nationkey
      ORDER BY cntrycode"""))
  )
}
