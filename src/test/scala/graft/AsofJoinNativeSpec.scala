package graft

import graft.plans.{AsofJoinExec, AsofJoinNative, AsofJoinStrategy, BandJoinNative, BandJoinStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The native Catalyst as-of join (LogicalPlan + Strategy + ExecNode)
  * must agree with a brute-force reference, also at the Long extremes,
  * and must plan as a co-partitioned streaming merge.
  */
class AsofJoinNativeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val left = Seq(
    (1L, 10L, 100L),
    (1L, 11L, 200L), // exactly at a right row (inclusive)
    (1L, 12L, 250L),
    (2L, 20L, 500L)  // key with no right rows
  ).toDF("k", "lid", "lt")

  private val right = Seq(
    (1L, 90L, 200L, 7.0),
    (1L, 91L, 200L, 8.0), // same time: later sort position wins
    (1L, 92L, 240L, 9.0)
  ).toDF("k", "rid", "rt", "v")

  test("inclusive boundary, carry-forward, null before first, null for unmatched key") {
    val out = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt")
      .orderBy("lid").collect()
      .map(r => (r.getAs[Long]("lid"),
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble),
        Option(r.getAs[java.lang.Long]("rid")).map(_.toLong)))
    assert(out(0) === ((10L, None, None)))
    assert(out(1) === ((11L, Some(8.0), Some(91L))))
    assert(out(2) === ((12L, Some(9.0), Some(92L))))
    assert(out(3) === ((20L, None, None)))
  }

  test("colliding right column names get the suffix") {
    val r = right.withColumnRenamed("rt", "lt") // collide with left's time
    val out = AsofJoinNative.join(left, r, Seq("k"), "lt", "lt")
    assert(out.columns.toSeq ===
      Seq("k", "lid", "lt", "k_r", "rid", "lt_r", "v"))
    assert(out.where($"lid" === 12L).head().getAs[Long]("rid") === 92L)
  }

  test("agrees with a brute-force reference on events data") {
    val e = Tables.df(spark, sfDir, "events")
    val errs = e.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    val meas = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("m_id"),
        unix_micros(col("ts")).as("mt"), col("value"))
    val got = AsofJoinNative.join(errs, meas, Seq("user_id"), "t", "mt",
        rightTiebreak = Seq("m_id"))
      .select("event_id", "m_id").as[(Long, Option[Long])].collect().toMap
    val ms = meas.select("user_id", "m_id", "mt").as[(Long, Long, Long)].collect().toSeq
    val es = errs.select("user_id", "event_id", "t").as[(Long, Long, Long)].collect().toSeq
    // per error, the max-(mt, m_id) purchase of its user at-or-before it
    val want = es.map { case (u, id, t) =>
      id -> ms.filter(m => m._1 == u && m._3 <= t).maxByOption(m => (m._3, m._2)).map(_._2)
    }.toMap
    assert(got === want)
    assert(want.values.count(_.isDefined) > 0)
  }

  test("matches brute force on randomized inputs (ties, nulls, empty keys)") {
    val rnd = new scala.util.Random(7)
    val lRows = Seq.tabulate(400)(i => (rnd.nextInt(8).toLong, i.toLong, rnd.nextInt(60).toLong))
    val rRows = Seq.tabulate(250)(i => (rnd.nextInt(8).toLong, (1000 + i).toLong, rnd.nextInt(60).toLong))
    val l = lRows.toDF("k", "lid", "lt")
    val r = rRows.toDF("k", "rid", "rt")
    val out = AsofJoinNative.join(l, r, Seq("k"), "lt", "rt")
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    // brute force: any right row holding the max rt <= lt is a valid
    // match — among ties on (key, time) the exec's pick follows sort
    // arrival order, which the operator does not pin
    lRows.foreach { case (k, lid, lt) =>
      val cands = rRows.filter(rr => rr._1 == k && rr._3 <= lt)
      if (cands.isEmpty) assert(out(lid) === None, s"lid=$lid")
      else {
        val bestT = cands.map(_._3).max
        val valid = cands.filter(_._3 == bestT).map(_._2).toSet
        assert(out(lid).exists(valid), s"lid=$lid got ${out(lid)} valid=$valid")
      }
    }
  }

  test("forward direction: earliest right at-or-after, first wins ties") {
    val out = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt",
        direction = "forward")
      .orderBy("lid").collect()
      .map(r => (r.getAs[Long]("lid"), Option(r.getAs[java.lang.Long]("rid")).map(_.toLong)))
    assert(out(0) === ((10L, Some(90L)))) // earliest rt >= 100 is rt=200; FIRST of the tie pair
    assert(out(1) === ((11L, Some(90L)))) // rt=200 >= 200 inclusive
    assert(out(2) === ((12L, None)))      // nothing at-or-after except 240? no: 240 < 250 → none
    assert(out(3) === ((20L, None)))
  }

  test("tolerance bounds the match gap in both directions") {
    val back = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt",
        tolerance = Some(10L))
      .orderBy("lid").collect()
      .map(r => Option(r.getAs[java.lang.Long]("rid")).map(_.toLong))
    // lt=200: gap 0 → match; lt=250: latest rt=240, gap 10 → match;
    // lt=100: no prior row
    assert(back.toSeq === Seq(None, Some(91L), Some(92L), None))
    val backTight = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt",
        tolerance = Some(5L))
      .orderBy("lid").collect()
      .map(r => Option(r.getAs[java.lang.Long]("rid")).map(_.toLong))
    assert(backTight.toSeq === Seq(None, Some(91L), None, None))
    val fwd = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt",
        direction = "forward", tolerance = Some(50L))
      .orderBy("lid").collect()
      .map(r => Option(r.getAs[java.lang.Long]("rid")).map(_.toLong))
    // lt=100: next rt=200, gap 100 > 50 → null; lt=200: gap 0 → 90
    assert(fwd.toSeq === Seq(None, Some(90L), None, None))
  }

  test("forward matches brute force on randomized inputs") {
    val rnd = new scala.util.Random(11)
    val lRows = Seq.tabulate(400)(i => (rnd.nextInt(8).toLong, i.toLong, rnd.nextInt(60).toLong))
    val rRows = Seq.tabulate(250)(i => (rnd.nextInt(8).toLong, (1000 + i).toLong, rnd.nextInt(60).toLong))
    val out = AsofJoinNative.join(lRows.toDF("k", "lid", "lt"), rRows.toDF("k", "rid", "rt"),
        Seq("k"), "lt", "rt", direction = "forward")
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    // forward: any right row holding the min rt >= lt is a valid match
    lRows.foreach { case (k, lid, lt) =>
      val cands = rRows.filter(rr => rr._1 == k && rr._3 >= lt)
      if (cands.isEmpty) assert(out(lid) === None, s"lid=$lid")
      else {
        val bestT = cands.map(_._3).min
        val valid = cands.filter(_._3 == bestT).map(_._2).toSet
        assert(out(lid).exists(valid), s"lid=$lid got ${out(lid)} valid=$valid")
      }
    }
  }

  test("extreme times: the tolerance gap does not wrap (BigInt brute force, both directions)") {
    val (mn, mx) = (Long.MinValue, Long.MaxValue)
    // key 1 is dense; on keys 2-5 the only candidate lies across zero,
    // so the gap exceeds Long.MaxValue
    val lTimes = Seq(1L -> Seq(mn, mn + 1, mn + 50, -5L, 0L, 5L, mx - 50, mx - 1, mx),
      2L -> Seq(mx - 1, mx), 3L -> Seq(mn, mn + 1), 4L -> Seq(mx), 5L -> Seq(mn))
    val rTimes = Seq(1L -> Seq(mn, mn + 2, -10L, 3L, mx - 60, mx - 2, mx),
      2L -> Seq(-10L), 3L -> Seq(5L), 4L -> Seq(mn), 5L -> Seq(mx))
    def rows(ts: Seq[(Long, Seq[Long])], id0: Long) =
      ts.flatMap { case (k, t) => t.map(k -> _) }.zipWithIndex
        .map { case ((k, t), i) => (k, id0 + i, t) }
    val (lRows, rRows) = (rows(lTimes, 0L), rows(rTimes, 100L))
    val (l, r) = (lRows.toDF("k", "lid", "lt"), rRows.toDF("k", "rid", "rt"))
    for (forward <- Seq(false, true); tol <- Seq(0L, 1L, 100L, mx)) {
      val got = AsofJoinNative.join(l, r, Seq("k"), "lt", "rt",
          direction = if (forward) "forward" else "backward", tolerance = Some(tol))
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      val want = lRows.map { case (k, lid, lt) =>
        val cands = rRows.filter(rr => rr._1 == k && (if (forward) rr._3 >= lt else rr._3 <= lt))
        val best = if (forward) cands.minByOption(_._3) else cands.maxByOption(_._3)
        lid -> best.filter(rr => (BigInt(rr._3) - BigInt(lt)).abs <= BigInt(tol)).map(_._2)
      }.toMap
      assert(got === want, s"forward=$forward tolerance=$tol")
    }
  }

  test("empty right side yields all-null matches; empty left yields no rows") {
    val emptyR = right.where(lit(false))
    val out = AsofJoinNative.join(left, emptyR, Seq("k"), "lt", "rt")
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out === Map(10L -> None, 11L -> None, 12L -> None, 20L -> None))
    val emptyL = left.where(lit(false))
    assert(AsofJoinNative.join(emptyL, right, Seq("k"), "lt", "rt").count() === 0)
  }

  test("composite keys partition and match on all key columns") {
    val l = Seq((1L, "a", 10L, 100L), (1L, "b", 11L, 100L), (2L, "a", 12L, 100L))
      .toDF("k1", "k2", "lid", "lt")
    val r = Seq((1L, "a", 90L, 50L), (1L, "b", 91L, 60L), (2L, "b", 92L, 40L))
      .toDF("k1", "k2", "rid", "rt")
    val out = AsofJoinNative.join(l, r, Seq("k1", "k2"), "lt", "rt")
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out === Map(10L -> Some(90L), 11L -> Some(91L), 12L -> None))
  }

  test("SQLMetrics count emitted and matched rows exactly") {
    val df = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt")
    df.collect()
    val exec = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: AsofJoinExec => e
    }.head
    // 4 left rows always emit; 2 of them (lid 11, 12) have a match
    assert(exec.metrics("numOutputRows").value === 4L)
    assert(exec.metrics("numMatched").value === 2L)
  }

  test("plans as a streaming merge over co-partitioned sorted children") {
    val df = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = collectWithSubqueries(plan) { case e: AsofJoinExec => e }
    assert(execs.size === 1, s"expected AsofJoinExec in:\n$plan")
    val shuffles = collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size === 2, "both children hash-partitioned by key")
    // output ordering is declared, so a downstream per-key sort is free
    assert(execs.head.outputOrdering.nonEmpty)
  }

  test("a temporal join plans with each native strategy once: GraftExtensions is its only installer") {
    AsofJoinNative.join(left, right, Seq("k"), "lt", "rt").collect()
    BandJoinNative.join(left, right, Seq("k"), "lt", "rt", width = 50L).collect()
    val strategies = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies
    assert(strategies.count(_ == AsofJoinStrategy) === 1)
    assert(strategies.count(_ == BandJoinStrategy) === 1)
  }
}
