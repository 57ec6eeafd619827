package graft

import graft.plans.{BandJoinExec, BandJoinNative}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The native sliding-merge band join must agree with a brute-force
  * reference, also at the Long extremes, and must plan as a single
  * merge (no explode, no post-filter of band edges).
  */
class BandJoinNativeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("emits exactly the in-band pairs, inclusive boundaries") {
    val l = Seq((1L, 10L, 100L), (1L, 11L, 200L), (2L, 20L, 100L)).toDF("k", "lid", "lt")
    val r = Seq((1L, 90L, 50L), (1L, 91L, 150L), (1L, 92L, 251L), (2L, 93L, 100L))
      .toDF("k", "rid", "rt")
    val out = BandJoinNative.join(l, r, Seq("k"), "lt", "rt", width = 50L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // lid 10 (t=100): rids at 50 (gap 50 ✓), 150 (gap 50 ✓)
    // lid 11 (t=200): rid 91 at 150 (gap 50 ✓), rid 92 at 251 (gap 51 ✗)
    // lid 20 (k=2, t=100): rid 93 (gap 0 ✓)
    assert(out === Set((10L, 90L), (10L, 91L), (11L, 91L), (20L, 93L)))
  }

  test("agrees with a brute-force reference on events data") {
    val e = Tables.df(spark, sfDir, "events")
    val errs = e.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
    val purch = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), unix_millis(col("ts")).as("pt"))
    val got = BandJoinNative.join(errs, purch, Seq("user_id"), "t", "pt",
        width = 1800000L)
      .select("event_id", "pid").as[(Long, Long)].collect().toSet
    val es = errs.as[(Long, Long, Long)].collect().toSeq
    val ps = purch.as[(Long, Long, Long)].collect().toSeq
    val want = (for {
      (eu, eid, t) <- es
      (pu, pid, pt) <- ps
      if eu == pu && math.abs(t - pt) <= 1800000L
    } yield (eid, pid)).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("matches brute force on randomized inputs") {
    val rnd = new scala.util.Random(13)
    val lRows = Seq.tabulate(300)(i => (rnd.nextInt(6).toLong, i.toLong, rnd.nextInt(500).toLong))
    val rRows = Seq.tabulate(300)(i => (rnd.nextInt(6).toLong, (1000 + i).toLong, rnd.nextInt(500).toLong))
    val out = BandJoinNative.join(
        lRows.toDF("k", "lid", "lt"), rRows.toDF("k", "rid", "rt"),
        Seq("k"), "lt", "rt", width = 40L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val expected = (for {
      (lk, lid, lt) <- lRows
      (rk, rid, rt) <- rRows
      if lk == rk && math.abs(lt - rt) <= 40L
    } yield (lid, rid)).toSet
    assert(out === expected)
  }

  test("extreme times: band bounds saturate at both Long ends (BigInt brute force)") {
    val (mn, mx) = (Long.MinValue, Long.MaxValue)
    val times = Seq(mn, mn + 1, mn + 30, mn + 60, -20L, 0L, 20L, mx - 60, mx - 30, mx - 1, mx)
    val lRows = times.zipWithIndex.map { case (t, i) => (1L, i.toLong, t) }
    val rRows = times.reverse.zipWithIndex.map { case (t, i) => (1L, 100L + i, t) }
    for (w <- Seq(1L, 50L, mx)) {
      val got = BandJoinNative.join(
          lRows.toDF("k", "lid", "lt"), rRows.toDF("k", "rid", "rt"),
          Seq("k"), "lt", "rt", width = w)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = (for {
        (_, lid, lt) <- lRows
        (_, rid, rt) <- rRows
        if (BigInt(lt) - BigInt(rt)).abs <= BigInt(w)
      } yield (lid, rid)).toSet
      assert(got === want, s"width=$w")
    }
  }

  test("empty sides yield no pairs (inner-join semantics)") {
    val l = Seq((1L, 10L, 100L)).toDF("k", "lid", "lt")
    val r = Seq((1L, 90L, 120L)).toDF("k", "rid", "rt")
    assert(BandJoinNative.join(l, r.where(lit(false)), Seq("k"), "lt", "rt", 50L).count() === 0)
    assert(BandJoinNative.join(l.where(lit(false)), r, Seq("k"), "lt", "rt", 50L).count() === 0)
  }

  test("hot key (90% of rows) stays correct — skew is a latency tail, not a failure") {
    val rnd = new scala.util.Random(17)
    def key(i: Int): Long = if (i % 10 == 0) rnd.nextInt(5).toLong + 10L else 1L
    val lRows = Seq.tabulate(500)(i => (key(i), i.toLong, rnd.nextInt(300).toLong))
    val rRows = Seq.tabulate(500)(i => (key(i), (1000 + i).toLong, rnd.nextInt(300).toLong))
    val out = BandJoinNative.join(
        lRows.toDF("k", "lid", "lt"), rRows.toDF("k", "rid", "rt"),
        Seq("k"), "lt", "rt", width = 25L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val expected = (for {
      (lk, lid, lt) <- lRows; (rk, rid, rt) <- rRows
      if lk == rk && math.abs(lt - rt) <= 25L
    } yield (lid, rid)).toSet
    assert(out === expected)
    assert(out.size > 10000, s"hot key should produce a dense band, got ${out.size}")
  }

  test("plans as a single merge exec over co-partitioned children") {
    val l = Seq((1L, 10L, 100L)).toDF("k", "lid", "lt")
    val r = Seq((1L, 90L, 120L)).toDF("k", "rid", "rt")
    val df = BandJoinNative.join(l, r, Seq("k"), "lt", "rt", width = 50L)
    df.collect()
    val execs = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: BandJoinExec => e
    }
    assert(execs.size === 1)
  }
}
