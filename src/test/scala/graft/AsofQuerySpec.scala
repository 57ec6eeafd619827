package graft

import org.apache.spark.sql.functions._

/** The three as-of queries against a brute force on an events
  * lake shaped like a GenLake replica: every id shifted by
  * `GenLake.Off` (10^7), plus one user whose rows sit on the cases an
  * id folded into time would get wrong — a purchase 5 ms before an
  * error, equal-time purchases, and the forward tolerance edge — and
  * a null-user error between two null-user purchases, which no as-of
  * query may pair (the user is an equi-key).
  */
class AsofQuerySpec extends SparkSpec with TmpDirSupport {
  import spark.implicits._

  private lazy val shifted = Tables.df(spark, sfDir, "events")
    .withColumn("event_id", col("event_id") + GenLake.Off)
  private lazy val user = shifted.agg(max("user_id")).head().getLong(0) + 1

  private lazy val lake: String = {
    val t0 = 1700000000000L
    val crafted = Seq(
      // (id offset, event type, ms after t0, user)
      (1L, "purchase", -5L, Some(user)),       // 5 ms before the error at t0
      (100L, "error", 0L, Some(user)),
      (3L, "purchase", 2000L, Some(user)),     // equal-time pair: 3 wins backward,
      (2L, "purchase", 2000L, Some(user)),     //   2 wins forward
      (101L, "error", 2000L, Some(user)),
      (102L, "error", 9999L, Some(user)),      // next purchase 1 ms past the hour
      (103L, "error", 10000L, Some(user)),     // next purchase exactly an hour on
      (4L, "purchase", 3610000L, Some(user)),
      (5L, "purchase", 19000L, None),          // null user, 1 s either side
      (200L, "error", 20000L, None),
      (6L, "purchase", 21000L, None))
    val rows = crafted.map { case (id, ty, dt, u) =>
      shifted.limit(1)
        .withColumn("event_id", lit(GenLake.Off + id))
        .withColumn("user_id", u.fold(lit(null))(lit(_)).cast("long"))
        .withColumn("event_type", lit(ty))
        .withColumn("ts", timestamp_millis(lit(t0 + dt)))
        .withColumn("value", lit(id.toDouble))
    }
    val dir = tmpDir("asof_lake")
    rows.foldLeft(shifted)(_ unionByName _).write.parquet(s"$dir/events.parquet")
    dir
  }

  // (user_id, event_id, t_ms) of errors and (user_id, m_id, mt_ms) of purchases
  private lazy val (errs, purch) = {
    val e = Tables.df(spark, lake, "events")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"), col("event_type"))
    def side(ty: String) = e.where(col("event_type") === ty)
      .select("user_id", "event_id", "t").as[(Option[Long], Long, Long)].collect().toSeq
    (side("error"), side("purchase"))
  }

  private def asofWant(forward: Boolean): Seq[(Option[Long], Long, Long, Option[Long])] =
    errs.map { case (u, id, t) =>
      val cands = purch.filter(p => u.isDefined && p._1 == u &&
        (if (forward) p._3 >= t && p._3 - t <= 3600000L else p._3 <= t))
      val pick =
        if (forward) cands.minByOption(p => (p._3, p._2))
        else cands.maxByOption(p => (p._3, p._2))
      (u, id, t, pick.map(_._2))
    }.sortBy(r => (r._1, r._3, r._2))

  private def asofGot(query: String): Seq[(Option[Long], Long, Long, Option[Long])] =
    SparkEntry.queries(query)(spark, lake)
      .select("user_id", "event_id", "t_ms", "purchase_id")
      .as[(Option[Long], Long, Long, Option[Long])].collect().toSeq

  test("m_asof_join, m_asof_native and m_asof_forward match a brute force on shifted ids") {
    val back = asofWant(forward = false)
    val fwd = asofWant(forward = true)
    val off = GenLake.Off
    // the crafted user's picks, spelled out
    val crafted = (r: Seq[(Option[Long], Long, Long, Option[Long])]) =>
      r.filter(_._1.contains(user)).map(x => x._2 - off -> x._4.map(_ - off))
    assert(crafted(back) === Seq(100L -> Some(1L), 101L -> Some(3L), 102L -> Some(3L),
      103L -> Some(3L)))
    assert(crafted(fwd) === Seq(100L -> Some(2L), 101L -> Some(2L), 102L -> None,
      103L -> Some(4L)))
    assert(asofGot("m_asof_join") === back)
    assert(asofGot("m_asof_native") === back)
    assert(asofGot("m_asof_forward") === fwd)
  }

  test("a null-user error stays unmatched in all three as-of queries") {
    val off = GenLake.Off
    assert(errs.filter(_._1.isEmpty).map(_._2 - off) === Seq(200L))
    assert(purch.filter(_._1.isEmpty).map(_._2 - off).sorted === Seq(5L, 6L))
    Seq("m_asof_join", "m_asof_native", "m_asof_forward").foreach { q =>
      assert(asofGot(q).filter(_._1.isEmpty).map(r => (r._2 - off, r._4)) === Seq((200L, None)), q)
    }
  }
}
