package graft

import graft.plans.AsofJoinNative

/** The as-of join's contract with a tiebreak column, against fixed
  * cases and a brute force: inclusive boundary, carry-forward, a
  * matched row carried whole, and equal-time right rows resolved by
  * `rightTiebreak` (largest backward, smallest forward).
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private val left = Seq(
    (1L, 10L, 100L), // before any right row
    (1L, 11L, 200L), // exactly at a right row (inclusive)
    (1L, 12L, 250L), // between right rows
    (2L, 20L, 500L)  // key with no right rows at all
  ).toDF("k", "lid", "lt")

  private val right = Seq(
    (1L, 91L, 200L, 8.0),
    (1L, 90L, 200L, 7.0), // same time: the larger rid wins backward
    (1L, 92L, 240L, 9.0)
  ).toDF("k", "rid", "rt", "v")

  test("backward as-of: inclusive boundary, carry-forward, null before first") {
    val out = AsofJoinNative.join(left, right, Seq("k"), "lt", "rt", rightTiebreak = Seq("rid"))
      .orderBy("k", "lt")
      .collect()
      .map(r => (r.getAs[Long]("lid"),
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble),
        Option(r.getAs[java.lang.Long]("rid")).map(_.toLong)))
    assert(out(0) === ((10L, None, None)))             // nothing at-or-before t=100
    assert(out(1) === ((11L, Some(8.0), Some(91L))))   // t=200 inclusive, larger rid wins tie
    assert(out(2) === ((12L, Some(9.0), Some(92L))))   // latest at-or-before t=250
    assert(out(3) === ((20L, None, None)))             // key never has right rows
  }

  test("a matched right row with a null field doesn't stitch fields from older rows") {
    val r2 = Seq(
      (1L, 90L, 100L, Some(5.0)),
      (1L, 91L, 200L, Option.empty[Double]) // newer matched row, null value
    ).toDF("k", "rid", "rt", "v")
    val out = AsofJoinNative.join(left.where($"lid" === 12L), r2, Seq("k"), "lt", "rt",
        rightTiebreak = Seq("rid"))
      .head()
    // true match at t=250 is rid=91 whose v is null — v must be null,
    // NOT 5.0 from the older rid=90 row
    assert(out.getAs[java.lang.Long]("rid") === 91L)
    assert(out.getAs[java.lang.Double]("v") === null)
  }

  test("matches a brute-force reference on randomized inputs (incl. null fields, ties)") {
    val rnd = new scala.util.Random(42)
    val leftRows = Seq.tabulate(300)(i =>
      (rnd.nextInt(6).toLong, i.toLong, rnd.nextInt(50).toLong))
    // ids shuffled so sort arrival order can't stand in for the tiebreak
    val rightRows = rnd.shuffle(Seq.tabulate(200)(i =>
      (rnd.nextInt(6).toLong, (1000 + i).toLong, rnd.nextInt(50).toLong,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextDouble()))))
    val l = leftRows.toDF("k", "lid", "lt")
    val r = rightRows.toDF("k", "rid", "rt", "v")
    for (forward <- Seq(false, true)) {
      val got = AsofJoinNative.join(l, r, Seq("k"), "lt", "rt",
          direction = if (forward) "forward" else "backward", rightTiebreak = Seq("rid"))
        .collect()
        .map(row => row.getAs[Long]("lid") ->
          (Option(row.getAs[java.lang.Double]("v")).map(_.toDouble),
            Option(row.getAs[java.lang.Long]("rid")).map(_.toLong)))
        .toMap
      // brute force: per left row, the max-(rt, rid) right row with
      // rt <= lt (backward) or the min-(rt, rid) one with rt >= lt
      leftRows.foreach { case (k, lid, lt) =>
        val cands = rightRows.filter(rr => rr._1 == k && (if (forward) rr._3 >= lt else rr._3 <= lt))
          .sortBy(rr => (rr._3, rr._2))
        val want = if (forward) cands.headOption else cands.lastOption
        assert(got(lid) === ((want.flatMap(_._4), want.map(_._2))),
          s"forward=$forward lid=$lid k=$k lt=$lt")
      }
      assert(got.size === leftRows.size)
    }
  }
}
