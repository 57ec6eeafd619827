package graft

import graft.plans.BandJoinNative

/** The band join's pair set against a brute force, with rows placed
  * exactly on and just past the band edges.
  */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  test("matches brute force on randomized inputs, including band edges") {
    val rnd = new scala.util.Random(7)
    val ls = Seq.tabulate(150)(i => (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(1000).toLong))
    // every left time also gets right rows at exactly ±w and ±(w + 1)
    val edges = ls.take(20).zipWithIndex.flatMap { case ((k, _, t), i) =>
      Seq(-101L, -100L, 100L, 101L).zipWithIndex.map { case (d, j) =>
        (k, 2000L + 4 * i + j, t + d) }
    }
    val rs = Seq.tabulate(150)(i => (rnd.nextInt(4).toLong, (500 + i).toLong, rnd.nextInt(1000).toLong)) ++ edges
    val got = BandJoinNative.join(
        ls.toDF("k", "lid", "t"), rs.toDF("k", "rid", "t"),
        Seq("k"), "t", "t", width = 100L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = (for {
      (lk, lid, lt) <- ls
      (rk, rid, rt) <- rs
      if lk == rk && math.abs(lt - rt) <= 100L
    } yield (lid, rid)).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }
}
