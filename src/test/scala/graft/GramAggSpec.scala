package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** graft_gram_upper must produce exactly the cells the composed
  * double-posexplode + groupBy(i, j) + sum form produces — the
  * l_gram_matrix rewrite (r15) swaps the plan, never the numbers;
  * the DuckDB oracle still evaluates the composed form.
  */
class GramAggSpec extends SparkSpec {

  private def composed(df: org.apache.spark.sql.DataFrame) =
    df.select(col("qv"), posexplode_outer(col("qv")).as(Seq("i", "vi")))
      .where(col("vi").isNotNull)
      .select(col("i"), col("vi"), posexplode_outer(col("qv")).as(Seq("j", "vj")))
      .where(col("vj").isNotNull && col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(sum(col("vi") * col("vj")).as("g"))

  private def kernel(df: org.apache.spark.sql.DataFrame) =
    df.agg(call_function("graft_gram_upper", col("qv")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))

  private def check(rows: Seq[Seq[Long]], parts: Int): Unit = {
    import spark.implicits._
    val df = rows.toDF("qv").repartition(parts)
    val want = composed(df).orderBy("i", "j").collect().toSeq
    val got = kernel(df).orderBy("i", "j").collect().toSeq
    assert(got == want, s"gram kernel diverges (dims=${rows.head.size}, parts=$parts): " +
      s"got ${got.take(3)} want ${want.take(3)}")
  }

  test("gram aggregate equals the composed double-explode form") {
    check(Seq(Seq(1L, 2L, 3L), Seq(-4L, 5L, 0L), Seq(7L, -8L, 9L)), 2)
    check(Seq(Seq(1000L, -1000L), Seq(999L, 998L)), 1)
    check(Seq(Seq(5L)), 3) // 1-dim, more partitions than rows
  }

  test("property: random vectors, random partitioning") {
    val gen = for {
      dims <- Gen.choose(1, 16)
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, Gen.listOfN(dims, Gen.choose(-1000L, 1000L)))
      parts <- Gen.choose(1, 8)
    } yield (rows.map(_.toSeq), parts)
    val samples = Iterator.continually(gen.sample).flatten.take(8).toList
    samples.foreach { case (rows, parts) => check(rows, parts) }
  }

  test("empty input yields zero cells, like the composed form") {
    import spark.implicits._
    val df = Seq.empty[Seq[Long]].toDF("qv")
    assert(kernel(df).count() == 0L)
    assert(composed(df).count() == 0L)
  }

  test("null elements are skipped like the guarded composed form (ADVICE r15)") {
    // each position non-null in at least one vector, so the composed
    // form emits every (i, j) group and the two agree exactly; the
    // one deliberate residual divergence (a position null in EVERY
    // vector: no group vs a g=0 cell) is documented at GramBuffer.add
    import spark.implicits._
    val rows: Seq[Seq[java.lang.Long]] = Seq(
      Seq[java.lang.Long](1L, null, 3L),
      Seq[java.lang.Long](null, 5L, -2L),
      Seq[java.lang.Long](4L, 6L, null))
    val df = rows.toDF("qv").repartition(2)
    val want = composed(df).orderBy("i", "j").collect().toSeq
    val got = kernel(df).orderBy("i", "j").collect().toSeq
    assert(got == want, s"null-element handling diverges: got $got want $want")
  }
}
