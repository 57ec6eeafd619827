package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_bpe_merge (one-pass greedy merge over a token array) must be
  * row-for-row identical to the relational gaps-and-islands form
  * [[Bpe.applyMergeJoined]] — the core the trained loop and the DuckDB
  * oracle keep evaluating. The tiny vocabulary forces overlapping runs
  * ("a a a a"), the self-pair (w1 == w2) and pairs at array edges —
  * the parity cases where a wrong scan would diverge.
  */
class BpeMergeKernelSpec extends SparkSpec with TmpDirSupport {

  /** The relational form's answer for one doc, via Spark. */
  private def relational(docs: Seq[(Long, Seq[String])], w1: String, w2: String)
      : Map[Long, Seq[String]] = {
    import spark.implicits._
    val tok = docs.toDF("doc_id", "toks")
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
    Bpe.applyMergeJoined(tok.withColumn("tw1", lit(w1)).withColumn("tw2", lit(w2)))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rows) =>
        d -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
  }

  private def kernel(docs: Seq[(Long, Seq[String])], w1: String, w2: String)
      : Map[Long, Seq[String]] = {
    import spark.implicits._
    docs.toDF("doc_id", "toks")
      .select(col("doc_id"), Bpe.mergeTokens(col("toks"), lit(w1), lit(w2)).as("m"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
      .toMap
  }

  private def check(docs: Seq[(Long, Seq[String])], w1: String, w2: String): Unit = {
    val want = relational(docs.filter(_._2.nonEmpty), w1, w2)
    val got = kernel(docs, w1, w2).filter(_._2.nonEmpty)
    // the relational form has no row for an empty token array (nothing
    // to explode); the kernel maps [] -> [] — compare non-empty docs
    assert(got == want, s"bpe merge kernel diverges for ($w1,$w2): got=$got want=$want")
  }

  test("edge cases: runs, self-pairs, edges") {
    val docs = Seq[(Long, Seq[String])](
      1L -> Seq("a", "a", "a"), // odd run of self-pair: merge at 0, survivor tail
      2L -> Seq("a", "a", "a", "a"), // even run: merges at 0 and 2
      3L -> Seq("a", "b", "a", "b", "a"), // alternating: merges at 0 and 2
      4L -> Seq("a", "b"), // exactly the pair
      5L -> Seq("b", "a"), // reversed — no merge
      6L -> Seq("x"), // single token
      7L -> Seq("x", "a", "b", "y", "a", "b"), // pair at middle and end
      8L -> Seq("a", "b", "b", "a", "a", "b"), // mixed adjacency
      9L -> Seq("", "a", "b", ""), // empty-string tokens are real tokens
      10L -> Seq.empty[String])
    check(docs, "a", "b")
    check(docs, "a", "a")
    check(docs, "b", "b")
    check(docs, "", "a") // empty string as a merge side
  }

  test("property: kernel equals relational gaps-and-islands form") {
    val tokG = Gen.oneOf("a", "b", "c")
    val docG = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tokG))
    val corpusG = Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, docG))
    val pairG = for { x <- tokG; y <- tokG } yield (x, y)
    val prop = Prop.forAll(corpusG, pairG) { (docs, pair) =>
      val indexed = docs.zipWithIndex.map { case (t, i) => (i.toLong, t: Seq[String]) }
      check(indexed, pair._1, pair._2)
      true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("l_bpe_merge: a null-text doc has no row; every other row is unchanged") {
    // the oracle's unnest drops a doc without tokens
    val docs = Tables.df(spark, sfDir, "documents")
    val (withNull, without) = (tmpDir("bpe_null"), tmpDir("bpe_nonull"))
    docs.write.parquet(s"$without/documents.parquet")
    val nullId = docs.agg(max("doc_id")).head().getAs[Number](0).longValue + 1
    docs.unionByName(docs.limit(1)
        .withColumn("doc_id", lit(nullId).cast(docs.schema("doc_id").dataType))
        .withColumn("text", lit(null).cast("string")))
      .write.parquet(s"$withNull/documents.parquet")
    val q = SparkEntry.queries("l_bpe_merge")
    val got = q(spark, withNull).collect().toSeq
    assert(!got.exists(_.getAs[Number]("doc_id").longValue == nullId),
      "the null-text doc kept an output row")
    assert(got == q(spark, without).collect().toSeq)
  }
}
