package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_chunks must be byte-identical to the composed chunking form
  * it replaced (which the DuckDB oracles still evaluate):
  * `transform(sequence(0, greatest(ceil(size(tokens)/n.0), 1) - 1),
  *   i => array_join(slice(tokens, i*n + 1, n), " "))` over
  * `tokens = split(trim(text), "\\s+")`. Same adversarial-inputs +
  * scalacheck pattern as TokenKernelSpec. n is swept over {1, 2, 3,
  * 20} — 20 is the value l_chunk_dedup / l_paragraph_scrub use, the
  * small ones force multi-chunk splits and ragged tails on short
  * inputs.
  */
class ChunkKernelSpec extends SparkSpec {

  private val edgeInputs = Seq(
    "", " ", "   ", "a", " a ", "a b", "a b c",
    "\ta b", "a b\t", "\ta b\n", "\t", "\t\n\f\r",
    "a\t\tb", "a \t b", "a\r\nb", "a\fb",
    // exact chunk-boundary counts around n = 2, 3, 20
    "a b c d", "a b c d e", ("w " * 19).trim, ("w " * 20).trim, ("w " * 21).trim,
    "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 x16 x17 x18 x19 x20 x21",
    // non-ASCII: multi-byte tokens join byte-exactly
    "a b c d", "a　b c", "日本 語 テキスト だ",
    "café au lait noir", "😀 hi 😀 hi 😀", "éé 日本12ab")

  private def check(inputs: Seq[String], ns: Seq[Int] = Seq(1, 2, 3, 20)): Unit = {
    import spark.implicits._
    ns.foreach { n =>
      val df = inputs.toDF("text").select(col("text"),
        TextAnalysis.wordChunksComposed(col("text"), n).as("want"),
        TextAnalysis.wordChunks(col("text"), n).as("got"))
      val bad = df.where(not(col("want") <=> col("got"))).collect()
      assert(bad.isEmpty,
        s"chunk kernel (n=$n) diverges from composed form on: ${bad.take(5).mkString("; ")}")
    }
  }

  test("chunk kernel: edge cases") {
    check(edgeInputs)
  }

  test("chunk kernel: n near Int.MaxValue yields the whole text as one chunk") {
    // the chunk count must not overflow computing ceil(m / n)
    check(Seq("a b c"), ns = Seq(Int.MaxValue))
    import spark.implicits._
    val got = Seq("a b c").toDF("text")
      .select(TextAnalysis.wordChunks(col("text"), Int.MaxValue)).head().getSeq[String](0)
    assert(got == Seq("a b c"))
  }

  test("property: chunk kernel equals composed form on random strings") {
    val weird = Gen.oneOf(' ', '\u3000', '\u000B', '\f', '\r', '\n',
      '\t', '\u00A0', 'a', 'b', 'Z', '0', '9', '!', '.', '-',
      '\u00E9', '\u65E5')
    val g = Gen.listOf(Gen.frequency(2 -> Gen.alphaNumChar, 3 -> weird))
      .map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(30, g)) {
      (ss: List[String]) => check(ss); true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("null text: identical rows through the explode_outer + guard the queries use") {
    // Raw null contract DIVERGES by design: composed(null) = [null]
    // (greatest(null, 1) skips nulls, slice(null) -> null element)
    // while kernel(null) = null (null-intolerant expression). Both
    // queries consume chunks ONLY via explode_outer + isNotNull guard,
    // where the two forms produce identical rows: [null] explodes to a
    // null chunk (dropped), null explodes_outer to a null row
    // (dropped). Pin that query-level equivalence.
    import spark.implicits._
    val src = Seq[(Long, Option[String])]((1L, None), (2L, Some("a b"))).toDF("doc_id", "text")
    def rows(chunks: org.apache.spark.sql.Column) = src
      .select(col("doc_id"), posexplode_outer(chunks).as(Seq("idx", "chunk")))
      .where(col("chunk").isNotNull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2))
    val want = rows(TextAnalysis.wordChunksComposed(col("text"), 20))
    val got = rows(TextAnalysis.wordChunks(col("text"), 20))
    assert(got.toSeq == want.toSeq, s"guarded explode diverges: got=${got.toSeq} want=${want.toSeq}")
  }
}
