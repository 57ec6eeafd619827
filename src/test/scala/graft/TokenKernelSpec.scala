package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_tokens / graft_bpeish must be byte-identical to the composed
  * forms they replaced (which the DuckDB oracles still evaluate):
  * `split(trim(text), "\\s+")` and
  * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))`.
  * Same adversarial-inputs + scalacheck pattern as ShingleKernelSpec.
  */
class TokenKernelSpec extends SparkSpec {

  private val edgeInputs = Seq(
    "", " ", "   ", "a", " a ", "a b", "a b c",
    // trim strips 0x20 ONLY; \s+ split keeps ONE leading and ONE
    // trailing empty token (limit -1) — tabs/newlines survive trim
    "\ta b", "a b\t", "\ta b\n", "\t", "\t\n\f\r", "a b",
    "a\t\tb", "a \t b", "a\r\nb", "a\fb",
    // bpeish alternation: letter runs, digit runs, symbols, mixed
    "ab12cd", "12ab34", "a1b2c3", "!?.", "a!b?c", "a-b_c", "3.14",
    "hello,world", "x=y+z", "100%", "a  b!!c",
    // non-ASCII: whitespace lookalikes are NOT \s; every non-ASCII
    // code point is ONE single-char bpeish match
    "a b c d", "a　b c", "日本 語 テキスト だ",
    "café au lait noir", "😀 hi 😀 hi 😀", "éé 日本12ab")

  private def checkBoth(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val df = inputs.toDF("s").select(col("s"),
      TextAnalysis.whitespaceTokensComposed(col("s")).as("tok_want"),
      TextAnalysis.whitespaceTokens(col("s")).as("tok_got"),
      TextAnalysis.bpeishTokenCountComposed(col("s")).as("bp_want"),
      TextAnalysis.bpeishTokenCount(col("s")).as("bp_got"))
    val bad = df.where(not(col("tok_want") <=> col("tok_got")) ||
      not(col("bp_want") <=> col("bp_got"))).collect()
    assert(bad.isEmpty,
      s"token/bpeish kernel diverges from composed form on: ${bad.take(5).mkString("; ")}")
  }

  test("token + bpeish kernels: edge cases") {
    checkBoth(edgeInputs)
  }

  test("property: token + bpeish kernels equal composed forms on random strings") {
    val weird = Gen.oneOf(' ', '\u3000', '\u000B', '\f', '\r', '\n',
      '\t', '\u00A0', '\u2028', 'a', 'b', 'Z', '0', '9', '!', '.', '-',
      '\u00E9', '\u65E5')
    val g = Gen.listOf(Gen.frequency(2 -> Gen.alphaNumChar, 3 -> weird))
      .map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(40, g)) {
      (ss: List[String]) => checkBoth(ss); true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("null propagation matches composed forms") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b")).toDF("s").select(
      TextAnalysis.whitespaceTokens(col("s")).as("tok"),
      TextAnalysis.bpeishTokenCount(col("s")).as("bp"),
      TextAnalysis.whitespaceTokensComposed(col("s")).as("tok_c"),
      TextAnalysis.bpeishTokenCountComposed(col("s")).as("bp_c"))
    val bad = df.where(not(col("tok") <=> col("tok_c")) || not(col("bp") <=> col("bp_c"))).collect()
    assert(bad.isEmpty, s"null contract diverges: ${bad.mkString("; ")}")
  }
}
