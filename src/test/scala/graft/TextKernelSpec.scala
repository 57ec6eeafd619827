package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_normalize must be byte-identical to the two-regex normalizer
  * it replaced (which the DuckDB oracle still evaluates) — on every
  * input, including the Unicode edge cases a byte-level scan could
  * plausibly get wrong.
  */
class TextKernelSpec extends SparkSpec {

  private def regexForm = trim(regexp_replace(
    regexp_replace(lower(col("s")), "[^a-z0-9\\s]", ""), "\\s+", " "))

  private def check(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val df = inputs.toDF("s")
      .select(col("s"), regexForm.as("want"),
        call_function("graft_normalize", col("s")).as("got"))
    val bad = df.where(not(col("want") <=> col("got"))).collect()
    assert(bad.isEmpty, s"kernel diverges from regex form on: ${bad.take(5).mkString("; ")}")
  }

  test("edge cases: unicode lowercase mappings, exotic whitespace, empties") {
    check(Seq(
      "", " ", "   ", "\t\n\f\r", "a", "A", "a b", "  a  b  ",
      "a.b", "a . b", "a,,b c", "..", "a1B2c3",
      // Kelvin sign lowercases into ASCII 'k'; Angstrom into å (dropped)
      "K Å", "xKy",
      // Turkish dotted capital I lowercases to i + combining dot
      "İstanbul", "straße",
      // non-ASCII whitespace is NOT Java \s and must be deleted, not collapsed
      "a b", "a b", "a　b",
      // multi-byte sequences, emoji (surrogate pairs in UTF-16)
      "café au lait", "😀 hi 😀", "日本語 text",
      "MiXeD CaSe\twith\nlinesand\fmore\rws"))
  }

  test("property: kernel equals regex form on random unicode strings") {
    val weird = Gen.oneOf('\u212A', '\u0130', '\u00DF', '\u00A0', '\u3000',
      '\u000B', '\f', '\r', '\n', '\t', ' ', '.', '!', 'a', 'Z', '0', '9',
      '\u00E9', '\u65E5', '\uFFFD', '\u2028')
    val g = Gen.listOf(Gen.frequency(3 -> Gen.alphaNumChar, 1 -> Gen.asciiPrintableChar,
      2 -> weird)).map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(40, g)) { (ss: List[String]) =>
      check(ss); true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }
}
