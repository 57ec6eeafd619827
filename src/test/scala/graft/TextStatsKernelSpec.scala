package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_textstats / graft_md5min must be field-for-field equal to the
  * composed forms they replaced (which the DuckDB oracle still
  * evaluates): split/filter-HOF counts, the punct regexp_replace
  * length, the aggregate token-length fold, and the md5-min transform.
  */
class TextStatsKernelSpec extends SparkSpec {

  private def composedForms(s: Column): Seq[(String, Column, Column)] = {
    val toks = split(trim(s), "\\s+")
    def hitCount(markers: Seq[String]): Column = {
      val m = array(markers.map(lit): _*)
      size(filter(toks, t => array_contains(m, t))).cast("long")
    }
    val stats = call_function("graft_textstats", s)
    Seq(
      ("n_tokens", size(toks).cast("long"), stats.getField("n_tokens")),
      ("sum_tok_len", aggregate(toks, lit(0L), (acc, t) => acc + length(t)),
        stats.getField("sum_tok_len")),
      ("punct_chars", length(regexp_replace(s, "[A-Za-z0-9\\s]", "")).cast("long"),
        stats.getField("punct_chars")),
      ("n_chars", length(s).cast("long"), stats.getField("n_chars")),
      ("stop_en8", hitCount(TextAnalysis.stopwordsEn), stats.getField("stop_en8")),
      ("mark_en", hitCount(Seq("the", "a", "of", "and")), stats.getField("mark_en")),
      ("mark_es", hitCount(Seq("el", "la", "de", "que")), stats.getField("mark_es")),
      ("mark_de", hitCount(Seq("der", "die", "das", "und")), stats.getField("mark_de")),
      ("max_tok_len", array_max(transform(toks, w => length(w))).cast("long"),
        stats.getField("max_tok_len")),
      ("n_digits", length(regexp_replace(s, "[^0-9]", "")).cast("long"),
        stats.getField("n_digits")),
      ("has_the", array_contains(toks, "the").cast("long"), stats.getField("has_the")))
  }

  private def check(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val base = inputs.toDF("s")
    val forms = composedForms(col("s"))
    val df = base.select(col("s") +: forms.flatMap { case (n, want, got) =>
      Seq(want.as(s"want_$n"), got.as(s"got_$n")) }: _*)
    val mismatch = forms.map { case (n, _, _) =>
      not(col(s"want_$n") <=> col(s"got_$n")) }.reduce(_ || _)
    val bad = df.where(mismatch).collect()
    assert(bad.isEmpty, s"textstats kernel diverges on: ${bad.take(5).mkString("; ")}")
  }

  test("edge cases: empties, separator runs, markers, unicode") {
    check(Seq(
      "", " ", "   ", "\t", "\t\n\f\r", "a", " a ", "\ta b\t",
      "the quick brown fox", "the a of and to in is it",
      "el la de que", "der die das und", "the el der",
      "a.b,c!d", "..!?", "a1b2", "MiXeD CaSe",
      "a b", "a　b", "café au lait", "日本語 テキスト だ よ",
      "😀 hi 😀", "a  b   c", "one\r\ntwo\r\nthree"))
  }

  test("property: kernel fields equal composed forms on random strings") {
    val weird = Gen.oneOf(' ', '　', '', '\f', '\r', '\n',
      '\t', ' ', '.', '!', 'a', 'e', 'Z', '0', 'é', '日')
    val word = Gen.oneOf("the", "a", "of", "and", "to", "el", "la", "de",
      "que", "der", "die", "das", "und", "xx", "é!", "日本")
    val g = Gen.listOf(Gen.frequency(
      2 -> Gen.listOf(Gen.frequency(2 -> Gen.alphaNumChar, 2 -> weird)).map(_.mkString),
      3 -> word)).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(30, g)) { (ss: List[String]) =>
      check(ss); true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("md5min equals the array_min(transform(md5)) fold") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog",
        "a b c d e f", "solo", "x y", "日本語 テキスト です ね さ")
      .toDF("s")
      .select(col("s"), Dedup.wordShingles(col("s"), 4).as("sh"))
      .select(col("s"),
        array_min(transform(col("sh"), x => md5(x))).as("want"),
        call_function("graft_md5min", col("sh")).as("got"))
    val bad = df.where(not(col("want") <=> col("got"))).collect()
    assert(bad.isEmpty, s"md5min diverges on: ${bad.mkString("; ")}")
  }
}
