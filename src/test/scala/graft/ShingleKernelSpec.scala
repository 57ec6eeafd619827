package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_shingles / graft_minhash must be byte-identical to the
  * composed forms they replaced (which the DuckDB oracle still
  * evaluates): the split/transform/slice/array_join/array_distinct
  * shingler, and the explode + groupBy-min md5 signature path.
  */
class ShingleKernelSpec extends SparkSpec {

  private def checkShingles(inputs: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val df = inputs.toDF("s")
      .select(col("s"), Dedup.wordShinglesComposed(col("s"), n).as("want"),
        Dedup.wordShingles(col("s"), n).as("got"))
    val bad = df.where(not(col("want") <=> col("got"))).collect()
    assert(bad.isEmpty,
      s"shingle kernel (n=$n) diverges from composed form on: ${bad.take(5).mkString("; ")}")
  }

  test("shingles edge cases: split/trim semantics, short docs, duplicates") {
    for (n <- Seq(1, 2, 3, 4)) checkShingles(Seq(
      "", " ", "   ", "a", " a ", "a b", "a b c", "a b c d e",
      // trim strips 0x20 ONLY; \s+ split keeps ONE leading and ONE
      // trailing empty token (limit -1) — tabs/newlines survive trim
      "\ta b", "a b\t", "\ta b\n", "\t", "\t\n\f\r", "a b",
      "a\t\tb", "a \t b", "a\r\nb", "a\fb",
      // duplicates for array_distinct first-occurrence order
      "x y x y x y", "a a a a", "p q p q r p q",
      // non-ASCII whitespace is NOT \s: stays inside tokens
      "a b c d", "a　b c", "日本 語 テキスト だ",
      "café au lait noir", "😀 hi 😀 hi 😀",
      "one", "one two", "one two three", "one two three four"), n)
  }

  test("property: shingle kernel equals composed form on random strings") {
    val weird = Gen.oneOf(' ', '\u3000', '\u000B', '\f', '\r', '\n',
      '\t', '\u00A0', '\u2028', 'a', 'b', 'Z', '0', '\u00E9', '\u65E5')
    val g = Gen.listOf(Gen.frequency(2 -> Gen.alphaNumChar, 3 -> weird))
      .map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(30, g), Gen.choose(1, 4)) {
      (ss: List[String], n: Int) => checkShingles(ss, n); true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("minhash kernel signatures equal the explode+agg path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "0", "é", "日本")
    val docs = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val sh = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
      .localCheckpoint()
    for (numHashes <- Seq(1, 4, 8)) {
      val got = Dedup.minhashSignatureExploded(sh, "doc_id", "shingles", numHashes)
      val want = Dedup.minhashSignatureAgg(sh, "doc_id", "shingles", numHashes)
      assert(got.columns.toSeq === want.columns.toSeq)
      val diff = got.exceptAll(want).union(want.exceptAll(got)).collect()
      assert(diff.isEmpty,
        s"minhash kernel (numHashes=$numHashes) diverges: ${diff.take(5).mkString("; ")}")
    }
  }

  test("empty shingle arrays are dropped, matching the explode+agg contract") {
    import spark.implicits._
    val sh = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]), (3L, Seq("c")))
      .toDF("doc_id", "shingles")
    val got = Dedup.minhashSignatureExploded(sh, "doc_id", "shingles", 4)
    val want = Dedup.minhashSignatureAgg(sh, "doc_id", "shingles", 4)
    // explode() of an empty array emits no row, so doc 2 has no group in
    // the agg path; the kernel path must drop it too (ADVICE r11).
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    val diff = got.exceptAll(want).union(want.exceptAll(got)).collect()
    assert(diff.isEmpty, s"empty-array contract diverges: ${diff.mkString("; ")}")
  }

  test("hash56 kernel equals the composed conv(md5) form, sets equal under intersect/union") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "0", "é", "日本")
    val docs = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, "") // degenerate: single empty-string shingle
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
      .select(col("doc_id"),
        Dedup.hashShingles56(col("shingles")).as("got"),
        Dedup.hashShingles56Composed(col("shingles")).as("want"))
    val bad = df.where(not(col("got") <=> col("want"))).collect()
    assert(bad.isEmpty, s"hash56 kernel diverges: ${bad.take(5).mkString("; ")}")
    // the verify-join contract: intersect/union sizes over hashed longs
    // equal those over the shingle strings (no collisions on this vocab)
    val sh = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("s"))
      .withColumn("h", Dedup.hashShingles56(col("s")))
    val pairs = sh.as("x").crossJoin(sh.as("y"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(
        size(array_intersect(col("x.s"), col("y.s"))).as("is"),
        size(array_intersect(col("x.h"), col("y.h"))).as("ih"),
        size(array_union(col("x.s"), col("y.s"))).as("us"),
        size(array_union(col("x.h"), col("y.h"))).as("uh"))
    val mism = pairs.where(col("is") =!= col("ih") || col("us") =!= col("uh")).count()
    assert(mism === 0L, "hashed-set intersect/union diverged from string sets")
  }

  test("fused minhash+h56 kernel equals both separate kernels (r13 item 2)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "0", "é", "日本")
    val docs = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, "") // degenerate: single empty-string shingle
    val sh = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
      .localCheckpoint()
    for (numHashes <- Seq(1, 4, 8)) {
      val fused = sh.select(col("doc_id"),
        call_function("graft_minhash_h56", col("shingles"), lit(numHashes)).as("f"))
      val sep = sh.select(col("doc_id"),
        call_function("graft_minhash", col("shingles"), lit(numHashes)).as("sig"),
        Dedup.hashShingles56(col("shingles")).as("h56"))
      val diff = fused.select(col("doc_id"), col("f.sig"), col("f.h56"))
        .exceptAll(sep).union(
          sep.exceptAll(fused.select(col("doc_id"), col("f.sig"), col("f.h56")))).collect()
      assert(diff.isEmpty,
        s"fused kernel (numHashes=$numHashes) diverges: ${diff.take(5).mkString("; ")}")
    }
    // the projection helper yields exactly minhashSignatureExploded's
    // columns + hashShingles56 on its contractual input (wordShingles
    // output — never an empty array: even "" shingles to [""])
    val inp = sh.select(col("doc_id"), col("shingles"))
    val got = Dedup.signatureAndHash56(inp, "shingles", 8)
    val want = Dedup.minhashSignatureExploded(inp, "doc_id", "shingles", 8)
      .join(inp.select(col("doc_id"),
        Dedup.hashShingles56(col("shingles")).as("hshingles")), "doc_id")
    assert(got.columns.toSeq === (Seq("doc_id") ++ (0 until 8).map(i => s"mh$i") :+ "hshingles"))
    val d2 = got.exceptAll(want).union(want.exceptAll(got)).collect()
    assert(d2.isEmpty, s"signatureAndHash56 diverges: ${d2.take(5).mkString("; ")}")
    // performance pin: the kernel must appear EXACTLY ONCE in the
    // executed plan — the first cut's drop-empties filter was
    // predicate-pushed below the projection and re-evaluated the
    // whole shingle+digest kernel per row (1.45x on l_dedup_minhash
    // at sf10)
    val planStr = Dedup.signatureAndHash56(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
      "shingles", 8).queryExecution.executedPlan.toString
    assert("graft_minhash_h56".r.findAllIn(planStr).length === 1,
      s"fused kernel must evaluate once, plan:\n${planStr.take(2000)}")
    assert("graft_shingles".r.findAllIn(planStr).length === 1,
      s"shingle kernel must evaluate once, plan:\n${planStr.take(2000)}")
  }

  test("minhash kernel matches the array-local HOF form too") {
    import spark.implicits._
    val sh = Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("shingles"))
    val got = Dedup.minhashSignatureExploded(sh, "doc_id", "shingles", 8)
    val want = Dedup.minhashSignature(sh, "doc_id", "shingles", 8)
    val diff = got.exceptAll(want).union(want.exceptAll(got)).collect()
    assert(diff.isEmpty, s"kernel vs HOF form: ${diff.take(5).mkString("; ")}")
  }
}
