package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: token counts,
  * quality scores, language-ID heuristics, fingerprints. All pure
  * column expressions (codegen'd, partition-local, no shuffle).
  */
object TextAnalysis {

  val stopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Whitespace token array — native byte-scan kernel
    * (graft.functions.ShingleKernels.tokens), byte-identical to the
    * composed `split(trim(text), "\\s+")` it replaced (which the
    * DuckDB oracles keep and TokenKernelSpec property-checks): the
    * java.util.regex split was the dominant linear CPU term of the BPE
    * family (VERDICT r14 item 3).
    */
  def whitespaceTokens(text: Column): Column = call_function("graft_tokens", text)

  /** The pre-kernel composed form of [[whitespaceTokens]], kept as the
    * cross-checked reference (TokenKernelSpec asserts kernel ==
    * composed on adversarial and random inputs).
    */
  def whitespaceTokensComposed(text: Column): Column = split(trim(text), "\\s+")

  /** Fixed n-token chunk array — one-pass byte-scan kernel
    * (graft.functions.ShingleKernels.chunks), byte-identical to the
    * composed transform/slice/array_join form it replaced (which the
    * DuckDB oracles keep and ChunkKernelSpec property-checks). The
    * composed form's transform HOF is CodegenFallback and re-evaluates
    * the tokenizer per chunk in interpreted mode — the r15
    * l_paragraph_scrub regression (VERDICT r15 item 2).
    */
  def wordChunks(text: Column, n: Int): Column =
    call_function("graft_chunks", text, lit(n))

  /** The pre-kernel composed form of [[wordChunks]] (ChunkKernelSpec
    * asserts kernel == composed on adversarial and random inputs).
    */
  def wordChunksComposed(text: Column, n: Int): Column = {
    val tokens = whitespaceTokens(text)
    val nChunks = greatest(ceil(size(tokens) / lit(n.toDouble)).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(tokens, i * n + 1, lit(n)), " "))
  }

  /** One-pass integer stats struct (graft.functions.TextStatsKernels):
    * all the primitives below read fields off this ONE deterministic
    * expression, so a projection computing several of them evaluates
    * the text scan once (subexpression elimination — which the
    * interpreted HOF-filter forms these replaced structurally defeat).
    * Field-for-field equality with the composed forms is
    * property-checked in TextStatsKernelSpec; the double arithmetic
    * below is UNCHANGED, so scores stay bit-identical.
    */
  private def stats(text: Column): Column = call_function("graft_textstats", text)

  /** The raw stats struct, for composites (C4 rules) that read several
    * fields at once: n_tokens, sum_tok_len, punct_chars, n_chars,
    * stop_en8, mark_en/es/de, max_tok_len, n_digits, has_the.
    */
  def textStats(text: Column): Column = stats(text)

  /** The stats struct bound ONCE per row through a Generate barrier:
    * `explode(array(stats))` evaluates the kernel exactly once in the
    * GenerateExec, and — unlike a plain projection — a downstream
    * filter on the output fields CANNOT be predicate-pushed back
    * through it (PushPredicateThroughNonJoin never moves a predicate
    * referencing generator output below its Generate). Use this when a
    * GATE reads several stats fields: alias-substituting pushdown
    * otherwise lands the whole kernel inside a FilterExec, which does
    * no subexpression elimination across conjuncts — the kernel then
    * re-evaluates once per conjunct per row (ScaleInvariantSpec's
    * kernel-in-filter net caught l_curation_pipeline/_v2 doing exactly
    * this the moment it learned to see pre-checkpoint segments,
    * ADVICE r14).
    */
  def explodedStats(text: Column): Column = explode(array(stats(text)))

  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  /** BPE-ish token count: alpha runs, digit runs, and single symbols —
    * the usual pre-tokenizer shape. Native one-pass kernel
    * (ShingleKernels.bpeishCount); [[bpeishTokenCountComposed]] is the
    * regex form it is property-checked against (TokenKernelSpec), and
    * the one the DuckDB oracles keep.
    */
  def bpeishTokenCount(text: Column): Column = call_function("graft_bpeish", text)

  /** The pre-kernel composed form of [[bpeishTokenCount]]. */
  def bpeishTokenCountComposed(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  def punctRatio(text: Column): Column =
    stats(text).getField("punct_chars").cast("double") /
      greatest(stats(text).getField("n_chars"), lit(1)).cast("double")

  def stopwordRatio(text: Column, stopwords: Seq[String] = stopwordsEn): Column =
    if (stopwords == stopwordsEn)
      stats(text).getField("stop_en8").cast("double") /
        greatest(stats(text).getField("n_tokens"), lit(1)).cast("double")
    else {
      // non-default lists keep the composed form (no kernel field)
      val toks = whitespaceTokens(text)
      val stops = array(stopwords.map(lit): _*)
      size(filter(toks, t => array_contains(stops, t))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")
    }

  def meanTokenLength(text: Column): Column =
    stats(text).getField("sum_tok_len").cast("double") /
      greatest(stats(text).getField("n_tokens"), lit(1)).cast("double")

  /** Composite quality score in [0,1]-ish: favors stopword presence,
    * moderate token length, low punctuation. Deterministic arithmetic
    * reproducible in ANSI SQL for the oracle.
    */
  def qualityScore(text: Column): Column =
    graft.queries.duckRound(
      lit(0.5) * stopwordRatio(text) +
      lit(0.3) * (lit(1.0) - punctRatio(text)) +
      lit(0.2) * least(tokenCount(text).cast("double") / lit(200.0), lit(1.0)), 4)

  /** Language-ID heuristic: score languages by marker-token hits. */
  def langIdHeuristic(text: Column): Column = {
    val en = stats(text).getField("mark_en")
    val es = stats(text).getField("mark_es")
    val de = stats(text).getField("mark_de")
    when(en >= es && en >= de && en > 0, lit("en"))
      .when(es >= de && es > 0, lit("es"))
      .when(de > 0, lit("de"))
      .otherwise(lit("unk"))
  }

  /** Rolling-hash document fingerprint: min md5 over word 4-gram
    * windows (winnowing with a single global window). Cross-engine
    * reproducible (md5 hex, lexicographic min). graft_md5min = the
    * `array_min(transform(shingles, s => md5(s)))` fold in one pass
    * (hex encoding is order-isomorphic to unsigned digest bytes).
    */
  def fingerprint(text: Column): Column =
    call_function("graft_md5min", Dedup.wordShingles(text, 4))
}
