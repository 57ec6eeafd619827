package graft.queries

import graft.operators.TextAnalysis.whitespaceTokens
import graft.operators.{Dedup, TextAnalysis}
import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality filters (SURVEY §2 LLM pipeline): language id, heuristic and
  * classifier quality scores, C4/Gopher rules, repetition and
  * paragraph scrubbing, PII, perplexity gates, contamination and
  * novelty.
  */
object QualityFilters extends QuerySuite {

  /** Surprisal gate: keep docs whose mean bigram surprisal ≤ this many
    * centibits (4.32 bits/bigram = the sf0.01 corpus median — a real
    * ~50% gate, not a pass-all).
    */
  private val surprisalGateE2 = 432L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_lang_id", (s, dir) => {
      keyedDocs(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.langIdHeuristic(col("text")).as("predicted"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, lang,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
             WHEN es >= de AND es > 0 THEN 'es'
             WHEN de > 0 THEN 'de'
             ELSE 'unk' END AS predicted
      FROM f ORDER BY doc_id""")),

    GraftQuery("l_quality_score", (s, dir) => {
      val txt = col("text")
      keyedDocs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(txt).as("n_tokens"),
          duckRound(TextAnalysis.meanTokenLength(txt), 4).as("mean_token_len"),
          duckRound(TextAnalysis.punctRatio(txt), 4).as("punct_ratio"),
          duckRound(TextAnalysis.stopwordRatio(txt), 4).as("stopword_ratio"),
          TextAnalysis.qualityScore(txt).as("quality"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents)
      SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_tokens,
        round(CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / GREATEST(len(t), 1), 4) AS mean_token_len,
        round(punct_ratio, 4) AS punct_ratio,
        round(stop_ratio, 4) AS stopword_ratio,
        round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
              + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4) AS quality
      FROM f ORDER BY doc_id""")),

    GraftQuery("l_repetition", (s, dir) => {
      // repeated-word / low-diversity scoring (the Gopher "fraction of
      // most common word" rule): top_count/n_tokens and
      // n_distinct/n_tokens per doc. Two partial-agg-friendly groupBys;
      // all comparisons integer-exact.
      // token kernel + outer-explode guard: InferFiltersFromGenerate
      // must not land the kernel in a scan-side filter; graft_tokens
      // never yields null/empty, so the outer form is row-identical
      val tok = keyedDocs(s, dir).select(col("doc_id"),
        explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
      tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), max("c").as("top_count"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n_tokens"), col("top_count"), col("n_distinct"),
          duckRound(col("top_count").cast("double") / col("n_tokens"), 4).as("rep_ratio"),
          duckRound(col("n_distinct").cast("double") / col("n_tokens"), 4).as("diversity"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
                   FROM documents),
      c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(max(c) AS BIGINT) AS top_count,
              CAST(count(*) AS BIGINT) AS n_distinct
            FROM c GROUP BY 1)
      SELECT doc_id, n_tokens, top_count, n_distinct,
        round(CAST(top_count AS DOUBLE)/n_tokens, 4) AS rep_ratio,
        round(CAST(n_distinct AS DOUBLE)/n_tokens, 4) AS diversity
      FROM a ORDER BY doc_id""")),

    GraftQuery("l_paragraph_scrub", (s, dir) => {
      // duplicated-paragraph REMOVAL with document reconstruction —
      // the transform l_chunk_dedup only accounts for (RefinedWeb §3:
      // duplicated spans are cut out of the kept documents, not just
      // counted). A chunk instance is removed when its hash occurs in
      // more than one distinct document; survivors are reassembled in
      // position order and the cleaned text rides as its md5 (rows
      // stay narrow — the full cleaned corpus would be the same plan
      // minus the final hash). Same chunking core as l_chunk_dedup by
      // construction. Scale shape: explode → distinct-doc hash counts
      // (partial-agg) → hash-keyed join back → per-doc
      // ordered reassembly via array_sort over (idx, chunk) structs —
      // no window, no global order, every count integer.
      // ch feeds both the hash-count build side and the join probe;
      // checkpointing materializes the chunk explode ONCE (2 scans →
      // 1). Same tradeoff as minhash's corpus checkpoint: wins while
      // the chunk table fits storage, recompute is the >memory-scale
      // fallback.
      // outer posexplode + null guard: same rationale as l_chunk_dedup
      val ch = keyedDocs(s, dir)
        .select(col("doc_id"), posexplode_outer(Deduplication.chunkArr(20)).as(Seq("idx", "chunk")))
        .where(col("chunk").isNotNull)
        .withColumn("h", md5(col("chunk")))
        .localCheckpoint()
      val byHash = ch.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
      // shuffle_hash: same corpus-proportional hash-count side as
      // l_chunk_dedup (45 MB statically broadcast at sf1)
      ch.join(byHash.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("n_docs") > 1).cast("long")).as("n_removed"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("n_docs") === 1,
              struct(col("idx"), col("chunk"))))),
            _.getField("chunk")), " ")).as("clean_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                   FROM documents),
      ch AS (
        SELECT doc_id, i AS idx,
          array_to_string(t[i*20+1 : i*20+20], ' ') AS chunk,
          md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS h
        FROM tok, LATERAL (SELECT unnest(range(0,
          GREATEST(CAST(ceil(len(t)/20.0) AS INTEGER), 1))) AS i) gen),
      byh AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY h)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(COALESCE(string_agg(CASE WHEN n_docs = 1 THEN chunk END, ' ' ORDER BY idx),
                     '')) AS clean_md5
      FROM ch JOIN byh USING (h)
      GROUP BY doc_id ORDER BY doc_id"""), headline = true),

    GraftQuery("l_pii_scrub", (s, dir) => {
      // PII redaction: emails and phone-shaped strings replaced with
      // placeholder tags + per-doc match accounting. The corpus is
      // synthetic word soup, so PII is injected deterministically
      // first — the redaction pipeline (regexp_replace chain riding
      // the scan, no shuffle) is what's under test.
      val full = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"), lit(" now"))
      val emailRe = "u[0-9]+@[a-z.]+com"
      val phoneRe = "555-[0-9]{4}"
      docs(s, dir).select(col("doc_id"),
          size(regexp_extract_all(full, lit(emailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(full, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(full, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS ftext
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(ftext, 'u[0-9]+@[a-z.]+com')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(ftext, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(ftext, 'u[0-9]+@[a-z.]+com', '<EMAIL>', 'g'),
          '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      FROM d ORDER BY doc_id""")),

    // `l_c4_rules`: C4-style heuristic cleaning rules (Raffel et al.
    // 2020 §2.2 lineage): min word count, stopword presence, max word
    // length, digit-fraction bound — each an integer-exact per-row
    // expression, plus the conjunctive keep bit.
    GraftQuery("l_c4_rules", (s, dir) => {
      // All comparisons integer-exact: counts and lengths only. The
      // digit rule is the C4 "numbers-heavy page" bound expressed as
      // 10*digits < chars (strictly-below-10% without FP division).
      // Pure per-row expressions riding the scan — zero shuffles. All
      // five inputs come off ONE graft_textstats scan (field-for-field
      // equal to the composed forms the oracle keeps —
      // TextStatsKernelSpec).
      val st = graft.operators.TextAnalysis.textStats(col("text"))
      docs(s, dir).select(
          col("doc_id"),
          st.getField("n_tokens").as("n_words"),
          st.getField("max_tok_len").as("max_wlen"),
          st.getField("n_digits").as("n_digits"),
          st.getField("n_chars").as("n_chars"),
          st.getField("has_the").as("r_stopword"))
        .withColumn("r_minwords", (col("n_words") >= 20).cast("long"))
        .withColumn("r_maxword", (col("max_wlen") <= 12).cast("long"))
        .withColumn("r_digit", (col("n_digits") * 10 < col("n_chars")).cast("long"))
        .withColumn("keep",
          (col("r_minwords") * col("r_stopword") * col("r_maxword") * col("r_digit")).cast("long"))
        .select("doc_id", "n_words", "max_wlen", "n_digits", "n_chars",
          "r_stopword", "r_minwords", "r_maxword", "r_digit", "keep")
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (
        SELECT doc_id, $oracleTokens AS t, text FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(t) AS BIGINT) AS n_words,
          CAST(list_max(list_transform(t, w -> strlen(w))) AS BIGINT) AS max_wlen,
          CAST(strlen(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
          CAST(strlen(text) AS BIGINT) AS n_chars,
          CAST(CASE WHEN list_contains(t, 'the') THEN 1 ELSE 0 END AS BIGINT) AS r_stopword
        FROM base)
      SELECT doc_id, n_words, max_wlen, n_digits, n_chars, r_stopword,
        CAST(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END AS BIGINT) AS r_minwords,
        CAST(CASE WHEN max_wlen <= 12 THEN 1 ELSE 0 END AS BIGINT) AS r_maxword,
        CAST(CASE WHEN n_digits * 10 < n_chars THEN 1 ELSE 0 END AS BIGINT) AS r_digit,
        CAST(CASE WHEN n_words >= 20 AND r_stopword = 1 AND max_wlen <= 12
                   AND n_digits * 10 < n_chars THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM m ORDER BY doc_id""")),

    GraftQuery("l_gopher_rules", (s, dir) => {
      // the full Gopher rule battery (Rae et al. 2021 §A1.1.1), the
      // OTHER named heuristic gate next to L33's C4 rules — every
      // comparison integer-exact (cross-multiplied, no ratios):
      //   word count in [50, 100000]
      //   mean word length in [3, 10]        ⇔ 3w ≤ chars ≤ 10w
      //   symbol-to-word ratio ('#'/'...') ≤ 0.1 ⇔ 10·sym ≤ w
      //   bullet-start lines ≤ 10%           ⇔ 10·bullet ≤ lines
      //   ellipsis-end lines ≤ 30%           ⇔ 10·ell ≤ 3·lines
      //   words with an alphabetic char ≥ 80% ⇔ 5·alpha ≥ 4·w
      //   ≥ 2 of the 8 Gopher stopwords present
      // Per-row string arithmetic only — the gate rides the scan with
      // NO shuffle; one output sort. (L17 covers the top-word-fraction
      // repetition rule of the same paper.)
      val words = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val lines = split(col("text"), "\n")
      val sw = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val d = docs(s, dir).select(col("doc_id"),
        size(words).cast("long").as("w"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("chars"),
        ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))) +
          (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("sym"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => ltrim(l).startsWith("-") || ltrim(l).startsWith("*")))
          .cast("long").as("bullet_lines"),
        size(filter(lines, l => rtrim(l).endsWith("..."))).cast("long").as("ellipsis_lines"),
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
        sw.map(t => array_contains(words, t).cast("long")).reduce(_ + _).as("stopword_hits"))
      d.select(col("doc_id"), col("w").as("n_words"), col("stopword_hits"),
          (col("w") >= 50L && col("w") <= 100000L).as("r_word_count"),
          (col("chars") >= lit(3L) * col("w") && col("chars") <= lit(10L) * col("w"))
            .as("r_mean_word_len"),
          (lit(10L) * col("sym") <= col("w")).as("r_symbol_ratio"),
          (lit(10L) * col("bullet_lines") <= col("n_lines")).as("r_bullets"),
          (lit(10L) * col("ellipsis_lines") <= lit(3L) * col("n_lines")).as("r_ellipsis"),
          (lit(5L) * col("alpha_words") >= lit(4L) * col("w")).as("r_alpha_words"),
          (col("stopword_hits") >= 2L).as("r_stopwords"))
        .withColumn("passes_all",
          col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
            col("r_bullets") && col("r_ellipsis") && col("r_alpha_words") && col("r_stopwords"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS words,
          string_split(text, chr(10)) AS lines,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
          CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS chars,
          CAST((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS sym
        FROM documents),
      m AS (
        SELECT doc_id, w, chars, sym,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, x -> starts_with(ltrim(x), '-')
            OR starts_with(ltrim(x), '*'))) AS BIGINT) AS bullet_lines,
          CAST(len(list_filter(lines, x -> ends_with(rtrim(x), '...'))) AS BIGINT)
            AS ellipsis_lines,
          CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
            AS alpha_words,
          CAST(CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END AS BIGINT)
            AS stopword_hits
        FROM t)
      SELECT doc_id, w AS n_words, stopword_hits,
        w >= 50 AND w <= 100000 AS r_word_count,
        chars >= 3*w AND chars <= 10*w AS r_mean_word_len,
        10*sym <= w AS r_symbol_ratio,
        10*bullet_lines <= n_lines AS r_bullets,
        10*ellipsis_lines <= 3*n_lines AS r_ellipsis,
        5*alpha_words >= 4*w AS r_alpha_words,
        stopword_hits >= 2 AS r_stopwords,
        (w >= 50 AND w <= 100000) AND (chars >= 3*w AND chars <= 10*w)
          AND 10*sym <= w AND 10*bullet_lines <= n_lines
          AND 10*ellipsis_lines <= 3*n_lines AND 5*alpha_words >= 4*w
          AND stopword_hits >= 2 AS passes_all
      FROM m ORDER BY doc_id""")),

    // `l_oov_score`: vocabulary-coverage scoring against the corpus's
    // own top-k vocabulary (unigram-LM out-of-vocabulary rate — the
    // cheap perplexity proxy that needs no FP log-sums, so it stays
    // bit-exact across engines).
    GraftQuery("l_oov_score", (s, dir) => {
      // Vocabulary = corpus top-16 words (count desc, word asc —
      // total order, so the cut is deterministic); per-doc OOV rate
      // against it. Vocab is O(k) → broadcast; the probe join is
      // map-side at any corpus size.
      val tok = keyedDocs(s, dir).select(col("doc_id"),
        explode(whitespaceTokens(col("text"))).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(16)
        .select(col("w").as("vw")).withColumn("iv", lit(1))
      tok.join(broadcast(vocab), col("w") === col("vw"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          duckRound(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($oracleTokens) AS w FROM documents),
      vocab AS (
        SELECT w FROM (
          SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
          ORDER BY cnt DESC, w LIMIT 16))
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
      FROM tok LEFT JOIN vocab v USING (w)
      GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_quality_classifier", (s, dir) => {
      // model-based quality gate, fasttext-linear shape (the CCNet /
      // LLaMA-pipeline "keep what a classifier likes" stage): hashed-
      // unigram features (md5 → 256 buckets, the same hashing as
      // l_dsir_weights) scored against a broadcast weight vector,
      // integer per-doc sum, keep = score ≥ 0. The weights are a
      // DECLARED md5-derived stand-in — training the classifier is out
      // of scope (like the multimodal codec stub); what is real and
      // load-bearing is the inference plumbing: O(buckets) weight
      // table broadcasts at any corpus size, the per-token lookup is
      // a map-side join, the score an exact integer sum — zero corpus
      // shuffle beyond the per-doc agg.
      val tok = keyedDocs(s, dir)
        .select(col("doc_id"),
          explode(graft.operators.TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .withColumn("b", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 256L)
      val weights = s.range(256).select(col("id").as("b"),
        (conv(substring(md5(concat(lit("qw-"), col("id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2001L - 1000L).as("wt"))
      tok.join(broadcast(weights), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score"))
        .withColumn("keep", (col("score") >= 0L).cast("long"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      tb AS (
        SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256 AS b FROM tok),
      wts AS (
        SELECT b, CAST(('0x' || substr(md5('qw-' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 2001 - 1000 AS wt
        FROM (SELECT unnest(range(256)) AS b)),
      sc AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS score
        FROM tb JOIN wts USING (b) GROUP BY doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(score AS BIGINT) AS score,
        CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM sc ORDER BY doc_id""")),

    GraftQuery("l_bigram_lm", (s, dir) => {
      // n-gram LM count tables (the Kneser-Ney statistics: raw bigram
      // count, left total + right diversity per w1, continuation count
      // per w2 — everything KN smoothing needs before the final
      // discount arithmetic). Consecutive pairs via zip_with over two
      // shifted slices (no index sequence — sequence(1, n-1) would
      // DESCEND for 1-token docs and fabricate pairs). All counts
      // integer; top-50 by count keeps the checked output bounded.
      // Scale shape: one explode + three partial-agg groupBys keyed by
      // word — the classic count-table pipeline; at corpus scale the
      // (w1, w2) table shards by key and the per-word side tables are
      // its rollups, never a re-scan of the text.
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val pairs = keyedDocs(s, dir)
        // outer explode + null guard: keeps the token kernel out of a
        // scan-side inferred filter (one-token docs zip to an empty
        // array -> null row -> dropped, identical to plain explode)
        .select(explode_outer(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .where(col("p").isNotNull)
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // pc feeds three consumers (the join probe and both rollups);
      // checkpointing materializes the count table ONCE so the
      // tokenize+explode doesn't recompute per branch (3 scans → 1 —
      // the same tradeoff as minhash's corpus checkpoint, and pc is
      // the SMALL artifact: distinct bigrams, not token instances)
      val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c")).localCheckpoint()
      val w1t = pc.groupBy("w1")
        .agg(sum("c").as("w1_total"), count(lit(1)).as("right_div"))
      val w2t = pc.groupBy("w2").agg(count(lit(1)).as("cont"))
      val rw = Window.orderBy(col("c").desc, col("w1"), col("w2"))
      pc.join(w1t, "w1").join(w2t, "w2")
        .withColumn("rk", row_number().over(rw).cast("long"))
        .where(col("rk") <= 50)
        .select(col("rk"), col("w1"), col("w2"), col("c"),
          col("w1_total"), col("right_div"), col("cont"))
        .orderBy("rk")
    }, Some("""
      WITH tok AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
      bg AS (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
      pc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      w1t AS (SELECT w1, SUM(c) AS w1_total, COUNT(*) AS right_div FROM pc GROUP BY 1),
      w2t AS (SELECT w2, COUNT(*) AS cont FROM pc GROUP BY 1),
      r AS (
        SELECT pc.w1, pc.w2, c, w1_total, right_div, cont,
          ROW_NUMBER() OVER (ORDER BY c DESC, pc.w1, pc.w2) AS rk
        FROM pc JOIN w1t ON pc.w1 = w1t.w1 JOIN w2t ON pc.w2 = w2t.w2)
      SELECT CAST(rk AS BIGINT) AS rk, w1, w2, CAST(c AS BIGINT) AS c,
        CAST(w1_total AS BIGINT) AS w1_total, CAST(right_div AS BIGINT) AS right_div,
        CAST(cont AS BIGINT) AS cont
      FROM r WHERE rk <= 50 ORDER BY rk""")),

    GraftQuery("l_surprisal_gate", (s, dir) => {
      // CCNet's perplexity-gate shape (Wenzek et al. 2020: keep docs a
      // reference LM finds unsurprising) made cross-engine-exact: FP
      // log-probs are replaced by INTEGER surprisal bits,
      // floor(log2(w1_total / c)) = length(bin(w1_total div c)) - 1 —
      // the bigram's probability rounded down to a power of two. The
      // "LM" is the corpus's own bigram table (l_bigram_lm's pc/w1t
      // rollups); per doc, mean surprisal bits (e2-scaled integer)
      // gates at ≤ MEAN_BITS_E2. Scale shape: the count table shards
      // by (w1,w2) key; the instance stream joins it keyed — never
      // broadcast (it's vocabulary², corpus-sized) — then one per-doc
      // partial agg. Same two-shuffle budget as l_bigram_lm.
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val d = keyedDocs(s, dir)
      // outer explode + null guard (see l_bigram_lm): one-token docs
      // zip to an empty array -> null row -> dropped, row-identical
      val pairs = d.select(col("doc_id"), explode_outer(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .where(col("p").isNotNull)
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint() // feeds the model build AND the probe join
      val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val w1t = pc.groupBy("w1").agg(sum("c").as("w1_total"))
      // shuffle_hash: the bigram model is vocabulary²-sized (corpus-
      // proportional) but post-aggregate size estimates undershoot the
      // broadcast threshold — the executed plan statically broadcast
      // 329 MB at sf1 (BroadcastBudgetSpec), contradicting the sharded
      // shape documented above. Pin both model joins keyed.
      val model = pc.join(w1t.hint("shuffle_hash"), "w1")
        .withColumn("bits", length(bin(expr("w1_total div c"))).cast("long") - 1L)
      val perDoc = pairs.join(model.hint("shuffle_hash"), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("total_bits"))
      d.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("total_bits"), lit(0L)).as("total_bits"),
          coalesce(expr("total_bits * 100 div n_bigrams"), lit(0L)).as("mean_bits_e2"))
        .withColumn("keep",
          (col("n_bigrams") > 0L && col("mean_bits_e2") <= surprisalGateE2).cast("long"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
      bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
             FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
      pc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      w1t AS (SELECT w1, SUM(c) AS w1_total FROM pc GROUP BY 1),
      model AS (SELECT pc.w1, pc.w2,
                  length(bin(w1_total // c)) - 1 AS bits
                FROM pc JOIN w1t ON pc.w1 = w1t.w1),
      pd AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(bits) AS total_bits
             FROM bg JOIN model USING (w1, w2) GROUP BY doc_id)
      SELECT documents.doc_id,
        CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CAST(COALESCE(total_bits, 0) AS BIGINT) AS total_bits,
        CAST(COALESCE(total_bits * 100 // n_bigrams, 0) AS BIGINT) AS mean_bits_e2,
        CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
                   AND COALESCE(total_bits * 100 // n_bigrams, 0) <= $surprisalGateE2
             THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM documents LEFT JOIN pd USING (doc_id) ORDER BY doc_id""")),

    // `l_intradoc_rep`: WITHIN-document repetition — per doc, the
    // duplicated fraction of its own 3-gram stream e4 (total vs
    // distinct occurrences). The self-repetition axis of the Gopher
    // rules: L17 catches top-word domination, this catches looping
    // generations and boilerplate stutter that word ratios miss.
    GraftQuery("l_intradoc_rep", (s, dir) => {
      // raw (non-distinct) 3-gram stream, whole-doc fallback under 3
      // tokens — the same convention as Dedup.wordShingles minus the
      // distinct
      val tokens = TextAnalysis.whitespaceTokens(col("text"))
      val cnt = size(tokens) - lit(2)
      val grams = when(cnt >= 1,
          transform(sequence(lit(1), greatest(cnt, lit(1))),
            i => array_join(slice(tokens, i, lit(3)), " ")))
        .otherwise(array(array_join(tokens, " ")))
      keyedDocs(s, dir)
        .select(col("doc_id"), col("source"),
          size(grams).cast("long").as("n_grams"),
          size(array_distinct(grams)).cast("long").as("n_distinct"))
        .withColumn("rep_e4", expr("(n_grams - n_distinct) * 10000 div n_grams"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, source,
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END AS grams
        FROM t)
      SELECT doc_id, source,
        CAST(len(grams) AS BIGINT) AS n_grams,
        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        (CAST(len(grams) AS BIGINT) - CAST(len(list_distinct(grams)) AS BIGINT)) * 10000
          // CAST(len(grams) AS BIGINT) AS rep_e4
      FROM g ORDER BY doc_id""")),

    GraftQuery("l_contamination", (s, dir) => {
      // benchmark-contamination check: fraction of each candidate doc's
      // distinct 3-gram shingles that appear in the eval set (source
      // 'src0' plays the held-out benchmark). With a REAL fixed eval
      // set the bench side is bounded and broadcast is the standard
      // decontamination sweep shape — but here 'src0' is a corpus
      // SLICE, so the side grows with the lake (179 MB built at sf10,
      // the r12 sf10 broadcast audit) and a static broadcast never
      // demotes; shuffle_hash co-partitions both sides on the shingle
      // key instead, which is the correct form whenever the eval set
      // is itself lake-scale.
      val sh = keyedDocs(s, dir).select(col("doc_id"), col("source"),
        explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
      val bench = sh.where(col("source") === "src0")
        .select("sh").distinct().withColumn("hit", lit(1L))
      sh.where(col("source") =!= "src0")
        .join(bench.hint("shuffle_hash"), Seq("sh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          duckRound(col("n_hits").cast("double") / col("n_shingles"), 4).as("contamination"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, source, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, source, unnest(${oracleShingles(3)}) AS sh FROM tok),
      bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
      j AS (SELECT s.doc_id, CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END AS hit
            FROM sh s LEFT JOIN bench b ON s.sh = b.sh
            WHERE s.source <> 'src0')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(hit) AS BIGINT) AS n_hits,
        round(CAST(sum(hit) AS DOUBLE)/count(*), 4) AS contamination
      FROM j GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_decontam_report", (s, dir) => {
      // decontamination ACCOUNTING (the GPT-3-appendix step after L18's
      // per-doc scan): apply the removal rule — ≥ 20% of a doc's
      // distinct 3-gram shingles hit the benchmark set (integer
      // cross-mult: hits·5 ≥ shingles) — and report what each source
      // loses. The benchmark set ('src0' plays the held-out eval) is
      // a corpus SLICE here, so like l_contamination the probe join is
      // shuffle_hash-pinned (a static broadcast of a lake-growing side
      // never demotes — 179 MB built at sf10, r12 audit); a real fixed
      // eval set would broadcast.
      val sh = keyedDocs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
      val bench = sh.where(col("source") === "src0")
        .select("sh").distinct().withColumn("hit", lit(1L))
      val perDoc = sh.where(col("source") =!= "src0")
        .join(bench.hint("shuffle_hash"), Seq("sh"), "left_outer")
        .groupBy("doc_id", "source")
        .agg(max("toks").as("toks"), count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("removed", when(col("n_hits") * 5 >= col("n_shingles"), 1L).otherwise(0L))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("removed").as("docs_removed"),
          sum("toks").as("tokens"),
          sum(when(col("removed") === 1, col("toks")).otherwise(0L)).as("tokens_removed"))
        .withColumn("token_loss_e4", expr("tokens_removed * 10000 div tokens"))
        .select("source", "n_docs", "docs_removed", "tokens", "tokens_removed", "token_loss_e4")
        .orderBy("source")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, source, $oracleTokens AS t FROM documents),
      shl AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS toks,
                unnest(${oracleShingles(3)}) AS sh
              FROM tok),
      bench AS (SELECT DISTINCT sh FROM shl WHERE source = 'src0'),
      pd AS (
        SELECT s.doc_id, s.source, max(s.toks) AS toks,
          CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(SUM(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
        FROM shl s LEFT JOIN bench b ON s.sh = b.sh
        WHERE s.source <> 'src0'
        GROUP BY 1, 2),
      r AS (
        SELECT *, CASE WHEN n_hits * 5 >= n_shingles THEN 1 ELSE 0 END AS removed
        FROM pd)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(removed) AS BIGINT) AS docs_removed,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(SUM(CASE WHEN removed = 1 THEN toks ELSE 0 END) AS BIGINT) AS tokens_removed,
        CAST(SUM(CASE WHEN removed = 1 THEN toks ELSE 0 END) AS BIGINT) * 10000
          // CAST(SUM(toks) AS BIGINT) AS token_loss_e4
      FROM r GROUP BY 1 ORDER BY source""")),

    GraftQuery("l_novelty_score", (s, dir) => {
      // per-doc originality: the fraction (e4) of the doc's distinct
      // 3-gram shingles that appear in NO other document — synthetic
      // or dup-heavy docs score near 0, novel text near 10000. The
      // inverse of contamination: measures what a doc ADDS to the
      // corpus. Shingle doc-frequencies ride one (shingle) shuffle;
      // the probe join is shingle-keyed (fan-out = df, bounded by the
      // corpus's duplication itself); one per-doc agg closes it.
      val sh = keyedDocs(s, dir)
        .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("g"))
        .localCheckpoint() // feeds the df build AND the probe join
      val df = sh.groupBy("g").agg(countDistinct("doc_id").as("df"))
      // shuffle_hash: df is shingle-vocabulary-sized (corpus-
      // proportional; 309 MB built at sf1 when Catalyst statically
      // broadcast it off a lying post-aggregate estimate — caught by
      // BroadcastBudgetSpec). Keep the probe join shingle-keyed as the
      // docstring promises.
      sh.join(df.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1L, 1L).otherwise(0L)).as("unique_shingles"))
        .select(col("doc_id"), col("n_shingles"), col("unique_shingles"),
          expr("unique_shingles * 10000 div n_shingles").as("novelty_e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
            i -> array_to_string(t[i:i+2], ' ')))) AS g
        FROM tok),
      dfq AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
      pd AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
          SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS unique_shingles
        FROM sh JOIN dfq USING (g) GROUP BY 1)
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        CAST(unique_shingles AS BIGINT) AS unique_shingles,
        CAST(unique_shingles * 10000 // n_shingles AS BIGINT) AS novelty_e4
      FROM pd ORDER BY doc_id""")),

    GraftQuery("l_lang_confusion", (s, dir) => {
      // lang-ID quality audit: declared label vs L8's prediction as a
      // confusion matrix — the calibration view that says whether the
      // classifier is good enough to GATE on (and for which
      // languages). One (lang, predicted) HashAggregate.
      keyedDocs(s, dir)
        .select(col("lang"),
          graft.operators.TextAnalysis.langIdHeuristic(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("correct", (col("lang") === col("predicted")).cast("long"))
        .orderBy("lang", "predicted")
    }, Some("""
      WITH f AS (
        SELECT lang,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents),
      p AS (
        SELECT lang,
          CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
               WHEN es >= de AND es > 0 THEN 'es'
               WHEN de > 0 THEN 'de'
               ELSE 'unk' END AS predicted
        FROM f)
      SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(CASE WHEN lang = predicted THEN 1 ELSE 0 END AS BIGINT) AS correct
      FROM p GROUP BY 1, 2 ORDER BY lang, predicted"""))
  )
}
