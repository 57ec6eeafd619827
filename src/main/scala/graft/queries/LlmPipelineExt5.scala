package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import graft.operators.TextAnalysis.whitespaceTokens

/** Fifth LLM-pipeline tranche: corpus-membership and data-selection
  * ops — the remaining standard tools of a pretraining data pipeline.
  *
  *  - `l_bloom_dedup`: Bloom-filter membership pre-filter against a
  *    reference corpus (the CCNet/Dolma-style "have we seen this page
  *    before" gate). k=3 md5-derived bit positions in an m=4096 bit
  *    space; the filter is a tiny distinct-positions table that
  *    BROADCASTS no matter how big the reference corpus is — probe
  *    docs never shuffle. False positives are part of the contract,
  *    so the query also carries the exact-membership bit and thereby
  *    measures the FP rate instead of hiding it.
  *  - `l_c4_rules`: C4-style heuristic cleaning rules (Raffel et al.
  *    2020 §2.2 lineage): min word count, stopword presence, max word
  *    length, digit-fraction bound — each an integer-exact per-row
  *    expression, plus the conjunctive keep bit.
  *  - `l_dsir_weights`: DSIR-style importance weighting (Xie et al.
  *    2023): hashed n-gram (here: unigram→128 buckets) counts in a
  *    target slice vs the raw corpus; per-doc importance as the exact
  *    integer count sums + a single final division. The bucket table
  *    is O(buckets) — broadcastable at any corpus scale; the
  *    per-token lookup is a map-side join.
  *  - `l_oov_score`: vocabulary-coverage scoring against the corpus's
  *    own top-k vocabulary (unigram-LM out-of-vocabulary rate — the
  *    cheap perplexity proxy that needs no FP log-sums, so it stays
  *    bit-exact across engines).
  */
object LlmPipelineExt5 {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "documents")

  // single-file test parquet reads as ONE partition — the CPU-heavy
  // explode/md5 pipelines repartition first (same as LlmPipeline)
  private def docsWide(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(Tables.workPartitions(s, dir, "documents"), col("doc_id"))

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_bloom_dedup", (s, dir) => {
      // Reference slice: doc_id ≡ 0 (mod 5). Fingerprint = md5(text);
      // bit positions h_i = int(md5(i||fp)[0:8]) mod 4096, i=0..2.
      // bloom_hit = all three positions set by the reference slice;
      // exact_hit = fingerprint truly present (FP-rate accounting).
      val fp = md5(col("text"))
      val base = docsWide(s, dir).select(col("doc_id"), fp.as("fp"))
      val hashes = base.select(col("doc_id"), col("fp"), explode(array(
        (0 to 2).map(i =>
          conv(substring(md5(concat(lit(i.toString), col("fp"))), 1, 8), 16, 10)
            .cast("long") % 4096L): _*)).as("pos"))
      val refBits = hashes.where(col("doc_id") % 5 === 0)
        .select("pos").distinct().withColumn("bit", lit(1))
      val refFps = base.where(col("doc_id") % 5 === 0)
        .select(col("fp").as("rfp")).distinct()
      val probeBits = hashes.where(col("doc_id") % 5 =!= 0)
        .join(broadcast(refBits), Seq("pos"), "left_outer")
        .groupBy("doc_id", "fp")
        .agg(min(when(col("bit").isNotNull, 1L).otherwise(0L)).as("bloom_hit"))
      probeBits
        // refBits stays broadcast (≤4096 rows by construction — the
        // filter's bit space); refFps is a CORPUS slice's distinct
        // fingerprints and grows with the lake (15 MB built at sf10,
        // r12 audit) → shuffle_hash
        .join(refFps.hint("shuffle_hash"), col("fp") === col("rfp"), "left_outer")
        .select(col("doc_id"), col("bloom_hit"),
          when(col("rfp").isNotNull, 1L).otherwise(0L).as("exact_hit"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
      h AS (
        SELECT doc_id, fp,
          CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || fp), 1, 8)) AS BIGINT) % 4096 AS pos
        FROM f CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
      bits AS (SELECT DISTINCT pos FROM h WHERE doc_id % 5 = 0),
      rf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 = 0),
      pm AS (
        SELECT h.doc_id, h.fp,
          MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS bloom_hit
        FROM h LEFT JOIN bits b ON h.pos = b.pos
        WHERE h.doc_id % 5 <> 0 GROUP BY 1, 2)
      SELECT doc_id, CAST(bloom_hit AS BIGINT) AS bloom_hit,
        CAST(CASE WHEN rf.fp IS NULL THEN 0 ELSE 1 END AS BIGINT) AS exact_hit
      FROM pm LEFT JOIN rf ON pm.fp = rf.fp
      ORDER BY doc_id""")),

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

    GraftQuery("l_dsir_weights", (s, dir) => {
      // Hashed-unigram importance: bucket b(w) = int(md5(w)[0:8]) mod
      // 128; per-bucket target (lang='en') and raw occurrence counts;
      // per-doc importance = (Σ(t_cnt+1)) / (Σ(r_cnt+1)) over its
      // token occurrences — integer sums, one final division. (True
      // DSIR multiplies per-bucket ratios in log space; the count-sum
      // ratio is the cross-engine-exact formulation — noted deviation.)
      val tok = docsWide(s, dir).select(col("doc_id"), col("lang"),
          explode(whitespaceTokens(col("text"))).as("w"))
        .withColumn("b", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 128L)
      val buckets = tok.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"),
        count(lit(1)).as("r_cnt"))
      tok.join(broadcast(buckets), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("t_cnt") + 1).as("sum_t"),
          sum(col("r_cnt") + 1).as("sum_r"))
        .select(col("doc_id"), col("n_tokens"), col("sum_t"), col("sum_r"),
          round(col("sum_t").cast("double") / col("sum_r"), 6).as("importance"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, unnest($oracleTokens) AS w FROM documents),
      tb AS (
        SELECT *, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 128 AS b FROM tok),
      buckets AS (
        SELECT b, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt,
          COUNT(*) AS r_cnt
        FROM tb GROUP BY b)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(t_cnt + 1) AS BIGINT) AS sum_t,
        CAST(SUM(r_cnt + 1) AS BIGINT) AS sum_r,
        round(CAST(SUM(t_cnt + 1) AS DOUBLE) / SUM(r_cnt + 1), 6) AS importance
      FROM tb JOIN buckets USING (b)
      GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_oov_score", (s, dir) => {
      // Vocabulary = corpus top-16 words (count desc, word asc —
      // total order, so the cut is deterministic); per-doc OOV rate
      // against it. Vocab is O(k) → broadcast; the probe join is
      // map-side at any corpus size.
      val tok = docsWide(s, dir).select(col("doc_id"),
        explode(whitespaceTokens(col("text"))).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(16)
        .select(col("w").as("vw")).withColumn("iv", lit(1))
      tok.join(broadcast(vocab), col("w") === col("vw"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
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

    GraftQuery("l_bpe_merge", (s, dir) => {
      // One BPE tokenizer-training round ([[graft.operators.Bpe]]),
      // fully in-plan: corpus pair statistics → deterministic winning
      // pair (count desc, pair asc) broadcast → greedy left-to-right
      // merge via gaps-and-islands parity (a run of k consecutive
      // pair occurrences merges at its 1st, 3rd, … positions). Output
      // is per-doc before/after token counts + md5 of the merged
      // text, plus the winning pair — all integer/string-exact.
      // Multi-round training (driver-iterated like Lloyd's k-means)
      // is Bpe.train, pinned to an independent in-memory
      // implementation by BpeSpec.
      // r16 shape (VERDICT r15 item 4): everything reads the token
      // ARRAY — the kernel runs once per row BEFORE the repartition,
      // so the exchange carries arrays and both consumers (pair stats,
      // merge) reuse the one exchange without recomputing it.
      // a null-text doc has no tokens, so no row: the oracle's unnest
      // drops it too
      val d = docs(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"), whitespaceTokens(col("text")).as("toks"))
        .repartition(Tables.workPartitions(s, dir, "documents"), col("doc_id"))
      // pair statistics straight off adjacent array positions — the
      // same (t[i], t[i+1]) multiset Bpe.pairCounts builds via a
      // per-doc lead() window, minus the window (no per-doc sort, no
      // posexplode; one partial-agg groupBy exchange carries distinct
      // pairs only)
      val adjLen = greatest(size(col("toks")) - 1, lit(0))
      val top = d
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), adjLen), slice(col("toks"), lit(2), adjLen))).as("p"))
        .select(col("p.0").as("w"), col("p.1").as("w2"))
        .groupBy("w", "w2").agg(count(lit(1)).as("pair_n"))
        .orderBy(col("pair_n").desc, col("w"), col("w2")).limit(1)
        .select(col("w").as("tw1"), col("w2").as("tw2"), col("pair_n"))
      // ONE broadcast cross join (the r14 shape evaluated the winning-
      // pair subtree twice — two crossJoins); the merge itself is the
      // per-doc kernel form of Bpe.applyMergeJoined (BpeMergeKernelSpec
      // pins parity), so the before/after counts and reassembled md5
      // are projections — no windows, no groupBy, no join-back
      d.crossJoin(broadcast(top))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_before"),
          graft.operators.Bpe.mergeTokens(col("toks"), col("tw1"), col("tw2")).as("m"),
          col("tw1").as("w1"), col("tw2").as("w2"), col("pair_n"))
        .select(col("doc_id"), col("n_before"),
          size(col("m")).cast("long").as("n_after"),
          col("w1"), col("w2"), col("pair_n"),
          md5(array_join(col("m"), " ")).as("merged_md5"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok0 AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      tok AS (
        SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS w FROM tok0),
      p AS (SELECT *, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok),
      pc AS (SELECT w, w2, COUNT(*) AS pair_n FROM p WHERE w2 IS NOT NULL GROUP BY 1, 2),
      top AS (SELECT w AS tw1, w2 AS tw2, pair_n FROM pc
              ORDER BY pair_n DESC, w, w2 LIMIT 1),
      m AS (SELECT p.*, tw1, tw2, pair_n,
              COALESCE(p.w = tw1 AND p.w2 = tw2, FALSE) AS mergeable
            FROM p CROSS JOIN top),
      r AS (SELECT *, SUM(CASE WHEN mergeable THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS runm
            FROM m),
      k AS (SELECT *, pos - runm AS ikey FROM r),
      i AS (SELECT *, MIN(CASE WHEN mergeable THEN pos END)
              OVER (PARTITION BY doc_id, ikey) AS island_start FROM k),
      ma AS (SELECT *, (mergeable AND (pos - island_start) % 2 = 0) AS merged_at FROM i),
      c AS (SELECT *, COALESCE(LAG(merged_at) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS consumed FROM ma),
      nt AS (SELECT doc_id, pos, tw1, tw2, pair_n,
               CASE WHEN merged_at THEN w || '_' || w2
                    WHEN NOT consumed THEN w END AS tk
             FROM c),
      o AS (SELECT doc_id, COUNT(*) AS n_after,
              md5(string_agg(tk, ' ' ORDER BY pos)) AS merged_md5,
              MIN(tw1) AS w1, MIN(tw2) AS w2, MIN(pair_n) AS pair_n
            FROM nt WHERE tk IS NOT NULL GROUP BY doc_id),
      nb AS (SELECT doc_id, COUNT(*) AS n_before FROM tok GROUP BY doc_id)
      SELECT o.doc_id, CAST(n_before AS BIGINT) AS n_before,
        CAST(n_after AS BIGINT) AS n_after, w1, w2,
        CAST(pair_n AS BIGINT) AS pair_n, merged_md5
      FROM o JOIN nb USING (doc_id) ORDER BY o.doc_id"""), headline = true),

    GraftQuery("l_curation_v2", (s, dir) => {
      // Second-generation curation composite over this tranche's
      // gates: C4 rules → Bloom membership against the
      // already-trained slice → DSIR above-corpus-average en-affinity
      // → running token budget. Every comparison is integer (counts,
      // products, prefix sums) — bit-robust under any partitioning by
      // construction, the lesson of l_curation_pipeline. The DSIR
      // gate is self-normalizing (sum_t·total_r ≥ sum_r·total_t:
      // docs above the corpus-average target affinity), so it needs
      // no tuned threshold and survives any corpus scale; at extreme
      // scale the integer products would move to DECIMAL(38).
      val t = whitespaceTokens(col("text"))
      val base = docsWide(s, dir)
      // the C4 gate reads one graft_textstats scan (kernel ==
      // composed forms, TextStatsKernelSpec), bound once per row
      // through the Generate barrier: with a plain projection the
      // gate's four conjuncts alias-substitute into a FilterExec below
      // it, re-evaluating the WHOLE kernel per conjunct per row
      // (FilterExec does no subexpression elimination — the
      // kernel-in-filter net's finding, ADVICE r14)
      val c4 = base.select(col("doc_id"), col("lang"), md5(col("text")).as("fp"),
          graft.operators.TextAnalysis.explodedStats(col("text")).as("st"))
        .select(col("doc_id"), col("lang"), col("fp"),
          col("st.n_tokens").as("n_words"),
          col("st.max_tok_len").as("max_wlen"),
          col("st.n_digits").as("n_digits"),
          col("st.n_chars").as("n_chars"),
          col("st.has_the").as("has_stop"))
        .where(col("n_words") >= 20 && col("has_stop") === 1 &&
          col("max_wlen") <= 12 && col("n_digits") * 10 < col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_words"), col("max_wlen"),
          col("n_digits"), col("n_chars"), col("has_stop"), col("fp"))
      // bloom gate: bits from the reference slice over ALL docs;
      // probes are the C4 survivors outside it. Cut (localCheckpoint)
      // because TWO consumers read it (refBits build + probe side):
      // without the cut the 3-hash md5 explode re-evaluates per
      // consumer. Materialized: 3 rows/doc of (long, hex, long).
      val hashes = base.select(col("doc_id"), md5(col("text")).as("fp")).select(
        col("doc_id"), col("fp"), explode(array((0 to 2).map(i =>
          conv(substring(md5(concat(lit(i.toString), col("fp"))), 1, 8), 16, 10)
            .cast("long") % 4096L): _*)).as("pos"))
        .localCheckpoint()
      val refBits = hashes.where(col("doc_id") % 5 === 0)
        .select("pos").distinct().withColumn("bit", lit(1))
      val bloom = hashes.where(col("doc_id") % 5 =!= 0)
        .join(broadcast(refBits), Seq("pos"), "left_outer")
        .groupBy("doc_id")
        .agg(min(when(col("bit").isNotNull, 1L).otherwise(0L)).as("bloom_hit"))
      // DSIR affinity from full-corpus hashed-unigram buckets. The
      // token instances are pre-aggregated ONCE to (doc, lang, bucket)
      // counts and cut: buckets, the per-doc affinity sums and the
      // corpus totals all derive from this table. Without the cut the
      // explode + per-token md5 subtree (this query's dominant CPU,
      // r15 StageProfile: 3 of the 5 heavy 32-task stages) re-evaluates
      // once per consumer — buckets, probe, totals and the curated
      // join each re-derived it. Counts are exact: c tokens of a doc
      // in bucket b contribute c·(t_cnt+1) to sum_t, identical to the
      // per-token sum; materialized rows ≤ docs × 128 buckets of 4
      // integer columns, never the text.
      val tokG = base.select(col("doc_id"), col("lang"), explode(t).as("w"))
        .withColumn("b", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 128L)
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val buckets = tokG.groupBy("b").agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("t_cnt"),
        sum(col("c")).as("r_cnt"))
      // r16: dsir is single-consumer now (the curated join), so the
      // r15 checkpoint is gone — the corpus totals derive from the
      // 128-row buckets table alone, exactly (integer sums reordered):
      //   tt = Σ_doc Σ_b c·(t_cnt+1) = Σ_b (t_cnt+1)·Σ_doc c
      //      = Σ_b (t_cnt+1)·r_cnt,   tr = Σ_b (r_cnt+1)·r_cnt
      // (tokG covers every doc — each doc has ≥ 1 token — so the
      // per-doc sum and the per-bucket sum range over the same terms).
      // One whole materialization pass saved; guide §1.2 step 1.
      val dsir = tokG.join(broadcast(buckets), Seq("b")).groupBy("doc_id")
        .agg(sum(col("c") * (col("t_cnt") + 1L)).as("sum_t"),
          sum(col("c") * (col("r_cnt") + 1L)).as("sum_r"))
      val totals = buckets.agg(
        sum((col("t_cnt") + 1L) * col("r_cnt")).as("tt"),
        sum((col("r_cnt") + 1L) * col("r_cnt")).as("tr"))
      val curated = c4
        .join(bloom, Seq("doc_id")).where(col("bloom_hit") === 0)
        .join(dsir, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .where(col("sum_t") * col("tr") >= col("sum_r") * col("tt"))
        .select(col("doc_id"), col("n_words"), col("sum_t"), col("sum_r"))
      graft.operators.Prefix
        .runningSum(curated, Seq(col("doc_id")), col("n_words"), "cum_tokens")
        .where(col("cum_tokens") <= 3000L)
        .select("doc_id", "n_words", "sum_t", "sum_r", "cum_tokens")
        .orderBy("doc_id")
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, lang, text, $oracleTokens AS t, md5(text) AS fp FROM documents),
      c4 AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words, fp FROM f
        WHERE len(t) >= 20 AND list_contains(t, 'the')
          AND list_max(list_transform(t, w -> strlen(w))) <= 12
          AND strlen(regexp_replace(text, '[^0-9]', '', 'g')) * 10 < strlen(text)),
      h AS (
        SELECT doc_id, fp,
          CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || fp), 1, 8)) AS BIGINT) % 4096 AS pos
        FROM f CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
      bits AS (SELECT DISTINCT pos FROM h WHERE doc_id % 5 = 0),
      bl AS (
        SELECT h.doc_id, MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS bloom_hit
        FROM h LEFT JOIN bits b ON h.pos = b.pos
        WHERE h.doc_id % 5 <> 0 GROUP BY 1),
      tok AS (SELECT doc_id, lang, unnest(t) AS w FROM f),
      tb AS (SELECT *, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 128 AS b FROM tok),
      buckets AS (
        SELECT b, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt, COUNT(*) AS r_cnt
        FROM tb GROUP BY b),
      dsir AS (
        SELECT doc_id, SUM(t_cnt + 1) AS sum_t, SUM(r_cnt + 1) AS sum_r
        FROM tb JOIN buckets USING (b) GROUP BY doc_id),
      tot AS (SELECT SUM(sum_t) AS tt, SUM(sum_r) AS tr FROM dsir),
      cur AS (
        SELECT c4.doc_id, n_words, sum_t, sum_r
        FROM c4 JOIN bl ON c4.doc_id = bl.doc_id AND bloom_hit = 0
        JOIN dsir ON c4.doc_id = dsir.doc_id
        CROSS JOIN tot
        WHERE sum_t * tr >= sum_r * tt),
      bud AS (
        SELECT *, SUM(n_words) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM cur)
      SELECT doc_id, n_words, CAST(sum_t AS BIGINT) AS sum_t,
        CAST(sum_r AS BIGINT) AS sum_r, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM bud WHERE cum_tokens <= 3000 ORDER BY doc_id"""), headline = true)
  )
}
