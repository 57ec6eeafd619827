package graft.queries

import graft.operators.TextAnalysis.whitespaceTokens
import graft.operators.{Dedup, Multimodal, TextAnalysis}
import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{round => sparkRound} // Spark's HALF_UP round

/** Mixtures and splits (SURVEY §2 LLM pipeline): sampling, split
  * assignment and leakage, mixture weights and epochs, DSIR, shard
  * assignment, source overlap and diversity, the end-to-end curation
  * pipelines and corpus report, and the multimodal columns.
  *
  * Multimodal-column operators (SURVEY §2 L12): binary payloads with
  * typed metadata, batched partition-local decode, frame sampling.
  *
  * Scale shape: the overlap join is shingle-keyed on DISTINCT
  * (shingle, source) pairs — fan-out per shingle is bounded by
  * sources², not corpus size, and the matrix itself is sources²
  * rows. Prefix families are one hash groupBy (partial-agg) over one
  * row per document.
  *
  * Scale shape: split bias reduces to (split, decile) counts in one
  * pass and runs KS on a 3×10 grid; the novelty curve is one
  * groupBy(hash) min + a 4-row rollup — first-appearance election is
  * the same partial-agg min pattern as exact dedup.
  */
object MixturesSplits extends QuerySuite {

  private val q10kSql = """CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_stratified_sample", (s, dir) => {
      // deterministic stratified sampling: per-language rates applied
      // via an md5 hash threshold — reproducible across engines AND
      // across runs/cluster sizes (no RNG, no shuffle; the sample
      // decision is a scalar predicate that rides the scan). Output is
      // the per-(source, lang) sample accounting.
      val d = docs(s, dir)
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val rate = when(col("lang") === "en", 0.5)
        .when(col("lang") === "fr", 0.25).otherwise(0.1)
      d.withColumn("keep", (u < rate).cast("long"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_total"), sum("keep").as("n_sampled"))
        .orderBy("source", "lang")
    }, Some("""
      WITH d AS (
        SELECT source, lang,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0
                 < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END)
               THEN 1 ELSE 0 END AS keep
        FROM documents)
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(keep) AS BIGINT) AS n_sampled
      FROM d GROUP BY source, lang ORDER BY source, lang""")),

    GraftQuery("l_split_assign", (s, dir) => {
      // deterministic train/val/test assignment: md5-threshold on the
      // doc id — reproducible across engines, runs, and cluster sizes
      // (no RNG, no shuffle; same family as l_stratified_sample).
      // hash_u = 32-bit-prefix / 2^32 is a dyadic rational — exact in
      // binary doubles, so it is emitted raw.
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)).as("hash_u")
      docs(s, dir)
        .select(col("doc_id"), col("source"), u)
        .withColumn("split",
          when(col("hash_u") < 0.8, "train").when(col("hash_u") < 0.9, "val").otherwise("test"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS hash_u
        FROM documents)
      SELECT doc_id, source, hash_u,
        CASE WHEN hash_u < 0.8 THEN 'train' WHEN hash_u < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM d ORDER BY doc_id""")),

    // `l_mixture_weights`: domain-mixture reweighting — per-source token
    // budgets toward a uniform target mix (the DoReMi-lite/static
    // sampling-weight table every training pipeline carries).
    GraftQuery("l_mixture_weights", (s, dir) => {
      // domain-mixture reweighting: per-source sampling weight toward a
      // uniform token share — weight = min(1, (total/n_sources)/tokens).
      // Two tiny aggs; the corpus-level scalar is a 1-row broadcast
      // crossJoin (never a collect), the same shape as l_tfidf_top.
      val toks = docs(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val per = toks.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      val tot = per.agg(sum("tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      val raw = least(lit(1.0),
        col("total_tokens").cast("double") / col("n_sources").cast("double")
          / col("tokens").cast("double"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(raw, 6).as("weight"),
          floor(raw * col("tokens").cast("double")).cast("long").as("budget_tokens"))
        .orderBy("source")
    }, Some("""
      WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
          CAST(count(*) AS BIGINT) AS n_sources
        FROM per)
      SELECT source, n_docs, tokens,
        round(LEAST(CAST(1.0 AS DOUBLE),
          CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
            / CAST(tokens AS DOUBLE)), 6) AS weight,
        CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
          CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
            / CAST(tokens AS DOUBLE)) * CAST(tokens AS DOUBLE)) AS BIGINT) AS budget_tokens
      FROM per CROSS JOIN tot
      ORDER BY source""")),

    // `l_dsir_weights`: DSIR-style importance weighting (Xie et al.
    // 2023): hashed n-gram (here: unigram→128 buckets) counts in a
    // target slice vs the raw corpus; per-doc importance as the exact
    // integer count sums + a single final division. The bucket table
    // is O(buckets) — broadcastable at any corpus scale; the
    // per-token lookup is a map-side join.
    GraftQuery("l_dsir_weights", (s, dir) => {
      // Hashed-unigram importance: bucket b(w) = int(md5(w)[0:8]) mod
      // 128; per-bucket target (lang='en') and raw occurrence counts;
      // per-doc importance = (Σ(t_cnt+1)) / (Σ(r_cnt+1)) over its
      // token occurrences — integer sums, one final division. (True
      // DSIR multiplies per-bucket ratios in log space; the count-sum
      // ratio is the cross-engine-exact formulation — noted deviation.)
      val tok = keyedDocs(s, dir).select(col("doc_id"), col("lang"),
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

    GraftQuery("l_curation_pipeline", (s, dir) => {
      // end-to-end training-data curation: language gate + quality gate
      // + exact-dedup keeper election + running token budget — the
      // composite the individual L-operators exist to serve. One
      // groupBy (dedup) and one window (budget) shuffle; every gate is
      // a pushdown-friendly scalar predicate.
      //
      // The quality score is carried as q10k = round(quality*10000)
      // BIGINT through the gate, the global order, the prefix sum AND
      // the output projection (quality_e4): every value downstream of
      // the scorer is integer, so the composite is bit-robust by
      // construction — no float column ever reaches a hasher.
      val d = keyedDocs(s, dir)
      // keeper election is a WINDOW min over the fingerprint, not a
      // groupBy + self-join (r15): min(doc_id) over (partition by h)
      // elects the same keeper with ONE exchange by h, and `scored`
      // now has a single consumer, so the r14 localCheckpoint (which
      // existed to stop the two consumers re-running the textstats
      // kernel) is gone — one scoring pass, zero materialization. The
      // kernel stays out of FilterExec without the cut: the gate's
      // pred_lang/q10k conjuncts cannot push below the Window (they
      // are not partition-key predicates), so they filter the window
      // output where the columns already exist (kernel-in-filter net
      // stays green).
      val scored = d.select(col("doc_id"), col("lang"),
          TextAnalysis.langIdHeuristic(col("text")).as("pred_lang"),
          round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
            .cast("long").as("q10k"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          md5(col("text")).as("h"))
      val curated = scored
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
        .where(col("doc_id") === col("keeper") &&
          col("pred_lang") === "en" && col("q10k") >= 3000L)
        .select(col("doc_id"), col("q10k"), col("n_tokens"))
      // running budget = distributed prefix sum (range partition +
      // local window + offsets) — a bare global-order window would
      // collapse everything into one task at scale
      graft.operators.Prefix
        .runningSum(curated, Seq(col("q10k").desc, col("doc_id")), col("n_tokens"), "cum_tokens")
        .where(col("cum_tokens") <= 20000L)
        .select(col("doc_id"), col("q10k").as("quality_e4"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("quality_e4").desc, col("doc_id"))
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t, md5(text) AS h,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents),
      scored AS (
        SELECT doc_id, h,
          CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
               WHEN es >= de AND es > 0 THEN 'es'
               WHEN de > 0 THEN 'de' ELSE 'unk' END AS pred_lang,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k,
          CAST(len(t) AS BIGINT) AS n_tokens
        FROM f),
      keepers AS (SELECT h, min(doc_id) AS keeper FROM scored GROUP BY h),
      curated AS (
        SELECT s.doc_id, s.q10k, s.n_tokens
        FROM scored s JOIN keepers k ON s.h = k.h
        WHERE s.doc_id = k.keeper AND s.pred_lang = 'en' AND s.q10k >= 3000),
      budget AS (
        SELECT doc_id, q10k, n_tokens,
          SUM(n_tokens) OVER (ORDER BY q10k DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM curated)
      SELECT doc_id, q10k AS quality_e4, n_tokens,
        CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM budget WHERE cum_tokens <= 20000
      ORDER BY quality_e4 DESC, doc_id"""), headline = true),

    GraftQuery("l_curation_v2", (s, dir) => {
      // Second-generation curation composite over the selection
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
      val base = keyedDocs(s, dir)
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
      FROM bud WHERE cum_tokens <= 3000 ORDER BY doc_id"""), headline = true),

    // `l_corpus_report`: the per-source curation dashboard — doc/token
    // totals, exact-dup rate, language spread — with a ROLLUP total
    // row; the first query a pipeline operator runs on a new crawl.
    GraftQuery("l_corpus_report", (s, dir) => {
      val base = keyedDocs(s, dir).select(col("source"), col("lang"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        md5(col("text")).as("h"))
      base.rollup(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum("toks").as("tokens"),
          countDistinct(col("h")).as("distinct_texts"),
          countDistinct(col("lang")).as("langs"),
          sum("n_chars").as("chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          col("docs"), col("tokens"),
          col("distinct_texts"), col("langs"),
          expr("(docs - distinct_texts) * 10000 div docs").as("dup_frac_e4"),
          expr("chars div docs").as("mean_chars"))
        .orderBy("source")
    }, Some("""
      WITH b AS (SELECT source, lang, n_chars,
        len(string_split_regex(trim(text), '\s+')) AS toks, md5(text) AS h
        FROM documents)
      SELECT COALESCE(source, 'ALL') AS source,
        CAST(COUNT(*) AS BIGINT) AS docs,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_texts,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
        CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS BIGINT) AS dup_frac_e4,
        CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars
      FROM b GROUP BY ROLLUP(source) ORDER BY source""")),

    // `l_source_diversity`: per-source lexical diversity — type-token
    // ratio and integer Shannon-entropy lower bound in centibits
    // (the L44 surprisal convention: bits via bit-length, no FP logs)
    // — the "is this crawl slice repetitive garbage" dashboard row.
    GraftQuery("l_source_diversity", (s, dir) => {
      val d = keyedDocs(s, dir)
      val nd = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val tc = d.select(col("source"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint() // totals + per-type surprisal ride one token shuffle
      val tot = tc.groupBy("source").agg(sum("c").as("n_tokens"))
      val ent = tc.join(tot, "source")
        .withColumn("bits", length(bin(expr("n_tokens div c"))).cast("long") - 1L)
        .groupBy("source")
        .agg(count(lit(1)).as("distinct_tokens"),
          sum(col("c") * col("bits")).as("sum_bits"))
      nd.join(tot, "source").join(ent, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("distinct_tokens"),
          expr("distinct_tokens * 10000 div n_tokens").as("ttr_e4"),
          expr("sum_bits * 100 div n_tokens").as("entropy_cbits"))
        .orderBy("source")
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      tc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      tot AS (SELECT source, SUM(c) AS n_tokens FROM tc GROUP BY 1),
      ent AS (
        SELECT tc.source, COUNT(*) AS distinct_tokens,
          SUM(c * (length(bin(n_tokens // c)) - 1)) AS sum_bits
        FROM tc JOIN tot ON tc.source = tot.source GROUP BY 1),
      nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
        CAST(distinct_tokens * 10000 // n_tokens AS BIGINT) AS ttr_e4,
        CAST(sum_bits * 100 // n_tokens AS BIGINT) AS entropy_cbits
      FROM nd JOIN tot USING (source) JOIN ent USING (source)
      ORDER BY source""")),

    // `l_source_overlap`: the source×source contamination matrix —
    // per source pair, how many distinct 3-gram shingles they share,
    // plus the overlap coefficient (shared / min(|A|,|B|), e4
    // integer). The "is src A scraped from src B" dashboard; run
    // before mixing sources so duplicated material doesn't get
    // double-weighted.
    GraftQuery("l_source_overlap", (s, dir) => {
      val sh = keyedDocs(s, dir)
        .select(col("source"), explode(Dedup.wordShingles(col("text"), 3)).as("g"))
        .distinct()
        .localCheckpoint() // feeds sizes AND both join sides
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val shared = sh.as("a")
        // shuffle_hash: both self-join sides are the corpus-wide
        // (source, shingle) table whose checkpoint-carried estimate
        // lies (305 MB statically broadcast at sf1, BroadcastBudgetSpec)
        .join(sh.as("b").hint("shuffle_hash"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_shingles"))
      shared
        .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
        .select(col("source_a"), col("source_b"), col("shared_shingles"),
          expr("shared_shingles * 10000 div least(na, nb)").as("overlap_e4"))
        .orderBy("source_a", "source_b")
    }, Some("""
      WITH tok AS (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT source,
          unnest(list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
            i -> array_to_string(t[i:i+2], ' ')))) AS g
        FROM tok),
      sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_shingles
        FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, CAST(shared_shingles AS BIGINT) AS shared_shingles,
        CAST(shared_shingles * 10000 // LEAST(na.n, nb.n) AS BIGINT) AS overlap_e4
      FROM shared
      JOIN sizes na ON na.source = shared.source_a
      JOIN sizes nb ON nb.source = shared.source_b
      ORDER BY source_a, source_b""")),

    GraftQuery("l_split_leakage", (s, dir) => {
      // train/val/test leakage audit: does any near-dup pair cross a
      // split boundary? The eval-integrity gate every pipeline should
      // run after splitting — a val doc near-duplicating a train doc
      // inflates eval. Composes the deterministic split rule (L25)
      // with the LSH near-dup edges (Jaccard ≥ 0.5): per ordered
      // split pair, the crossing count and a leak flag.
      val d = keyedDocs(s, dir)
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0))
      val splits = d.select(col("doc_id"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
      Deduplication.lshEdges(d)
        .join(splits.select(col("doc_id").as("a"), col("split").as("sa")), "a")
        .join(splits.select(col("doc_id").as("b"), col("split").as("sb")), "b")
        .select(least(col("sa"), col("sb")).as("split_1"),
          greatest(col("sa"), col("sb")).as("split_2"))
        .groupBy("split_1", "split_2")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak", (col("split_1") =!= col("split_2")).cast("long"))
        .orderBy("split_1", "split_2")
    }, Some(s"""
      WITH ${Deduplication.oracleLshEdges},
      sp AS (
        SELECT doc_id,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 < 0.8 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 < 0.9 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      cls AS (
        SELECT LEAST(pa.split, pb.split) AS split_1,
          GREATEST(pa.split, pb.split) AS split_2
        FROM e JOIN sp pa ON pa.doc_id = e.a JOIN sp pb ON pb.doc_id = e.b)
      SELECT split_1, split_2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(CASE WHEN split_1 <> split_2 THEN 1 ELSE 0 END AS BIGINT) AS leak
      FROM cls GROUP BY 1, 2 ORDER BY split_1, split_2""")),

    // `l_shard_assign`: balanced output sharding — docs ranked by
    // token count inside each source, round-robined over 8 shards
    // (the rank-cycling LPT approximation), with per-shard token
    // totals and signed deviation from the ideal mean. The writer
    // planning step between "curated corpus" and "training files".
    GraftQuery("l_shard_assign", (s, dir) => {
      val nShards = 8
      val d = keyedDocs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      // LPT-flavored round-robin: biggest docs spread across shards
      // first, inside each source partition (windows never cross
      // sources, so ranking scales with the largest source, not the
      // corpus)
      val w = Window.partitionBy("source").orderBy(col("toks").desc, col("doc_id"))
      val assigned = d.withColumn("shard", (row_number().over(w) - 1).cast("long") % nShards)
      val perShard = assigned.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"))
      val grand = perShard.agg(sum("total_tokens").as("grand")) // nShards rows → scalar
      perShard.crossJoin(broadcast(grand))
        // signed deviation from the ideal even split, e4
        .withColumn("dev_e4",
          expr(s"total_tokens * $nShards * 10000 div grand") - 10000L)
        .select("shard", "n_docs", "total_tokens", "dev_e4")
        .orderBy("shard")
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      a AS (
        SELECT *, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY toks DESC, doc_id) - 1) % 8 AS shard
        FROM d),
      ps AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM a GROUP BY 1)
      SELECT CAST(shard AS BIGINT) AS shard, n_docs, total_tokens,
        total_tokens * 8 * 10000 // CAST(SUM(total_tokens) OVER () AS BIGINT) - 10000 AS dev_e4
      FROM ps ORDER BY shard""")),

    // `l_temperature_mixture`: temperature-scaled source reweighting
    // (the UniMax/multilingual-mixing family): per-source token mass
    // at T=1 (proportional), T=2 (sqrt damping), T=∞ (uniform), all
    // e4. The sqrt is an EXACT integer isqrt — IEEE sqrt is correctly
    // rounded in both engines, and a ±1 correction step removes even
    // that dependency — so the whole table is bit-exact.
    GraftQuery("l_temperature_mixture", (s, dir) => {
      val bySource = keyedDocs(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
        .withColumn("sq", isqrt(col("tokens")))
        .localCheckpoint() // totals + output both read the sources table
      val totals = bySource.agg(sum("tokens").as("tot"), sum("sq").as("sqtot"),
        count(lit(1)).as("ns"))
      bySource.crossJoin(broadcast(totals))
        .withColumn("share_t1_e4", expr("tokens * 10000 div tot"))
        .withColumn("share_t2_e4", expr("sq * 10000 div sqtot"))
        .withColumn("share_unif_e4", expr("10000 div ns"))
        .select("source", "n_docs", "tokens", "share_t1_e4", "share_t2_e4", "share_unif_e4")
        .orderBy("source")
    }, Some(s"""
      WITH b AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY 1),
      sq AS (
        SELECT source, n_docs, tokens,
          ${isqrtSql.replace("x", "tokens")} AS sq
        FROM b),
      t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot, CAST(SUM(sq) AS BIGINT) AS sqtot,
              CAST(COUNT(*) AS BIGINT) AS ns FROM sq)
      SELECT source, n_docs, tokens,
        tokens * 10000 // tot AS share_t1_e4,
        sq * 10000 // sqtot AS share_t2_e4,
        10000 // ns AS share_unif_e4
      FROM sq CROSS JOIN t ORDER BY source""")),

    // `l_split_bias`: quality-distribution bias between the train
    // split and each of val/test — the two-sample KS statistic (max
    // CDF distance, e4) over quality deciles. Deterministic md5
    // splitting (L25) guarantees no doc leaks; it does NOT guarantee
    // the splits are distributionally exchangeable — this is the gate
    // that checks eval actually measures the training distribution.
    GraftQuery("l_split_bias", (s, dir) => {
      val q10k = sparkRound(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val sb = keyedDocs(s, dir)
        .select(
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"),
          least(floor(q10k / 1000).cast("long"), lit(9L)).as("bucket"))
        .groupBy("split", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val buckets = s.range(10).select(col("id").as("bucket"))
      val splits = s.createDataFrame(Seq(Tuple1("train"), Tuple1("val"), Tuple1("test")))
        .toDF("split")
      val grid = splits.crossJoin(broadcast(buckets))
        .join(sb, Seq("split", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cw = Window.partitionBy("split").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("split")
      val cdf = grid.withColumn("cum", sum("n").over(cw))
        .withColumn("total", sum("n").over(tw))
        .withColumn("cdf_e4", expr("cum * 10000 div total"))
      val train = cdf.where(col("split") === "train")
        .select(col("bucket"), col("cdf_e4").as("train_cdf_e4"))
      cdf.where(col("split") =!= "train")
        .join(broadcast(train), "bucket")
        .groupBy("split")
        .agg(max("total").as("n_docs"),
          max(abs(col("cdf_e4") - col("train_cdf_e4"))).as("ks_vs_train_e4"))
        .withColumn("biased", (col("ks_vs_train_e4") >= 1500L).cast("long"))
        .orderBy("split")
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT CASE
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 < 0.8 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 < 0.9 THEN 'val'
            ELSE 'test' END AS split,
          LEAST($q10kSql // 1000, 9) AS bucket
        FROM f),
      sb AS (SELECT split, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
      grid AS (
        SELECT sp.split, b.bucket, COALESCE(sb.n, 0) AS n
        FROM (SELECT unnest(['train', 'val', 'test']) AS split) sp
        CROSS JOIN (SELECT unnest(range(10)) AS bucket) b
        LEFT JOIN sb ON sb.split = sp.split AND sb.bucket = b.bucket),
      cdf AS (
        SELECT *,
          CAST(SUM(n) OVER (PARTITION BY split ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) * 10000
            // CAST(SUM(n) OVER (PARTITION BY split) AS BIGINT) AS cdf_e4,
          CAST(SUM(n) OVER (PARTITION BY split) AS BIGINT) AS total
        FROM grid),
      tr AS (SELECT bucket, cdf_e4 AS train_cdf_e4 FROM cdf WHERE split = 'train')
      SELECT c.split, CAST(MAX(c.total) AS BIGINT) AS n_docs,
        CAST(MAX(abs(c.cdf_e4 - tr.train_cdf_e4)) AS BIGINT) AS ks_vs_train_e4,
        CAST(CASE WHEN MAX(abs(c.cdf_e4 - tr.train_cdf_e4)) >= 1500 THEN 1 ELSE 0 END
             AS BIGINT) AS biased
      FROM cdf c JOIN tr USING (bucket)
      WHERE c.split <> 'train'
      GROUP BY 1 ORDER BY split""")),

    GraftQuery("l_mixture_epochs", (s, dir) => {
      // data-constrained epoch accounting (Muennighoff et al. 2023
      // "Scaling Data-Constrained Language Models" lineage): under a
      // training budget of 2× the corpus, each source's UNIFORM share
      // implies an epoch count over its available tokens —
      // epochs_e4 = share·1e4 div available — plus the repeated-token
      // mass and the >4-epochs flag (the point where repetition's
      // value decays in the paper's fits). The planning table that
      // says WHICH sources the mixture will be forced to repeat.
      // Exact integers end-to-end; the budget/share scalars ride a
      // 1-row broadcast; the remainder election ranks sources by name
      // (deterministic, sources ≪ corpus).
      val toks = docs(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy("source").agg(sum("t").as("n_tokens"))
      val tot = toks.agg(sum("n_tokens").as("tot"),
        count(lit(1)).as("n_sources"))
      val w = Window.orderBy("source")
      toks.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(w).cast("long"))
        // budget = 2·tot, split evenly; first (budget % n_sources)
        // sources by name absorb the remainder so shares sum EXACTLY
        .withColumn("share",
          expr("(2 * tot) div n_sources + if(rk <= (2 * tot) % n_sources, 1, 0)"))
        .withColumn("epochs_e4", expr("share * 10000 div n_tokens"))
        .withColumn("repeated_tokens", greatest(col("share") - col("n_tokens"), lit(0L)))
        .withColumn("over_4_epochs", (col("epochs_e4") > 40000L).cast("boolean"))
        .select("source", "n_tokens", "share", "epochs_e4", "repeated_tokens",
          "over_4_epochs")
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source,
          SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(n_tokens) AS tot, CAST(COUNT(*) AS BIGINT) AS n_sources FROM toks),
      rk AS (
        SELECT toks.*, tot.*, ROW_NUMBER() OVER (ORDER BY source) AS rk
        FROM toks CROSS JOIN tot),
      sh AS (
        SELECT *, (2 * tot) // n_sources
            + CASE WHEN rk <= (2 * tot) % n_sources THEN 1 ELSE 0 END AS share
        FROM rk)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(share AS BIGINT) AS share,
        CAST(share * 10000 // n_tokens AS BIGINT) AS epochs_e4,
        CAST(greatest(share - n_tokens, 0) AS BIGINT) AS repeated_tokens,
        share * 10000 // n_tokens > 40000 AS over_4_epochs
      FROM sh ORDER BY source""")),

    GraftQuery("l_multimodal_meta", (s, dir) => {
      // binary payload + metadata extraction, oracle-checked on byte
      // length and md5 (bytes are the utf-8 text, so DuckDB can replay)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "text/plain")
      media.select(col("media_id"),
          length(col("media")).cast("long").as("n_bytes"),
          md5(col("media")).as("checksum"),
          col("media_type"))
        .orderBy("media_id")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        md5(text) AS checksum,
        'text/plain' AS media_type
      FROM documents ORDER BY media_id""")),

    GraftQuery("l_multimodal_decode", (s, dir) => {
      // mapPartitions batched decode; the stub codec derives fake
      // dimensions from first/last payload bytes, which the oracle can
      // replay because the docs are ASCII (byte == codepoint)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "image/fake")
      Multimodal.decode(media).orderBy("media_id")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        CAST(CASE WHEN length(text) = 0 THEN 0
          ELSE (ascii(substring(text, 1, 1)) % 128) + 1 END AS INTEGER) AS width,
        CAST(CASE WHEN length(text) = 0 THEN 0
          ELSE (ascii(substring(text, length(text), 1)) % 128) + 1 END AS INTEGER) AS height,
        md5(text) AS checksum
      FROM documents ORDER BY media_id""")),

    GraftQuery("l_multimodal_resize", (s, dir) => {
      // resize stage: aspect-preserving fit of the decoded dimensions
      // into a 64px box — integer math over the decode output, so the
      // oracle can replay it exactly; the pixel transform itself is
      // the stubbed-codec half (same mapPartitions pass as decode)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "image/fake")
      Multimodal.resizeSpec(Multimodal.decode(media), maxDim = 64)
        .select(col("media_id"), col("width"), col("height"),
          col("out_width"), col("out_height"), col("resized"))
        .orderBy("media_id")
    }, Some("""
      WITH d AS (
        SELECT doc_id AS media_id,
          CAST(CASE WHEN length(text) = 0 THEN 0
            ELSE (ascii(substring(text, 1, 1)) % 128) + 1 END AS INTEGER) AS width,
          CAST(CASE WHEN length(text) = 0 THEN 0
            ELSE (ascii(substring(text, length(text), 1)) % 128) + 1 END AS INTEGER) AS height
        FROM documents)
      SELECT media_id, width, height,
        CAST(CASE WHEN greatest(width, height) <= 64 THEN width
          ELSE greatest(1, (width * 64) // greatest(width, height)) END AS INTEGER)
          AS out_width,
        CAST(CASE WHEN greatest(width, height) <= 64 THEN height
          ELSE greatest(1, (height * 64) // greatest(width, height)) END AS INTEGER)
          AS out_height,
        greatest(width, height) > 64 AS resized
      FROM d ORDER BY media_id""")),

    GraftQuery("l_multimodal_audio", (s, dir) => {
      // audio-shaped decode: same batched mapPartitions plumbing,
      // stream-parameter metadata; integer-only stub → exact oracle
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "audio/fake")
      Multimodal.decodeAudio(media).orderBy("media_id")
    }, Some("""
      WITH b AS (
        SELECT doc_id AS media_id,
          CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          ascii(substring(text, 1, 1)) % 128 AS first_b,
          ascii(substring(text, length(text), 1)) % 128 AS last_b,
          md5(text) AS checksum
        FROM documents),
      p AS (
        SELECT media_id, n_bytes,
          CAST(CASE WHEN n_bytes = 0 THEN 0
            ELSE 8000 + (first_b % 8) * 1000 END AS INTEGER) AS sample_rate,
          CAST(CASE WHEN n_bytes = 0 THEN 0 ELSE (last_b % 2) + 1 END AS INTEGER) AS n_channels,
          checksum
        FROM b)
      SELECT media_id, n_bytes, sample_rate, n_channels,
        CASE WHEN n_bytes = 0 THEN 0
          ELSE n_bytes * 8000 // (sample_rate * n_channels) END AS duration_ms,
        checksum
      FROM p ORDER BY media_id""")),

    GraftQuery("l_multimodal_frames", (s, dir) => {
      // frame sampling: 4 windows of 16 bytes; oracle on frame md5s
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "video/fake")
      Multimodal.frameSample(media, n = 4, frameBytes = 16)
        .select(col("media_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }, Some("""
      -- DuckDB lacks blob substring; the docs are ASCII so char slices
      -- of the VARCHAR hash identically to the byte slices Spark takes
      WITH m AS (SELECT doc_id AS media_id, text AS media FROM documents),
      f AS (
        SELECT media_id, CAST(i.range AS BIGINT) AS frame_idx,
          substring(media,
            CAST(i.range * GREATEST(octet_length(CAST(media AS BLOB)) - 16, 1) // 3 AS BIGINT) + 1,
            16) AS frame
        FROM m CROSS JOIN range(0, 4) i)
      SELECT media_id, frame_idx, md5(frame) AS frame_md5
      FROM f ORDER BY media_id, frame_idx"""))
  )
}
