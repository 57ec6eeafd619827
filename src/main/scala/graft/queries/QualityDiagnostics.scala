package graft.queries

import graft.operators.TextAnalysis
import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality diagnostics (SURVEY §2 LLM pipeline): per-source quantile
  * normalization, drift, length correlation, gate agreement, and the
  * threshold and novelty curves.
  */
object QualityDiagnostics extends QuerySuite {

  val queries: Seq[GraftQuery] = Seq(

    // `l_quality_quantile_norm`: per-source quantile normalization of
    // the quality score — percentile rank e4 within source — the
    // calibration step before cross-source mixing ("CommonCrawl 0.8 ≠
    // books 0.8"; ranks compare, raw scores don't).
    GraftQuery("l_quality_quantile_norm", (s, dir) => {
      // percentile rank e4 of the quality score WITHIN source —
      // rank-based calibration so scores compare across sources.
      // row_number (doc_id tie-break) keeps the rank deterministic
      // under equal scores; pct = (rk-1)·10⁴ div (n-1), 0 for a
      // single-doc source.
      val scored = keyedDocs(s, dir).select(col("doc_id"), col("source"),
        duckRound(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"))
      val w = Window.partitionBy("source").orderBy(col("q10k"), col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("q10k").as("quality_e4"),
          when(col("n") > 1L, expr("(rk - 1) * 10000 div (n - 1)"))
            .otherwise(0L).as("pct_e4"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH ${oracleQ10k(Seq("source"))},
      r AS (
        SELECT doc_id, source, q10k,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY q10k, doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM q)
      SELECT doc_id, source, q10k AS quality_e4,
        CAST(CASE WHEN n > 1 THEN (rk - 1) * 10000 // (n - 1) ELSE 0 END AS BIGINT) AS pct_e4
      FROM r ORDER BY doc_id""")),

    // `l_quality_drift`: per-source quality-score distribution vs the
    // corpus — decile-bucket shares (q10k div 1000) and the per-source
    // L1 distance from the corpus-wide share vector, e4. The "is this
    // crawl slice degrading" check a curation pipeline runs per
    // snapshot before mixing.
    GraftQuery("l_quality_drift", (s, dir) => {
      val q10k = round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      // decile bucket 0..9 from the integer q10k (shared scorer with
      // l_curation_pipeline — same rounding, same oracle fragment)
      val sb = keyedDocs(s, dir)
        .select(col("source"), least(floor(q10k / 1000).cast("long"), lit(9L)).as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val sources = sb.select("source").distinct()
      val buckets = s.range(10).select(col("id").as("bucket"))
      val grid = sources.crossJoin(broadcast(buckets))
        .join(sb, Seq("source", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val srcTot = grid.groupBy("source").agg(sum("n").as("src_total"))
      val corpus = grid.groupBy("bucket").agg(sum("n").as("bn"))
      val corpusTot = corpus.agg(sum("bn").as("grand"))
      val corpusShare = corpus.crossJoin(broadcast(corpusTot))
        .select(col("bucket"), expr("bn * 10000 div grand").as("corpus_share_e4"))
      grid.join(srcTot, "source")
        .withColumn("share_e4", expr("n * 10000 div src_total"))
        .join(broadcast(corpusShare), "bucket")
        .withColumn("d_e4", abs(col("share_e4") - col("corpus_share_e4")))
        .groupBy("source")
        .agg(sum("n").as("n_docs"), sum("d_e4").as("l1_vs_corpus_e4"))
        .orderBy("source")
    }, Some("""
      WITH f AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT source,
          LEAST(CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) // 1000, 9) AS bucket
        FROM f),
      sb AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
      grid AS (
        SELECT s.source, b.bucket, COALESCE(sb.n, 0) AS n
        FROM (SELECT DISTINCT source FROM sb) s
        CROSS JOIN (SELECT unnest(range(10)) AS bucket) b
        LEFT JOIN sb ON sb.source = s.source AND sb.bucket = b.bucket),
      srct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS src_total FROM grid GROUP BY 1),
      cb AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS bn FROM grid GROUP BY 1),
      cs AS (SELECT bucket, bn * 10000 // (SELECT CAST(SUM(bn) AS BIGINT) FROM cb)
               AS corpus_share_e4 FROM cb),
      dd AS (
        SELECT g.source, g.n,
          abs(g.n * 10000 // st.src_total - cs.corpus_share_e4) AS d_e4
        FROM grid g JOIN srct st USING (source) JOIN cs USING (bucket))
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(SUM(d_e4) AS BIGINT) AS l1_vs_corpus_e4
      FROM dd GROUP BY 1 ORDER BY source""")),

    GraftQuery("l_quality_len_corr", (s, dir) => {
      // Pearson correlation of token count vs quality score e4, per
      // source — "is the quality gate just a length gate" (if |corr|
      // is high, the expensive scorer is re-deriving length). Exact
      // integer arithmetic end-to-end: num = n·Σxy − Σx·Σy and both
      // variance terms are exact i64 (per-source n bounds the
      // products: n ≤ 1e6 docs/source · x ≤ 1e4 tokens · y ≤ 1e4
      // keeps n·Σxy·1e4 under i64); the denominator uses the exact
      // ±1-corrected isqrt (L63's trick) on EACH variance term, so
      // the product of roots — not the root of the (overflowing)
      // product — is the shared cross-engine contract.
      val q10k = round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      val d = keyedDocs(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("x"), q10k.as("y"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
        .withColumn("num", expr("n * sxy - sx * sy"))
        .withColumn("denx", expr("n * sxx - sx * sx"))
        .withColumn("deny", expr("n * syy - sy * sy"))
        .withColumn("rxy", isqrt(col("denx")) * isqrt(col("deny")))
        .withColumn("corr_e4",
          when(col("denx") > 0L && col("deny") > 0L,
            expr("num * 10000 div greatest(1, rxy)"))
            .otherwise(lit(0L)))
        .select("source", "n", "num", "denx", "deny", "corr_e4")
        .orderBy("source")
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
        FROM documents),
      d AS (
        SELECT source, CAST(len(t) AS BIGINT) AS x,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS y
        FROM f),
      agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
        FROM d GROUP BY 1),
      t2 AS (
        SELECT source, n, n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS denx, n * syy - sy * sy AS deny
        FROM agg),
      r AS (
        SELECT *,
          CAST(floor(sqrt(CAST(denx AS DOUBLE))) AS BIGINT) AS rx0,
          CAST(floor(sqrt(CAST(deny AS DOUBLE))) AS BIGINT) AS ry0
        FROM t2),
      rr AS (
        SELECT *,
          rx0 + CASE WHEN (rx0 + 1) * (rx0 + 1) <= denx THEN 1 ELSE 0 END
              - CASE WHEN rx0 * rx0 > denx THEN 1 ELSE 0 END AS rx,
          ry0 + CASE WHEN (ry0 + 1) * (ry0 + 1) <= deny THEN 1 ELSE 0 END
              - CASE WHEN ry0 * ry0 > deny THEN 1 ELSE 0 END AS ry
        FROM r)
      SELECT source, n, num, denx, deny,
        CASE WHEN denx > 0 AND deny > 0
             THEN num * 10000 // GREATEST(1, rx * ry) ELSE 0 END AS corr_e4
      FROM rr ORDER BY source""")),

    // `l_gate_agreement`: quality-gate ensemble agreement — C4-style
    // vs Gopher-style keep decisions as a 2×2 confusion matrix with
    // exact-integer Cohen's kappa (e4). Two named gates that mostly
    // agree are redundant; two that disagree wildly mean the corpus
    // needs a human look — the ensemble-curation diagnostic run before
    // stacking gates in a pipeline.
    GraftQuery("l_gate_agreement", (s, dir) => {
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val stop = array(lit("the"), lit("and"), lit("of"), lit("to"), lit("in"))
      val d = keyedDocs(s, dir)
        .withColumn("t", t)
        .withColumn("nw", size(col("t")).cast("long"))
        .withColumn("chars",
          aggregate(transform(col("t"), w => length(w).cast("long")), lit(0L), (a, x) => a + x))
        .withColumn("alpha_w",
          size(filter(col("t"), w => w.rlike("[a-zA-Z]"))).cast("long"))
        // C4-style: enough words, a stopword present, sane mean word
        // length (3 ≤ chars/nw ≤ 10, cross-multiplied exact)
        .withColumn("c4_keep",
          when(col("nw") >= 20 && arrays_overlap(col("t"), stop) &&
            col("chars") >= col("nw") * 3 && col("chars") <= col("nw") * 10, 1L)
            .otherwise(0L))
        // Gopher-style: word-count bounds + alphabetic-word share ≥ 70%
        .withColumn("gopher_keep",
          when(col("nw") >= 20 && col("nw") <= 100000 &&
            col("alpha_w") * 10 >= col("nw") * 7, 1L).otherwise(0L))
      val cm = d.groupBy("c4_keep", "gopher_keep").agg(count(lit(1)).as("n_docs"))
        .localCheckpoint() // ≤ 4 rows; kappa scalars re-read it
      val k = cm.agg(
        sum("n_docs").as("n"),
        sum(when(col("c4_keep") === col("gopher_keep"), col("n_docs")).otherwise(0L)).as("agree"),
        sum(when(col("c4_keep") === 1, col("n_docs")).otherwise(0L)).as("c4_yes"),
        sum(when(col("gopher_keep") === 1, col("n_docs")).otherwise(0L)).as("g_yes"))
      cm.crossJoin(broadcast(k))
        .withColumn("po_e4", expr("agree * 10000 div n"))
        // marginal e4 shares FIRST (numerators linear in n): the earlier
        // (c4_yes·g_yes + …)·10⁴ form is O(n²)·10⁴ and overflows Long at
        // n ≈ 1e8 docs (ADVICE r8) — at odds with corpus-scale framing.
        // Truncation schedule (div n, then div 10⁴) mirrored in the oracle.
        .withColumn("c4y_e4", expr("c4_yes * 10000 div n"))
        .withColumn("gy_e4", expr("g_yes * 10000 div n"))
        .withColumn("pe_e4",
          expr("(c4y_e4 * gy_e4 + (10000 - c4y_e4) * (10000 - gy_e4)) div 10000"))
        // pe_e4 = 10000 (expected agreement total — both gates' keep
        // shares truncate to 0 or 1) leaves kappa UNDEFINED; define the
        // degenerate case as 0 explicitly on BOTH engines (ADVICE r9 —
        // the old greatest(…,1) guard emitted a meaningless ~-10⁷).
        .withColumn("kappa_e4",
          expr("CASE WHEN pe_e4 >= 10000 THEN CAST(0 AS BIGINT) " +
            "ELSE (po_e4 - pe_e4) * 10000 div (10000 - pe_e4) END"))
        .select("c4_keep", "gopher_keep", "n_docs", "po_e4", "pe_e4", "kappa_e4")
        .orderBy("c4_keep", "gopher_keep")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, $oracleTokens AS t FROM documents),
      f AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS nw,
          CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS chars,
          CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_w,
          CAST(len(list_intersect(t, ['the','and','of','to','in'])) AS BIGINT) AS n_stop
        FROM d),
      g AS (
        SELECT doc_id,
          CAST(CASE WHEN nw >= 20 AND n_stop > 0
                     AND chars >= nw * 3 AND chars <= nw * 10
               THEN 1 ELSE 0 END AS BIGINT) AS c4_keep,
          CAST(CASE WHEN nw >= 20 AND nw <= 100000 AND alpha_w * 10 >= nw * 7
               THEN 1 ELSE 0 END AS BIGINT) AS gopher_keep
        FROM f),
      cm AS (
        SELECT c4_keep, gopher_keep, CAST(count(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1, 2),
      k AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN c4_keep = gopher_keep THEN n_docs ELSE 0 END) AS BIGINT) AS agree,
          CAST(SUM(CASE WHEN c4_keep = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS c4_yes,
          CAST(SUM(CASE WHEN gopher_keep = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS g_yes
        FROM cm),
      k2 AS (
        SELECT agree * 10000 // n AS po_e4,
          c4_yes * 10000 // n AS c4y_e4,
          g_yes * 10000 // n AS gy_e4
        FROM k),
      k3 AS (
        SELECT po_e4,
          (c4y_e4 * gy_e4 + (10000 - c4y_e4) * (10000 - gy_e4)) // 10000 AS pe_e4
        FROM k2)
      SELECT cm.c4_keep, cm.gopher_keep, cm.n_docs, k3.po_e4, k3.pe_e4,
        CASE WHEN k3.pe_e4 >= 10000 THEN CAST(0 AS BIGINT)
             ELSE (k3.po_e4 - k3.pe_e4) * 10000 // (10000 - k3.pe_e4)
        END AS kappa_e4
      FROM cm CROSS JOIN k3
      ORDER BY c4_keep, gopher_keep""")),

    // `l_quality_threshold_curve`: the quality-gate counterpart of
    // L78's dedup-threshold curve — for each candidate quality cutoff
    // (score e4, 1000-step grid), documents and tokens surviving and
    // the surviving token share. A quality gate's threshold is a
    // token-budget decision; this is the table that decision reads
    // (raise the bar 1 step = lose how many tokens?). Uses the SAME
    // q10k scorer as l_curation_pipeline / l_quality_quantile_norm so
    // the priced knob is the one the pipeline actually runs.
    GraftQuery("l_quality_threshold_curve", (s, dir) => {
      // localCheckpoint: scored feeds the total AND the grid
      // expansion, and the threshold predicate was inferring
      // isnotnull(q10k) and pushing it below the projection — the
      // textstats kernel (a full text pass) evaluated once in the
      // filter and once in the projection (ScaleInvariantSpec's
      // kernel-in-filter net caught it). The cut materializes two
      // longs per doc once; the kernel runs exactly once per row.
      val scored = keyedDocs(s, dir).select(
        round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"),
        // n_tokens off the SAME textstats kernel the score reads —
        // codegen CSE makes the token count free; the java-regex
        // split this replaces was a second full text pass
        TextAnalysis.tokenCount(col("text")).as("toks"))
        .localCheckpoint()
      val tot = scored.agg(sum("toks").as("total_tokens"))
      val grid = s.createDataFrame((0 to 9).map(i => Tuple1(i * 1000L)))
        .toDF("threshold_e4")
      scored.crossJoin(broadcast(grid))
        .where(col("q10k") >= col("threshold_e4"))
        .groupBy("threshold_e4")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("token_share_e4", expr("tokens * 10000 div total_tokens"))
        .select("threshold_e4", "n_docs", "tokens", "token_share_e4")
        .orderBy("threshold_e4")
    }, Some(s"""
      WITH ${oracleQ10k(Seq("source"), Seq("CAST(len(t) AS BIGINT) AS toks"))},
      th AS (SELECT CAST(unnest(range(0, 10)) * 1000 AS BIGINT) AS threshold_e4),
      surv AS (
        SELECT th.threshold_e4, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(SUM(q.toks) AS BIGINT) AS tokens
        FROM q JOIN th ON q.q10k >= th.threshold_e4
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_tokens FROM q)
      SELECT threshold_e4, n_docs, tokens,
        tokens * 10000 // t.total_tokens AS token_share_e4
      FROM surv CROSS JOIN tot t ORDER BY threshold_e4""")),

    // `l_novelty_curve`: marginal novelty as the corpus grows — docs
    // in ingestion-order quarters, each hash credited to the quarter
    // of its FIRST appearance (normalized fingerprint, L57's scrub):
    // new-hash rate per quarter + cumulative distinct. The
    // diminishing-returns curve a "do we need another crawl" decision
    // reads.
    GraftQuery("l_novelty_curve", (s, dir) => {
      val norm = call_function("graft_normalize", col("text"))
      val d = keyedDocs(s, dir).select(col("doc_id"), md5(norm).as("h"))
        .localCheckpoint() // scalar + first-appearance + per-quarter reads
      // ingestion-order quarters off the id space (deterministic, no
      // sort): quarter = doc_id * 4 div (max_id + 1)
      val maxId = d.agg(max("doc_id").as("m"))
      val withQ = d.crossJoin(broadcast(maxId))
        .withColumn("quarter", expr("least(doc_id * 4 div (m + 1), 3)"))
      val perQuarter = withQ.groupBy("quarter").agg(count(lit(1)).as("n_docs"))
      // each hash credited to the quarter of its FIRST appearance
      val firstQ = withQ.groupBy("h").agg(min("quarter").as("quarter"))
        .groupBy("quarter").agg(count(lit(1)).as("n_new_hashes"))
      val w = Window.orderBy("quarter").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perQuarter.join(firstQ, Seq("quarter"), "left")
        .withColumn("n_new_hashes", coalesce(col("n_new_hashes"), lit(0L)))
        .withColumn("novelty_e4", expr("n_new_hashes * 10000 div n_docs"))
        .withColumn("cum_distinct", sum("n_new_hashes").over(w))
        .select("quarter", "n_docs", "n_new_hashes", "novelty_e4", "cum_distinct")
        .orderBy("quarter")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS h
        FROM documents),
      m AS (SELECT MAX(doc_id) AS m FROM d),
      q AS (SELECT doc_id, h, LEAST(doc_id * 4 // (m.m + 1), 3) AS quarter FROM d, m),
      pq AS (SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_docs FROM q GROUP BY 1),
      fq AS (
        SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_new_hashes
        FROM (SELECT h, MIN(quarter) AS quarter FROM q GROUP BY h) GROUP BY 1)
      SELECT pq.quarter, pq.n_docs,
        COALESCE(fq.n_new_hashes, 0) AS n_new_hashes,
        COALESCE(fq.n_new_hashes, 0) * 10000 // pq.n_docs AS novelty_e4,
        CAST(SUM(COALESCE(fq.n_new_hashes, 0)) OVER (ORDER BY pq.quarter
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct
      FROM pq LEFT JOIN fq USING (quarter)
      ORDER BY quarter"""))
  )
}
