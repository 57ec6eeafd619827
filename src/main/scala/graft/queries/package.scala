package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col => _, _}

/** What the query suites share: the table reads, the span assembly,
  * the time constants and the SQL fragments every suite interpolates
  * into its DuckDB oracle. Each is defined here once; the suites call
  * them by these names.
  */
package object queries {
  /** Epoch milliseconds of a (possibly ntz) timestamp column. Session
    * timezone is UTC everywhere, so ntz→ltz cast is the identity
    * instant and matches DuckDB's `epoch_ms` on the same parquet.
    */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** DuckDB-compatible rounding; plain `round` is Spark's. Spark's
    * builtin rounds the decimal expansion of the double (BigDecimal
    * HALF_UP) while DuckDB computes `std::round(x * 10^k) / 10^k` in
    * doubles — near .xxx5 boundaries the two disagree, which breaks
    * exact hash comparison against the oracle. Delegates to the native
    * [[graft.functions.DuckRound]] expression (sign-of-zero preserving;
    * a floor()-based column emulation routes through BIGINT and turns
    * DuckDB's -0.0 into +0.0, breaking byte-exact hashes), which the
    * session's [[graft.functions.GraftExtensions]] installs as
    * `graft_round`.
    */
  def duckRound(c: Column, scale: Int): Column =
    call_function("graft_round", c.cast("double"), lit(scale))

  // ---- table reads -------------------------------------------------

  private[queries] def table(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.df(s, dir, n)
  private[queries] def events(s: SparkSession, dir: String): DataFrame = table(s, dir, "events")
  private[queries] def docs(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  private[queries] def embs(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** The test tables are single-file/single-row-group parquet, so the
    * scan is one input split; the md5/shingle/cosine pipelines are
    * CPU-bound and would run on one core until the first shuffle. An
    * up-front repartition on the key ([[graft.Tables.keyed]]) spreads
    * them across the cluster — on a real multi-split layout this is a
    * no-op decision (splits already provide parallelism) and would be
    * dropped. The scan-riding queries (sampling, PII scrub, scalar
    * stats) read the plain `docs`/`embs` and stay zero-shuffle.
    */
  private[queries] def keyedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.keyed(s, dir, "documents", "doc_id")
  private[queries] def keyedEmbs(s: SparkSession, dir: String): DataFrame =
    Tables.keyed(s, dir, "embeddings", "vec_id")

  /** Begin/end spans over the raw events ([[graft.Lakehouse.userSpans]]). */
  private[queries] def spans(s: SparkSession, dir: String): DataFrame =
    Lakehouse.userSpans(events(s, dir))

  // ---- time constants ----------------------------------------------

  private[queries] val minuteMs = 60000L
  private[queries] val hourMs = 3600000L
  private[queries] val dayMs = 86400000L
  /** Deploy cutover: the corpus midpoint (Jan 16 2024 00:00 UTC), one
    * constant so m_deploy_compare and m_duration_shift agree.
    */
  private[queries] val cutoverMs = 1705363200000L

  // ---- exact integer math ------------------------------------------

  /** Exact integer floor(sqrt(x)) for x ≥ 0: IEEE sqrt is correctly
    * rounded (identical in both engines), and the ±1 correction makes
    * the result exact even at the rounding boundary.
    */
  private[queries] def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    s0 + when((s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L) -
      when(s0 * s0 > x, 1L).otherwise(0L)
  }

  private[queries] val isqrtSql = // same ±1-corrected isqrt over BIGINT column `x`
    """CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
       + CASE WHEN (CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) + 1)
                   * (CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) + 1) <= x
              THEN 1 ELSE 0 END
       - CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
                   * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
              THEN 1 ELSE 0 END"""

  // ---- money (TPC-H and measure sums) ------------------------------

  /** Decimal-money FRAGMENTS, written in the syntax subset valid in
    * BOTH Spark `expr(...)` and DuckDB SQL — each site interpolates
    * the SAME string into both sides, so the arithmetic cannot drift.
    * Why decimal: a double-precision sum is fold-order dependent, and
    * at sf1 the parallel partial sums landed one ulp across a cent
    * rounding boundary in a q5 group (….96 vs ….97 after round) —
    * decimal sums are bit-exact at any scale and parallelism, and both
    * engines convert the identical decimal to the identical double.
    * Every money column in the testdata is an exact 2-decimal value
    * (verified), so the decimal cast recovers exact cents. Ratios and
    * averages of money sums stay double: their divergence is divided
    * by group size and sits orders of magnitude inside any rounding
    * boundary (analysis in PLANS.md round-9).
    */
  private[queries] val decPrice = "cast(l_extendedprice as decimal(18,2))"
  private[queries] val decDisc1 = "(cast(1 as decimal(3,2)) - cast(l_discount as decimal(4,2)))"
  private[queries] val decTax1 = "(cast(1 as decimal(3,2)) + cast(l_tax as decimal(4,2)))"
  private[queries] val decValue = "cast(value as decimal(18,2))"
  private[queries] val decTotalPrice = "cast(o_totalprice as decimal(18,2))"
  /** `cast(round(<decimal agg>, s) as double)` — the exact decimal
    * result surfaced as the identical double on both engines.
    */
  private[queries] def money(aggExpr: String, scale: Int = 2): String =
    s"cast(round($aggExpr, $scale) as double)"

  private[queries] val moneyRevenueSql: String =
    money(s"sum($decPrice * $decDisc1)")
  private[queries] def moneyRevenue: Column = expr(moneyRevenueSql)

  // ---- oracle SQL fragments ----------------------------------------

  /** DuckDB whitespace tokens of `text` (see TextAnalysis.whitespaceTokens). */
  private[queries] val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  /** DuckDB word n-gram shingles over token list `t`, kept lock-step
    * with [[graft.operators.Dedup.wordShingles]].
    */
  private[queries] def oracleShingles(n: Int): String = {
    val lastTok = n - 1
    s"list_distinct(list_transform(range(1, GREATEST(len(t) - $lastTok, 1) + 1), i -> array_to_string(t[i:i+$lastTok], ' ')))"
  }

  // The MinHash-LSH chain as DuckDB CTEs, lock-step with the Spark
  // chain in graft.operators.Dedup (lshSignatures, lshCandidates,
  // withVerifySets): 8 hashes, 4 bands of 2 rows.

  /** The signature CTEs `ex`, `dg`, `mh` and `sig`(doc_id, sig) over
    * `src`(doc_id, s): hash i is the (i % 4)-th 8-hex chunk of
    * md5(shingle) for i < 4 and of md5('x|' || shingle) above, and the
    * signature is each hash's min over the doc's shingles.
    */
  private[queries] def oracleSignatures(src: String): String = s"""ex AS (SELECT doc_id, unnest(s) AS shingle FROM $src),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex),
      mh AS (
        SELECT doc_id, seed.seed,
          min(substring(CASE WHEN seed.seed < 4 THEN d0 ELSE d1 END,
                        1 + 8 * (seed.seed % 4), 8)) AS mh
        FROM dg CROSS JOIN (SELECT CAST(range AS INTEGER) AS seed FROM range(0, 8)) seed
        GROUP BY doc_id, seed.seed),
      sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id)"""

  /** The band and candidate CTEs `bands` and `cand`(a, b), a < b, over
    * the signatures in `src`(doc_id, sig).
    */
  private[queries] def oracleLshCandidates(src: String): String = s"""bands AS (
        SELECT doc_id, b.b AS band, md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM $src CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""

  /** The verify-set CTE `shl`(doc_id, hs): the distinct 56-bit md5
    * longs of each shingle set in `src`(doc_id, s), the mirror of
    * [[graft.operators.Dedup.hashShingles56]].
    */
  private[queries] def oracleHash56Sets(src: String): String = s"""shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM $src)"""

  /** The whole chain over every document, as a `WITH` head: 3-word
    * shingles `sh`, then [[oracleSignatures]], [[oracleLshCandidates]]
    * and [[oracleHash56Sets]] over them.
    */
  private[queries] val oracleLshChain: String = s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ${oracleSignatures("sh")},
      ${oracleLshCandidates("sig")},
      ${oracleHash56Sets("sh")}"""

  /** [[oracleLshChain]] ending in CTE `e`(a, b), the candidates at
    * Jaccard ≥ 0.5: the oracle of [[graft.operators.Dedup.lshEdges]].
    */
  private[queries] val oracleLshEdges: String = s"""$oracleLshChain,
      e AS (
        SELECT cand.a, cand.b
        FROM cand JOIN shl sa ON sa.doc_id = cand.a JOIN shl sb ON sb.doc_id = cand.b
        WHERE len(list_intersect(sa.hs, sb.hs)) * 2
                >= len(list_distinct(sa.hs || sb.hs)))"""

  /** The quality-score CTEs `qf` and `q`(doc_id, `carry`..., `extra`...,
    * q10k BIGINT), lock-step with TextAnalysis.qualityScore·10⁴ (the
    * l_curation_pipeline scorer). `carry` columns pass through from
    * `documents`; `extra` are expressions over `qf` that `q` adds.
    */
  private[queries] def oracleQ10k(carry: Seq[String] = Nil, extra: Seq[String] = Nil): String = s"""qf AS (
        SELECT doc_id, ${carry.map(_ + ", ").mkString}string_split_regex(trim(text), '\\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT doc_id,${(carry ++ extra).map(" " + _ + ",").mkString}
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k
        FROM qf)"""

  /** The thread-span-assembly oracle CTE chain ending in `spans` — the
    * single source of truth for every query whose DuckDB oracle needs
    * the spans of [[graft.Lakehouse.userSpans]] (the otel and async
    * views, the perfetto export, the trace analytics). `scope` restricts
    * the event stream for JIT process-scoped instances (e.g.
    * "WHERE user_id = 7").
    */
  private[queries] def oracleSpansCte(scope: String): String = s"""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events $scope),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin),
      spans AS (
        SELECT b.user_id, span_id, name, CAST(depth AS BIGINT) AS depth, begin_ms, end_ms,
          end_ms - begin_ms AS duration_ms
        FROM b JOIN e USING (user_id, depth, seq)
        WHERE end_ms >= begin_ms)"""

  private[queries] val oracleSpans = oracleSpansCte("")
}
