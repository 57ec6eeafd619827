package graft.queries

import graft.operators.TextAnalysis.whitespaceTokens
import graft.operators.{Bpe, Cms, TextAnalysis}
import graft.{GraftQuery, QuerySuite, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokens and packing (SURVEY §2 LLM pipeline): token counts, BPE
  * training and encoding, chunking, sequence packing, fertility,
  * vocabulary and Zipf curves, token apportioning, TF-IDF and keyword
  * retrieval, heavy hitters.
  *
  * Scale shape: the pack plan and mixture reduce the corpus to
  * per-bucket / per-source partial aggregates before any arithmetic;
  * incremental dedup joins the batch against broadcast-or-bucketed
  * fingerprints (band join is new×existing only, never lake×lake);
  * drift operates on the sources×10 grid after one partial-agg pass.
  *
  * Tokenizer SERVING — applying a trained
  * BPE vocabulary to text (Sennrich et al. 2016 §3's encode loop), the
  * stage every downstream token count/packing/budget query consumes.
  * `l_bpe_merge` (L36) pins one induction round cross-engine and
  * BpeSpec pins multi-round training against an independent in-memory
  * implementation; `l_bpe_encode` closes the remaining edge: a FULL
  * train→encode composition checked cross-engine, with the encode
  * target deliberately different from the training corpus slice so
  * application is exercised as its own operator, not a byproduct of
  * training.
  *
  * Scale shape: training iterates on the driver (one broadcast winning
  * pair per rank — the Lloyd convention); encoding is rank-sequential
  * window passes over the TARGET only (O(ranks · target tokens)),
  * with the corpus untouched at serve time — exactly how a trained
  * tokenizer deploys against a new document stream.
  *
  * Scale shape: the CMS build shuffles (j, bucket) cells only — 1024
  * groups — and the probe join broadcasts the sketch; diversity is
  * two keyed partial-agg groupBys (token counts ride one shuffle);
  * canonical selection reuses the LSH band join (never all-pairs),
  * label propagation over the (tiny) edge set, and a per-cluster
  * window whose partitions are cluster-sized.
  */
object TokensPacking extends QuerySuite {

  /** How many merge ranks to train/apply, and the encode target's
    * token prefix length. The target (first `targetLen` tokens of
    * each doc) overlaps the corpus but is NOT a training-time slice:
    * merges that straddle position `targetLen` in the corpus must not
    * fire in the target, which only a genuine separate application
    * pass gets right.
    */
  private val ranks = 3

  private val targetLen = 16

  /** The merge-application CTE chain (gaps-and-islands parity,
    * identical to Bpe.applyMergeJoined and l_bpe_merge's oracle),
    * parameterized so the training unroll and the target application
    * share one definition. Reads `src`, pairs from `top`, emits
    * `out(doc_id, pos, w)` with positions renumbered.
    */
  private def applyCtes(src: String, top: String, out: String, sfx: String): String = s"""
      p$sfx AS (SELECT *, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM $src),
      m$sfx AS (SELECT p$sfx.*, tw1, tw2,
              COALESCE(p$sfx.w = tw1 AND p$sfx.w2 = tw2, FALSE) AS mergeable
            FROM p$sfx CROSS JOIN $top),
      r$sfx AS (SELECT *, SUM(CASE WHEN mergeable THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS runm
            FROM m$sfx),
      i$sfx AS (SELECT *, MIN(CASE WHEN mergeable THEN pos END)
              OVER (PARTITION BY doc_id, pos - runm) AS island_start
            FROM r$sfx),
      ma$sfx AS (SELECT *, (mergeable AND (pos - island_start) % 2 = 0) AS merged_at FROM i$sfx),
      c$sfx AS (SELECT *, COALESCE(LAG(merged_at) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS consumed
            FROM ma$sfx),
      $out AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
          CASE WHEN merged_at THEN w || '_' || w2 ELSE w END AS w
        FROM c$sfx WHERE merged_at OR NOT consumed)"""

  /** Oracle: `ranks` unrolled training rounds over the corpus (pair
    * stats → deterministic winning pair → merge), then the SAME ranks
    * applied in order to the token-prefix target. Generated, so the
    * round count always matches the Spark side.
    */
  private def bpeEncodeOracle: String = {
    val trainRounds = (1 to ranks).map { r =>
      val prev = if (r == 1) "tok" else s"tok${r - 1}"
      s"""
      pc$r AS (SELECT w, w2, COUNT(*) AS pair_n FROM (
               SELECT *, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM $prev)
             WHERE w2 IS NOT NULL GROUP BY 1, 2),
      top$r AS (SELECT w AS tw1, w2 AS tw2 FROM pc$r ORDER BY pair_n DESC, w, w2 LIMIT 1),${applyCtes(prev, s"top$r", s"tok$r", s"t$r")}"""
    }.mkString(",")
    val applyRounds = (1 to ranks).map { r =>
      val prev = if (r == 1) "enc0" else s"enc${r - 1}"
      applyCtes(prev, s"top$r", s"enc$r", s"e$r")
    }.mkString(",")
    s"""
      WITH tok0w AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      tok AS (
        SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS w FROM tok0w),$trainRounds,
      enc0 AS (SELECT doc_id, pos, w FROM tok WHERE pos < $targetLen),$applyRounds,
      enc AS (
        SELECT doc_id, COUNT(*) AS n_enc,
          md5(string_agg(w, ' ' ORDER BY pos)) AS enc_md5
        FROM enc$ranks GROUP BY doc_id),
      raw AS (SELECT doc_id, COUNT(*) AS n_raw FROM enc0 GROUP BY doc_id)
      SELECT raw.doc_id, CAST(n_raw AS BIGINT) AS n_raw,
        CAST(n_enc AS BIGINT) AS n_enc, enc_md5
      FROM raw JOIN enc USING (doc_id)
      ORDER BY raw.doc_id"""
  }

  private val topK = 20

  private def oracleCmsBucket(tok: String): String =
    s"CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || $tok), 1, 8)) AS BIGINT) % ${Cms.Width}"

  private val oracleSeeds =
    s"(SELECT CAST(range AS BIGINT) AS j FROM range(0, ${Cms.Depth})) seeds"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_token_count", (s, dir) => {
      val txt = col("text")
      keyedDocs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(txt).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(txt).as("bpeish_tokens"),
          length(txt).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents ORDER BY doc_id""")),

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

    GraftQuery("l_bpe_encode", (s, dir) => {
      val corpus = keyedDocs(s, dir)
      val (_, merges) = Bpe.train(corpus, "text", rounds = ranks)
      // the generated oracle unrolls EXACTLY `ranks` rounds; if the
      // corpus ran out of pairs early its empty top-CTE would CROSS
      // JOIN every token away and the engines would silently diverge
      // — fail loudly instead (can't happen on real text corpora)
      require(merges.size == ranks,
        s"l_bpe_encode: corpus exhausted pairs after ${merges.size}/$ranks merges")
      val target = Bpe.tokens(corpus, "text").where(col("pos") < targetLen)
        .localCheckpoint()
      val enc = Bpe.encode(target, merges.map(m => (m.w1, m.w2)))
      val out = enc.groupBy("doc_id").agg(
        count(lit(1)).as("n_enc"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("enc_md5"))
      val raw = target.groupBy("doc_id").agg(count(lit(1)).as("n_raw"))
      raw.join(out, "doc_id")
        .select(col("doc_id"), col("n_raw"), col("n_enc"), col("enc_md5"))
        .orderBy("doc_id")
    }, Some(bpeEncodeOracle)),

    GraftQuery("l_sequence_pack", (s, dir) => {
      // GPT-style sequence packing: documents concatenated in a global
      // order and chunked into fixed 2048-token training windows. Each
      // doc's placement = (bin, offset) from the running token total —
      // computed with Prefix.runningSum (range partition + local
      // window + k offsets), NEVER a single-task global window.
      val d = keyedDocs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Prefix
        .runningSum(d, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          expr("(cum_tokens - n_tokens) div 2048").as("bin"),
          expr("(cum_tokens - n_tokens) % 2048").as("bin_offset"),
          expr("((cum_tokens - 1) div 2048) - ((cum_tokens - n_tokens) div 2048) + 1")
            .as("n_bins_spanned"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens,
        (cum_tokens - n_tokens) // 2048 AS bin,
        (cum_tokens - n_tokens) % 2048 AS bin_offset,
        ((cum_tokens - 1) // 2048) - ((cum_tokens - n_tokens) // 2048) + 1
          AS n_bins_spanned
      FROM c ORDER BY doc_id""")),

    // `l_pack_plan`: packing-strategy planner off token counts — for a
    // 2048-token training window, the window count and padding waste
    // of (a) one-doc-per-window, (b) power-of-two bucket packing
    // (docs padded to 2^(k+1), homogeneous windows — the T5/packing-
    // planner idiom off L50's histogram), (c) boundary-free
    // concatenation (the GPT-style lower bound). Three integer rows
    // that decide a real training-infra choice before any shuffle of
    // the corpus itself.
    GraftQuery("l_pack_plan", (s, dir) => {
      val W = 2048L
      val d = keyedDocs(s, dir)
        .select(TextAnalysis.tokenCount(col("text")).as("toks"))
      // per-doc window math reduces map-side to three partial sums —
      // only (strategy-level scalars × partitions) cross the wire
      val per = d.select(
        expr(s"(toks + $W - 1) div $W").as("naive_w"),       // own window(s)
        // bucket packing: pad to 2^(k+1) (the bucket's upper bound),
        // windows are homogeneous; oversize docs fall back to naive
        when(col("toks") < W,
            expr("shiftleft(1L, cast(length(bin(toks)) as int))").cast("long"))
          .otherwise(lit(0L)).as("padded"),
        when(col("toks") >= W, expr(s"(toks + $W - 1) div $W")).otherwise(lit(0L)).as("big_w"),
        col("toks"))
      // coalesce: empty input sums to null, not 0 — the scalar read
      // below must not NPE on an empty documents table
      val agg = per.agg(
        coalesce(sum("naive_w"), lit(0L)).as("naive_windows"),
        coalesce(sum("padded"), lit(0L)).as("padded_tokens"),
        coalesce(sum("big_w"), lit(0L)).as("big_windows"),
        coalesce(sum("toks"), lit(0L)).as("total_tokens")).head()
      val (naiveW, paddedT, bigW, totalT) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
      val bucketW = (paddedT + W - 1) / W + bigW
      val concatW = (totalT + W - 1) / W
      val rows = Seq(
        ("bucket_pow2", bucketW), ("concat", concatW), ("naive", naiveW))
      val out = s.createDataFrame(rows).toDF("strategy", "n_windows")
      out.withColumn("capacity_tokens", col("n_windows") * W)
        .withColumn("padding_e4",
          expr(s"(n_windows * $W - $totalT) * 10000 div (n_windows * $W)"))
        .orderBy("strategy")
    }, Some("""
      WITH d AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      per AS (
        SELECT (toks + 2047) // 2048 AS naive_w,
          CASE WHEN toks < 2048 THEN CAST(power(2, length(bin(toks))) AS BIGINT) ELSE 0 END AS padded,
          CASE WHEN toks >= 2048 THEN (toks + 2047) // 2048 ELSE 0 END AS big_w,
          toks
        FROM d),
      a AS (
        SELECT CAST(SUM(naive_w) AS BIGINT) AS naive_windows,
          CAST(SUM(padded) AS BIGINT) AS padded_tokens,
          CAST(SUM(big_w) AS BIGINT) AS big_windows,
          CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM per),
      st AS (
        SELECT 'bucket_pow2' AS strategy,
          (padded_tokens + 2047) // 2048 + big_windows AS n_windows, total_tokens FROM a
        UNION ALL
        SELECT 'concat', (total_tokens + 2047) // 2048, total_tokens FROM a
        UNION ALL
        SELECT 'naive', naive_windows, total_tokens FROM a)
      SELECT strategy, n_windows, n_windows * 2048 AS capacity_tokens,
        (n_windows * 2048 - total_tokens) * 10000 // (n_windows * 2048) AS padding_e4
      FROM st ORDER BY strategy""")),

    GraftQuery("l_chunk_split", (s, dir) => {
      // overlapping sliding-window chunking (window 48 tokens, stride
      // 32): how pretraining corpora are cut into model context
      // windows. Per-row array math + one explode — no joins, no
      // driver state; rides the scan at any scale.
      val W = 48
      val S = 32
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val starts = sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(S))
      keyedDocs(s, dir)
        // outer explode + null guard: keeps the token kernel out of a
        // scan-side inferred filter; starts is never empty (greatest
        // clamps the upper bound to >= 0), so the form is row-identical
        .select(col("doc_id"), t.as("t"), explode_outer(starts).as("start"))
        .where(col("start").isNotNull)
        .select(col("doc_id"), (col("start") / S).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          size(slice(col("t"), col("start") + 1, lit(W))).cast("long").as("n_chunk_tokens"),
          md5(array_join(slice(col("t"), col("start") + 1, lit(W)), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      st AS (SELECT doc_id, t, unnest(range(0, GREATEST(len(t), 1), 32)) AS start FROM tok)
      SELECT doc_id, start // 32 AS chunk_idx, CAST(start AS BIGINT) AS start,
        CAST(len(t[start+1 : start+48]) AS BIGINT) AS n_chunk_tokens,
        md5(array_to_string(t[start+1 : start+48], ' ')) AS chunk_hash
      FROM st ORDER BY doc_id, chunk_idx""")),

    // `l_fertility`: tokenizer fertility per (lang, source) — subword
    // tokens per whitespace word, e4 fixed-point (fertility is THE
    // standard tokenizer-suitability metric per language: a tokenizer
    // that explodes one language into 3× the subwords of another buys
    // that language less context and more compute per sentence). Here
    // the BPE-ish regex tokenizer (L10's) plays the subword encoder;
    // corpus reduces to one partial-agg pass, ratios on the
    // (lang × source) grid.
    GraftQuery("l_fertility", (s, dir) => {
      val txt = col("text")
      docs(s, dir).select(col("lang"), col("source"),
          TextAnalysis.tokenCount(txt).as("words"),
          TextAnalysis.bpeishTokenCount(txt).as("subwords"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("words").as("total_words"),
          sum("subwords").as("total_subwords"))
        .withColumn("fertility_e4",
          expr("total_subwords * 10000 div total_words"))
        .orderBy("lang", "source")
    }, Some("""
      WITH t AS (
        SELECT lang, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS words,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS subwords
        FROM documents)
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(words) AS BIGINT) AS total_words,
        CAST(sum(subwords) AS BIGINT) AS total_subwords,
        CAST(sum(subwords) AS BIGINT) * 10000 // CAST(sum(words) AS BIGINT) AS fertility_e4
      FROM t GROUP BY 1, 2
      ORDER BY lang, source"""), headline = true),

    // `l_vocab_curve`: token-occurrence coverage of the top-V
    // vocabulary for doubling V — the vocab-size-selection curve a
    // tokenizer budget decision reads (how much of the corpus does a
    // 32k vocab actually cover).
    GraftQuery("l_vocab_curve", (s, dir) => {
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val types = keyedDocs(s, dir)
        .select(explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
        .groupBy("w").agg(count(lit(1)).as("cnt")) // partial-agg: corpus → vocab
        .localCheckpoint() // ranked + totaled below; cut once
      // only the global top-16000 (the largest curve point) can appear in
      // the output, and any global top-K row is in its partition's top-K:
      // per-partition pre-prune caps the global rank window's input at
      // K × partitions rows even if the vocabulary grows with the corpus
      val maxV = 500L << 5
      val pre = types.withColumn("prk", row_number().over(
          Window.partitionBy(spark_partition_id()).orderBy(col("cnt").desc, col("w"))))
        .where(col("prk") <= maxV).drop("prk")
      val wr = Window.orderBy(col("cnt").desc, col("w"))
      val ranked = pre.withColumn("rk", row_number().over(wr).cast("long"))
      val total = types.agg(sum("cnt").as("total"))
      val thresholds = (0 to 5).map(i => 500L << i) // 500..16000
      val vs = s.createDataFrame(thresholds.map(Tuple1(_))).toDF("vocab_size")
      ranked.crossJoin(broadcast(vs))
        .where(col("rk") <= col("vocab_size"))
        .groupBy("vocab_size")
        .agg(count(lit(1)).as("n_types"), sum("cnt").as("covered"))
        .crossJoin(broadcast(total))
        .withColumn("covered_e4", expr("covered * 10000 div total"))
        .select("vocab_size", "n_types", "covered_e4")
        .orderBy("vocab_size")
    }, Some("""
      WITH ty AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        GROUP BY 1),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM ty),
      th AS (SELECT CAST(500 * power(2, i) AS BIGINT) AS vocab_size
             FROM (SELECT unnest(range(0, 6)) AS i))
      SELECT vocab_size, CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(cnt) AS BIGINT) * 10000
          // (SELECT CAST(SUM(cnt) AS BIGINT) FROM ty) AS covered_e4
      FROM rk JOIN th ON rk.rk <= th.vocab_size
      GROUP BY 1 ORDER BY vocab_size""")),

    // `l_zipf_curve`: per-source rank-frequency table — token types
    // ranked by frequency, rolled into power-of-two rank buckets with
    // occurrence share e4. The Zipf read: natural text is ~linear in
    // log-log; head-heavy sources are template farms and flat tails
    // are spam/ID noise. Same vocab-bounded window class as
    // `l_vocab_curve` (counts partial-agg'd first; windows touch the
    // TYPE table, never tokens).
    GraftQuery("l_zipf_curve", (s, dir) => {
      val tok = keyedDocs(s, dir)
        .select(col("source"), explode(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
      val cnts = tok.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      val tot = cnts.groupBy("source").agg(sum("cnt").as("src_tokens"))
      val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("w"))
      cnts.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("rank_bucket", length(bin(col("rk"))).cast("long") - 1L)
        .groupBy("source", "rank_bucket")
        .agg(count(lit(1)).as("n_types"), sum("cnt").as("occurrences"))
        .join(tot, "source")
        .withColumn("share_e4", expr("occurrences * 10000 div src_tokens"))
        .select("source", "rank_bucket", "n_types", "occurrences", "share_e4")
        .orderBy("source", "rank_bucket")
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      cnts AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS src_tokens FROM cnts GROUP BY 1),
      rk AS (
        SELECT source, cnt,
          CAST(length(bin(ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, w)))
               - 1 AS BIGINT) AS rank_bucket
        FROM cnts)
      SELECT rk.source AS source, rank_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(cnt) AS BIGINT) AS occurrences,
        CAST(SUM(cnt) AS BIGINT) * 10000 // tot.src_tokens AS share_e4
      FROM rk JOIN tot ON rk.source = tot.source
      GROUP BY rk.source, rank_bucket, tot.src_tokens
      ORDER BY rk.source, rank_bucket""")),

    GraftQuery("l_token_apportion", (s, dir) => {
      // token-budget apportionment: allocate a fixed training budget
      // across sources proportionally to their token mass with the
      // LARGEST-REMAINDER method (Hamilton apportionment) — floor the
      // integer quota, then hand the leftover seats to the largest
      // remainders (source name breaking ties). Pure integer, sums
      // EXACTLY to the budget — the planner that turns mixture
      // weights into concrete per-source token counts. Scalars (total
      // mass, leftover) ride 1-row broadcast cross joins; the rank
      // window is over sources (tiny).
      val budget = 100000L
      val toks = keyedDocs(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy("source").agg(sum("t").as("n_tokens"))
      val tot = toks.agg(sum("n_tokens").as("tot"))
      val quota = toks.crossJoin(broadcast(tot))
        .withColumn("floor_alloc", expr(s"$budget * n_tokens div tot"))
        .withColumn("rem", expr(s"($budget * n_tokens) % tot"))
      val left = quota.agg((lit(budget) - sum("floor_alloc")).as("leftover"))
      val w = Window.orderBy(col("rem").desc, col("source"))
      quota.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("source"), col("n_tokens"), col("floor_alloc"),
          (col("floor_alloc") + (col("rk") <= col("leftover")).cast("long"))
            .as("allocated"))
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source,
          SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(n_tokens) AS tot FROM toks),
      quota AS (
        SELECT source, n_tokens,
          100000 * n_tokens // tot AS floor_alloc,
          (100000 * n_tokens) % tot AS rem
        FROM toks CROSS JOIN tot),
      lf AS (SELECT 100000 - SUM(floor_alloc) AS leftover FROM quota),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS r
        FROM quota)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(floor_alloc AS BIGINT) AS floor_alloc,
        CAST(floor_alloc + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT) AS allocated
      FROM rk CROSS JOIN lf ORDER BY source""")),

    GraftQuery("l_tfidf_top", (s, dir) => {
      // salient-term extraction: the top TF-IDF term per document
      // (idf kept as the exact rational N/df — no log, so the score is
      // a product of exactly-represented doubles and compares bitwise
      // cross-engine). Scale shape: explode → two keyed groupBys →
      // term-keyed join → per-doc window; the doc-count scalar joins as
      // a broadcast.
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val tf = keyedDocs(s, dir)
        .select(col("doc_id"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("term"))
        .where(col("term").isNotNull)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          duckRound(col("score"), 4).as("score"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score,
          ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                             ORDER BY CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
                                      tf.term) AS rn
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, df, round(score, 4) AS score
      FROM scored WHERE rn = 1 ORDER BY doc_id""")),

    // `l_keyword_topk`: inverted-index boolean retrieval — the top-3
    // document-frequency terms as the conjunctive query, documents
    // containing ALL of them ranked by total term frequency, top-20.
    // The classic posting-list AND-query: term filter pushes into the
    // scan, ranking is a distributed TakeOrdered top-k, never a global
    // sort.
    GraftQuery("l_keyword_topk", (s, dir) => {
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val toks = keyedDocs(s, dir)
        .select(col("doc_id"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint() // read twice: df election + the AND-query
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      // vocab-bounded global window (type table, counts pre-aggregated)
      val wq = Window.orderBy(col("df").desc, col("w"))
      val terms = dfreq.withColumn("trk", row_number().over(wq))
        .where(col("trk") <= 3).select("w")
      val matched = tf.join(broadcast(terms), "w")
        .groupBy("doc_id").agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_total"))
        .where(col("n_terms") === 3)
      // distributed top-k (TakeOrdered), never a global sort; the rank
      // window runs over the 20 surviving rows only
      val top = matched.orderBy(col("tf_total").desc, col("doc_id")).limit(20)
      top.withColumn("rk",
          row_number().over(Window.orderBy(col("tf_total").desc, col("doc_id"))))
        .select("rk", "doc_id", "tf_total")
        .orderBy("rk")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, unnest($oracleTokens) AS w FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      terms AS (
        SELECT w FROM (
          SELECT w, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS trk FROM dfq)
        WHERE trk <= 3),
      m AS (
        SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
          CAST(SUM(tf.tf) AS BIGINT) AS tf_total
        FROM tf JOIN terms USING (w)
        GROUP BY 1 HAVING count(*) = 3),
      r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY tf_total DESC, doc_id) AS rk FROM m)
      SELECT CAST(rk AS BIGINT) AS rk, doc_id, tf_total
      FROM r WHERE rk <= 20 ORDER BY rk""")),

    // `l_length_histogram`: per-source power-of-two sequence-length
    // histogram (bucket = floor(log2(tokens)) via bit length) — the
    // packing-planner input: how many 2^k-token docs exist decides
    // window size and padding waste before anyone trains.
    GraftQuery("l_length_histogram", (s, dir) => {
      val d = keyedDocs(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      d.withColumn("bucket", length(bin(col("toks"))).cast("long") - 1L)
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"))
        .orderBy("source", "bucket")
    }, Some("""
      WITH d AS (
        SELECT source, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents)
      SELECT source, CAST(length(bin(toks)) - 1 AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_tokens
      FROM d GROUP BY 1, 2 ORDER BY source, bucket""")),

    // `l_heavy_hitters`: Count-Min sketch (Cormode & Muthukrishnan
    // 2005) made cross-engine exact — d=4 md5-derived hash rows ×
    // w=256 counters — probed for the corpus's exact top-20 tokens so
    // the CMS guarantee (estimate ≥ true count) is visible per row.
    // The sketch is THE streaming/mergeable frequency structure a
    // 100 TB token stream needs: O(d·w) memory regardless of corpus,
    // built by partial-agg, merged by cell-wise sum.
    GraftQuery("l_heavy_hitters", (s, dir) => {
      // token kernel (byte-identical to the composed split the oracle
      // keeps, TokenKernelSpec); explode_OUTER + null guard so
      // InferFiltersFromGenerate cannot land the kernel in a scan-side
      // filter (graft_tokens never returns null/empty — "" tokenizes
      // to [""] — so the outer form is row-identical)
      val toks = keyedDocs(s, dir)
        .select(explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .localCheckpoint() // feeds the sketch build AND the exact counts
      val cells = Cms.cells(toks, "tok")
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(topK)
      Cms.estimate(top, "tok", cells)
        .select(col("tok").as("token"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }, Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
      hb AS (
        SELECT tok, j, ${oracleCmsBucket("tok")} AS bucket
        FROM tok CROSS JOIN $oracleSeeds),
      cms AS (SELECT j, bucket, COUNT(*) AS cell FROM hb GROUP BY 1, 2),
      exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM tok GROUP BY 1),
      top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, tok LIMIT $topK),
      probe AS (
        SELECT t.tok, t.exact_cnt, j, ${oracleCmsBucket("t.tok")} AS bucket
        FROM top t CROSS JOIN $oracleSeeds),
      est AS (
        SELECT tok, exact_cnt, MIN(cell) AS cms_est
        FROM probe JOIN cms USING (j, bucket) GROUP BY 1, 2)
      SELECT tok AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        CAST(cms_est AS BIGINT) AS cms_est,
        CAST(cms_est - exact_cnt AS BIGINT) AS overcount
      FROM est ORDER BY exact_cnt DESC, token"""), headline = true)
  )
}
