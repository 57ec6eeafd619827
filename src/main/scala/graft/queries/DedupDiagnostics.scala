package graft.queries

import graft.operators.{Dedup, TextAnalysis}
import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup diagnostics (SURVEY §2 LLM pipeline): MinHash calibration,
  * containment, the impact and size distribution of duplicate
  * families, and the curves that price a dedup threshold or LSH
  * parameter choice before it is committed.
  *
  * Scale shape: norm-dedup is one partial-agg HashAggregate on the
  * normalized hash; calibration reuses the banded LSH candidate join
  * (never all-pairs) and only candidate pairs fetch shingle sets; shard
  * ranking windows stay inside source partitions and only shard-level
  * totals cross; the vocab curve windows over the TYPE table (vocab ≪
  * corpus, counts pre-aggregated map-side); containment joins through
  * the shingle posting list with a df cap, so fan-out is bounded by the
  * cap, not document count.
  *
  * Scale shape: intradoc rep is per-row array arithmetic (no explode,
  * no shuffle); zipf windows ride the type table (vocab ≪ corpus);
  * dedup-impact shuffles once on the fingerprint then once per-source
  * partial-agg; cluster health is one partial agg over assignments
  * with the total as a broadcast scalar.
  *
  * Scale shape: the threshold curve rides the banded LSH candidate
  * join (never all-pairs) and a 5-row broadcast grid; the nprobe sweep
  * broadcasts queries and centroids (corpus never shuffles); norms are
  * per-row array math + one partial agg; retrieval reduces to posting
  * lists with the term set broadcast; the agreement matrix is one
  * conditional-agg pass to a 2×2 grid.
  *
  * Scale shape: the threshold curve is one scored scan cross-joined
  * with a 10-row broadcast grid and reduced by a partial agg; the
  * family table is two keyed HashAggregates (fingerprint×source →
  * fingerprint), never a pair join; the ladder's rungs are keyed
  * hash-aggregates plus the banded LSH candidate join (never
  * all-pairs), with survivor sets carried as doc_id anti-joins.
  */
object DedupDiagnostics extends QuerySuite {

  /** 1 − (1 − s^r)^b in truncating e4 fixed point, as DuckDB SQL over
    * columns rows_per_band / n_bands — the EXACT multiply-div schedule
    * the Spark side runs (squaring chain q→q²→q⁴→q⁸).
    */
  private def oraclePCand(sE4: String): String = {
    val p = s"""CASE rows_per_band WHEN 1 THEN $sE4
            WHEN 2 THEN $sE4 * $sE4 // 10000
            ELSE ((($sE4 * $sE4 // 10000) * ($sE4 * $sE4 // 10000)) // 10000) END"""
    val q = s"(10000 - ($p))"
    val q2 = s"($q * $q // 10000)"
    val q4 = s"($q2 * $q2 // 10000)"
    val q8 = s"($q4 * $q4 // 10000)"
    s"(10000 - CASE n_bands WHEN 2 THEN $q2 WHEN 4 THEN $q4 ELSE $q8 END)"
  }

  val queries: Seq[GraftQuery] = Seq(

    // `l_minhash_calib`: MinHash estimator calibration — per LSH
    // candidate pair, the signature-agreement Jaccard estimate
    // (matches/8) next to the EXACT shingle Jaccard, with the absolute
    // error. The L2 index's analog of `l_pq_recall`: an index must
    // publish its measured estimator quality before its threshold can
    // be trusted to gate (Broder 1997's resemblance estimator is
    // unbiased, but at 8 hashes the variance is what this surfaces).
    GraftQuery("l_minhash_calib", (s, dir) => {
      val sig = Dedup.lshSignatures(keyedDocs(s, dir))
      // the bands stay uncut here, unlike in Dedup.lshCandidates
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(sig, "doc_id", Dedup.lshHashes, Dedup.lshRowsPerBand), "doc_id")
      val mhCols = (0 until Dedup.lshHashes).map(i => s"mh$i")
      val sigA = sig.select(col("doc_id").as("a") +: mhCols.map(c => col(c).as(s"a_$c")): _*)
      val sigB = sig.select(col("doc_id").as("b") +: mhCols.map(c => col(c).as(s"b_$c")): _*)
      val matches = mhCols.map(c => when(col(s"a_$c") === col(s"b_$c"), 1L).otherwise(0L))
        .reduce(_ + _)
      Dedup.withVerifySets(cand.join(sigA, "a").join(sigB, "b")
          .withColumn("n_sig_match", matches), sig)
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
        // estimate = matches/8 (Broder's unbiased resemblance estimator);
        // both ratios as e4 integers, error exact
        .withColumn("est_e4", col("n_sig_match") * 1250L)
        .withColumn("jac_e4", expr("inter * 10000 div uni"))
        .withColumn("err_e4", abs(col("est_e4") - col("jac_e4")))
        .select("a", "b", "n_sig_match", "est_e4", "jac_e4", "err_e4")
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ${oracleSignatures("sh")},
      ${oracleLshCandidates("sig")},
      m AS (
        SELECT c.a, c.b,
          CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_sig_match
        FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b),
      ${oracleHash56Sets("sh")},
      j AS (
        SELECT m.*, CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
          CAST(len(list_distinct(ha.hs || hb.hs)) AS BIGINT) AS uni
        FROM m JOIN shl ha ON ha.doc_id = m.a JOIN shl hb ON hb.doc_id = m.b)
      SELECT a, b, n_sig_match, n_sig_match * 1250 AS est_e4,
        inter * 10000 // uni AS jac_e4,
        abs(n_sig_match * 1250 - inter * 10000 // uni) AS err_e4
      FROM j ORDER BY a, b""")),

    // `l_containment`: asymmetric containment near-dup (Broder's
    // containment c(A,B) = |S(A)∩S(B)|/|S(A)|): finds docs whose
    // shingle set is mostly INSIDE another doc (quotes, wrapped
    // articles, boilerplate-plus-content) — pairs symmetric Jaccard
    // (L4) structurally cannot flag.
    GraftQuery("l_containment", (s, dir) => {
      val dfCap = 50L // posting-list cap: a shingle shared by > cap docs
                      // is boilerplate, not evidence — and the cap is what
                      // bounds join fan-out at corpus scale
      // ONE text pass, ONE exchange-by-shingle (written once, REUSED by
      // every consumer), zero object aggregation. Shape history, three
      // rounds of stage profiles deep:
      //  - the original df-table + posting-self-join shape scanned-and-
      //    shingled the corpus TWICE and Spark silently picked a 3.4 GB
      //    broadcast for the self-join at sf10 — fatal at 1000
      //    executors;
      //  - the r10-r14 posting-list shape (ONE groupBy-shingle
      //    collect_list, pairs exploded in place) fixed all of that but
      //    broke at the THIRD decade (r15 sf100sub StageProfile): the
      //    collect_list final ObjectHashAggregate inflates its 64 MB
      //    AQE partitions ~20x into object state and spilled 134 GB,
      //    and the map-side pair partial agg built an 84 GB hash for a
      //    1% reduction (856M of 863M rows survived partial agg — pairs
      //    are near-unique within a map partition) and spilled 93 GB.
      // Final shape — window-pairing: df via window count over the ONE
      // sorted-by-shingle exchange, cap filter, then collect_list AS A
      // WINDOW FUNCTION over the same runs (state = one capped group,
      // ≤ dfCap rows — never a hash of all lists), pairs exploded per
      // row in place, and the pair aggregate runs AFTER an explicit
      // repartition by (a, b) so every duplicate pair is co-located and
      // the partial agg achieves full reduction in the post-shuffle
      // stage instead of building giant map-side hashes: raw pair rows
      // are 4 longs, and shuffling them beats shuffling an un-reduced
      // aggregation state row for row. (A checkpoint + self-join
      // variant measured WORSE at sf100sub: materializing 249M capped
      // rows round-trips ~15 GB through storage.)
      // sz rides the window (known before the explode —
      // wordShingles is distinct'ed, so sz = size(s)); grouping by
      // (a, b, sz_a, sz_b) leaves cardinality unchanged (sz is
      // functionally dependent on the doc id), so no size join is ever
      // needed. The df cap (df=1 can never pair; df>cap is boilerplate)
      // bounds the per-shingle expansion at cap² and keeps total pairs
      // linear in corpus size (measured: 9.6x pairs per 10x docs,
      // sf10 -> sf100sub).
      // The whole pipeline runs in the 56-BIT HASHED shingle space
      // (r14, the r13 verify-join trick applied to the posting-list
      // build): the groupBy-shingle exchange is this query's dominant
      // cost, and an 8-byte long key both halves the exchanged bytes
      // (vs ~30 B avg shingle strings) and hashes/compares integers in
      // the aggregate. Set structure is preserved up to md5-56
      // collisions, which land IDENTICALLY in the DuckDB oracle (same
      // standardized digests — sz/df/shared all move together), so
      // cross-engine exactness holds by construction.
      val sh = keyedDocs(s, dir)
        .select(col("doc_id"),
          Dedup.hashShingles56(Dedup.wordShingles(col("text"), 3)).as("s"))
      // explode_OUTER, then drop the (never-occurring) null row:
      // plain explode lets InferFiltersFromGenerate add `size(s) > 0`,
      // and predicate pushdown carries that below the repartition
      // exchange — the FULL shingle expression then evaluates on the
      // scan side of the exchange, serially (one row group per
      // generated file), just to be discarded and recomputed after it.
      // The r10 stage profile measured that inferred filter at 300 s of
      // 327 s sf10 wall on one core. wordShingles never returns an
      // empty array (its else-branch is a 1-element array), so the
      // outer explode is row-identical and the isNotNull guard is free.
      val ex = sh.select(col("doc_id"), size(col("s")).cast("long").as("sz"),
        explode_outer(col("s")).as("shingle"))
        .where(col("shingle").isNotNull)
      // one AQE-sized shuffle by shingle; df via window count over its
      // sorted runs (buffered state = one shingle's rows, cap-free but
      // bounded by the worst boilerplate shingle's df — rows, not lists)
      // TWO window passes over the one sorted-by-shingle exchange,
      // deliberately kept apart (the Filter between them blocks
      // CollapseWindow): pass 1 counts df so boilerplate groups are
      // dropped BEFORE pass 2 collects posting lists — a window
      // collect_list buffers one shingle group at a time (≤ dfCap rows
      // after the filter), so unlike the old groupBy collect_list
      // there is no aggregation hash holding every list at once.
      val wdf = Window.partitionBy("shingle")
      val capped = ex.repartition(col("shingle"))
        .withColumn("df", count(lit(1)).over(wdf))
        .where(col("df") >= 2L && col("df") <= dfCap)
      capped
        .withColumn("ds", collect_list(struct(col("doc_id"), col("sz"))).over(wdf))
        .select(col("doc_id").as("a"), col("sz").as("sz_a"), explode(col("ds")).as("y"))
        .where(col("a") =!= col("y.doc_id"))
        .select(col("a"), col("y.doc_id").as("b"), col("sz_a"), col("y.sz").as("sz_b"))
        .repartition(col("a"), col("b")) // co-locate before counting: see header
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("shared"))
        .withColumn("cont_e4", expr("shared * 10000 div sz_a"))
        .where(col("cont_e4") >= 5000L) // a's shingles are mostly inside b
        .select("a", "b", "shared", "sz_a", "sz_b", "cont_e4")
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      shs AS (SELECT doc_id, ${oracleShingles(3)} AS s0 FROM tok),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(s0,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS s
        FROM shs),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM ex GROUP BY 1),
      p AS (
        SELECT * FROM (
          SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM ex)
        WHERE df BETWEEN 2 AND 50),
      pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
        FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT pr.a, pr.b, pr.shared, za.n_shingles AS sz_a, zb.n_shingles AS sz_b,
        pr.shared * 10000 // za.n_shingles AS cont_e4
      FROM pairs pr
      JOIN sz za ON za.doc_id = pr.a
      JOIN sz zb ON zb.doc_id = pr.b
      WHERE pr.shared * 10000 // za.n_shingles >= 5000
      ORDER BY a, b"""), headline = true),

    // `l_dedup_impact`: the dedup report — exact normalization-
    // fingerprint dedup (L57's scrub) with global min-doc_id
    // canonical election, rolled up per source: docs/tokens before
    // and after, removal rate e4. "Which crawl is redundant against
    // the rest" is the first table a curation review reads.
    GraftQuery("l_dedup_impact", (s, dir) => {
      val norm = call_function("graft_normalize", col("text"))
      // localCheckpoint: d feeds BOTH join sides (rows + the keeper
      // election), and the join on h was inferring isnotnull(h) and
      // pushing it below the projection — the normalize kernel (a
      // full text pass) evaluated once in the filter and once in the
      // projection, on each of the two scans (ScaleInvariantSpec's
      // kernel-in-filter net caught it). The cut materializes 4
      // narrow columns once; the kernel runs exactly once per row.
      val d = keyedDocs(s, dir).select(col("doc_id"), col("source"), md5(norm).as("h"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
        .localCheckpoint()
      val keep = d.groupBy("h").agg(min("doc_id").as("keep_id"))
      d.join(keep, "h")
        .withColumn("kept", (col("doc_id") === col("keep_id")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("toks").as("tokens"),
          sum(when(col("kept") === 1L, col("toks")).otherwise(0L)).as("kept_tokens"))
        .withColumn("removed_e4", expr("(n_docs - n_kept) * 10000 div n_docs"))
        .orderBy("source")
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS h,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      keep AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(SUM(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        (CAST(COUNT(*) AS BIGINT) - CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
          AS BIGINT)) * 10000 // CAST(COUNT(*) AS BIGINT) AS removed_e4
      FROM d JOIN keep USING (h)
      GROUP BY 1 ORDER BY source""")),

    GraftQuery("l_dup_size_histogram", (s, dir) => {
      // duplicate-family size distribution: exact normalization-
      // fingerprint groups (L57's scrub) rolled into power-of-two
      // size buckets — "is duplication a long tail of pairs or a few
      // giant families", which decides whether canonical election
      // (L47) or family-level drops pay for themselves.
      val norm = call_function("graft_normalize", col("text"))
      keyedDocs(s, dir).select(md5(norm).as("h"))
        .groupBy("h").agg(count(lit(1)).as("sz"))
        .withColumn("size_bucket", length(bin(col("sz"))).cast("long") - 1L)
        .groupBy("size_bucket")
        .agg(count(lit(1)).as("n_groups"), sum("sz").as("n_docs"))
        .orderBy("size_bucket")
    }, Some("""
      WITH d AS (
        SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                       '\s+', ' ', 'g'))) AS h
        FROM documents),
      g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY 1)
      SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM g GROUP BY 1 ORDER BY size_bucket""")),

    // `l_dedup_threshold_curve`: the dedup-knob sensitivity curve —
    // for each candidate Jaccard threshold (0.50 … 0.90), how many LSH
    // candidate pairs qualify and how many documents they touch. The
    // pipeline-design read BEFORE committing a threshold: L2 finds the
    // pairs, this prices what each threshold would delete. Exact
    // integer qualification (inter·100 ≥ t·union — no float compare).
    GraftQuery("l_dedup_threshold_curve", (s, dir) => {
      val sh = Dedup.lshSignatures(keyedDocs(s, dir))
      val j = Dedup.withVerifySets(Dedup.lshCandidates(sh), sh)
        .select(col("a"), col("b"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
      val grid = s.createDataFrame(Seq(50L, 60L, 70L, 80L, 90L).map(Tuple1(_)))
        .toDF("threshold_e2")
      j.crossJoin(broadcast(grid))
        // integer qualification: jaccard >= t/100 ⇔ inter·100 >= t·union
        .where(col("inter") * 100 >= col("threshold_e2") * col("uni"))
        .select(col("threshold_e2"), explode(array(col("a"), col("b"))).as("doc"))
        .groupBy("threshold_e2")
        .agg(expr("count(1) div 2").as("n_pairs"),
          countDistinct("doc").as("n_docs"))
        .orderBy("threshold_e2")
    }, Some(s"""$oracleLshChain,
      j AS (
        SELECT c.a, c.b,
          CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
          CAST(len(list_distinct(sa.hs || sb.hs)) AS BIGINT) AS uni
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b),
      th AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT) AS threshold_e2),
      q AS (
        SELECT th.threshold_e2, j.a, j.b
        FROM j CROSS JOIN th
        WHERE j.inter * 100 >= th.threshold_e2 * j.uni),
      exd AS (SELECT threshold_e2, unnest([a, b]) AS doc FROM q)
      SELECT threshold_e2, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
        CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM exd GROUP BY 1 ORDER BY threshold_e2"""), headline = true),

    // `l_dup_family_sources`: cross-source syndication — for each
    // shared-prefix duplicate family (L52's first-16-token key, ≥2
    // docs), how many sources it spans and how concentrated it is
    // (majority-source share e4). L52 elects keepers WITHIN families;
    // this reads their source COMPOSITION: families confined to one
    // source are crawl artifacts (dedup locally), families spanning
    // sources are syndicated content — removing them changes the
    // SOURCE MIX, which L31/L63's mixture planning must know about.
    GraftQuery("l_dup_family_sources", (s, dir) => {
      // family key = first-16-token hash (L52's shared-prefix key);
      // token kernel, byte-identical to the composed split
      val t = TextAnalysis.whitespaceTokens(col("text"))
      val prefix = md5(array_join(slice(t, 1, 16), " "))
      val bySrc = keyedDocs(s, dir)
        .select(prefix.as("norm_h"), col("source"))
        .groupBy("norm_h", "source").agg(count(lit(1)).as("n"))
      bySrc.groupBy("norm_h")
        .agg(sum("n").as("n_docs"),
          count(lit(1)).as("n_sources"),
          max("n").as("top_src_n"))
        .where(col("n_docs") >= 2)
        .withColumn("majority_share_e4", expr("top_src_n * 10000 div n_docs"))
        .withColumn("cross_source", when(col("n_sources") >= 2, 1L).otherwise(0L))
        .select("norm_h", "n_docs", "n_sources", "majority_share_e4", "cross_source")
        .orderBy("norm_h")
    }, Some("""
      WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
      n AS (
        SELECT md5(array_to_string(t[1:16], ' ')) AS norm_h, source
        FROM tk),
      bs AS (
        SELECT norm_h, source, CAST(count(*) AS BIGINT) AS cnt
        FROM n GROUP BY 1, 2),
      fam AS (
        SELECT norm_h, CAST(SUM(cnt) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_sources,
          CAST(max(cnt) AS BIGINT) AS top_src_n
        FROM bs GROUP BY 1)
      SELECT norm_h, n_docs, n_sources,
        top_src_n * 10000 // n_docs AS majority_share_e4,
        CAST(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END AS BIGINT) AS cross_source
      FROM fam WHERE n_docs >= 2
      ORDER BY norm_h""")),

    // `l_dedup_ladder`: marginal yield of each dedup rung applied in
    // production order (exact → normalization → MinHash-LSH near-dup),
    // each rung over the previous rung's survivors — the read that
    // decides whether the expensive near-dup pass still pays once the
    // cheap rungs have run.
    GraftQuery("l_dedup_ladder", (s, dir) => {
      // marginal yield of each dedup rung, applied in production order:
      // exact (byte hash) → normalization fingerprint → MinHash-LSH
      // near-dup (jaccard ≥ 0.5, smaller doc_id of a qualifying pair
      // is kept). Each rung only sees the previous rung's SURVIVORS —
      // the ladder read that decides whether the expensive near-dup
      // pass still pays after the cheap rungs have run.
      val norm = call_function("graft_normalize", col("text"))
      // ONE text pass computes every rung's fingerprint (byte hash,
      // normalization hash, shingle set), cut once — each rung then
      // works off the checkpoint instead of re-scanning and
      // re-shuffling the text table (measured 5.5s → see PLANS.md)
      // the signature is computed for ALL docs here, not just rung-2
      // survivors — the exact/norm rungs remove a few percent, so one
      // fused pass over everything costs less than hash56-everything
      // plus minhash-over-survivors did
      val d = Dedup.lshSignatures(keyedDocs(s, dir),
        md5(col("text")).as("raw_h"), md5(norm).as("norm_h"))
      // rung 1: exact
      val s1 = d.groupBy("raw_h").agg(min("doc_id").as("doc_id")).select("doc_id")
      // rung 2: normalization fingerprint over rung-1 survivors.
      // shuffle_hash on the survivor-id side: the corpus table d
      // carries a lying ArrayType/checkpoint estimate, so Catalyst
      // statically broadcast ALL OF d (130 MB at sf1,
      // BroadcastBudgetSpec) instead of anything sane; the id list is
      // itself corpus-row-proportional, so the join must stay keyed
      // with the ids as the per-partition build side.
      val s2 = d.join(s1.hint("shuffle_hash"), "doc_id")
        .groupBy("norm_h").agg(min("doc_id").as("doc_id")).select("doc_id")
      // rung 3: LSH near-dup over rung-2 survivors (their fused
      // signature columns ride along from the checkpoint)
      val sh2 = d.join(s2.hint("shuffle_hash"), "doc_id")
        .drop("raw_h", "norm_h")
      val removed3 = Dedup.lshEdges(sh2).select(col("b").as("doc_id")).distinct()
      val s3 = s2.join(removed3, Seq("doc_id"), "left_anti")
      val stages = Seq(("0_input", d.select("doc_id")), ("1_exact", s1),
        ("2_norm", s2), ("3_neardup", s3))
      stages.map { case (name, df) =>
        df.agg(count(lit(1)).as("survivors")).select(lit(name).as("stage"), col("survivors"))
      }.reduce(_ union _)
        .withColumn("removed_here",
          coalesce(lag("survivors", 1).over(
            org.apache.spark.sql.expressions.Window.orderBy("stage")) - col("survivors"), lit(0L)))
        .orderBy("stage")
    }, Some(s"""
      WITH raw AS (SELECT doc_id, md5(text) AS raw_h FROM documents),
      s1 AS (SELECT min(doc_id) AS doc_id FROM raw GROUP BY raw_h),
      n2 AS (
        SELECT d.doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9\\s]', '', 'g'),
                                  '\\s+', ' ', 'g'))) AS norm_h
        FROM documents d JOIN s1 USING (doc_id)),
      s2 AS (SELECT min(doc_id) AS doc_id FROM n2 GROUP BY norm_h),
      tok2 AS (SELECT d.doc_id, $oracleTokens AS t FROM documents d JOIN s2 USING (doc_id)),
      sh2 AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok2),
      ${oracleSignatures("sh2")},
      ${oracleLshCandidates("sig")},
      ${oracleHash56Sets("sh2")},
      rem AS (
        SELECT DISTINCT c.b AS doc_id
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b
        WHERE len(list_intersect(sa.hs, sb.hs)) * 2 >= len(list_distinct(sa.hs || sb.hs))),
      s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
      st AS (
        SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS survivors FROM documents
        UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM s1
        UNION ALL SELECT '2_norm', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL SELECT '3_neardup', CAST(count(*) AS BIGINT) FROM s3)
      SELECT stage, survivors,
        CAST(COALESCE(lag(survivors) OVER (ORDER BY stage) - survivors, 0) AS BIGINT)
          AS removed_here
      FROM st ORDER BY stage""")),

    GraftQuery("l_lsh_param_planner", (s, dir) => {
      // LSH (bands, rows) selection table (datasketch optimal_param
      // lineage), made CORPUS-AWARE: the S-curve
      // P(candidate | s) = 1 − (1 − s^r)^b for each way of splitting 8
      // minhashes, evaluated at the design points s = 0.5/0.8 AND
      // against the corpus's OBSERVED candidate-pair similarity
      // histogram (current-config candidates — the observable sample;
      // documented bias) to price expected candidate volume per
      // config. All probability arithmetic is truncating e4
      // fixed-point (identical multiply-div schedules both engines) —
      // no float pow, so the table is cross-engine exact.
      val sh = Dedup.lshSignatures(keyedDocs(s, dir))
      val hist = Dedup.withVerifySets(Dedup.lshCandidates(sh), sh)
        .select(size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
        .select(least(expr("(inter * 10000 div uni) div 1000"), lit(9L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      val grid = s.createDataFrame(Seq((1L, 8L), (2L, 4L), (4L, 2L)))
        .toDF("rows_per_band", "n_bands")
      // truncating fixed-point s^r then 1-(1-s^r)^b, r ∈ {1,2,4}, b ∈ {8,4,2}
      def powE4(sE4: String, r: String): String =
        s"""CASE $r WHEN 1 THEN $sE4
            WHEN 2 THEN $sE4 * $sE4 div 10000
            ELSE (($sE4 * $sE4 div 10000) * ($sE4 * $sE4 div 10000)) div 10000 END"""
      def pCand(sE4: String): String = {
        val q = s"(10000 - ${powE4(sE4, "rows_per_band")})"
        // q^b for b ∈ {8,4,2} by squaring: q2, q4, q8
        val q2 = s"($q * $q div 10000)"
        val q4 = s"($q2 * $q2 div 10000)"
        val q8 = s"($q4 * $q4 div 10000)"
        s"(10000 - CASE n_bands WHEN 2 THEN $q2 WHEN 4 THEN $q4 ELSE $q8 END)"
      }
      grid.crossJoin(broadcast(hist)) // 3 × ≤10 rows
        .withColumn("p_cand_e4", expr(pCand("(bucket * 1000 + 500)")))
        .groupBy("rows_per_band", "n_bands")
        .agg(sum(expr("n_pairs * p_cand_e4 div 10000")).as("expected_candidates"),
          sum("n_pairs").as("observed_pairs"))
        .withColumn("p50_e4", expr(pCand("5000")))
        .withColumn("p80_e4", expr(pCand("8000")))
        .select("rows_per_band", "n_bands", "p50_e4", "p80_e4",
          "expected_candidates", "observed_pairs")
        .orderBy("rows_per_band")
    }, Some(s"""$oracleLshChain,
      j AS (
        SELECT CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) * 10000
               // CAST(len(list_distinct(sa.hs || sb.hs)) AS BIGINT) AS jac_e4
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b),
      hist AS (
        SELECT LEAST(jac_e4 // 1000, 9) AS bucket, CAST(count(*) AS BIGINT) AS n_pairs
        FROM j GROUP BY 1),
      grid AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(8 AS BIGINT)),
                                     (CAST(2 AS BIGINT), CAST(4 AS BIGINT)),
                                     (CAST(4 AS BIGINT), CAST(2 AS BIGINT)))
               g(rows_per_band, n_bands)),
      scored AS (
        SELECT g.rows_per_band, g.n_bands, h.n_pairs,
          ${oraclePCand("(h.bucket * 1000 + 500)")} AS p_cand_e4
        FROM grid g CROSS JOIN hist h)
      SELECT rows_per_band, n_bands,
        ${oraclePCand("5000")} AS p50_e4,
        ${oraclePCand("8000")} AS p80_e4,
        CAST(SUM(n_pairs * p_cand_e4 // 10000) AS BIGINT) AS expected_candidates,
        CAST(SUM(n_pairs) AS BIGINT) AS observed_pairs
      FROM scored GROUP BY 1, 2 ORDER BY rows_per_band"""))
  )
}
