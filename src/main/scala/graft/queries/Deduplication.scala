package graft.queries

import graft.operators.{Dedup, TextAnalysis}
import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication (SURVEY §2 LLM pipeline): exact, MinHash/LSH, SimHash,
  * n-gram, chunk, Bloom, substring, normalized and incremental dedup,
  * winnowing fingerprints, and canonical-member selection.
  */
object Deduplication extends QuerySuite {

  /** Fixed n-word chunk array of `text` (≥1 chunk; the "paragraphs" of
    * this punctuation-free corpus) — the ONE chunking definition
    * `l_chunk_dedup` (accounting) and `l_paragraph_scrub` (removal)
    * share: the scrub must remove exactly what the accounting counts.
    * r16: the one-pass chunk kernel (ChunkKernelSpec pins it
    * byte-identical to the composed transform/slice form the oracle
    * keeps) — the composed form's transform HOF is CodegenFallback and
    * re-evaluated the tokenizer per chunk (VERDICT r15 item 2:
    * l_paragraph_scrub 0.54x).
    */
  private[queries] def chunkArr(n: Int): org.apache.spark.sql.Column =
    TextAnalysis.wordChunks(col("text"), n)

  private val substrW = 20 // window length in tokens (Lee et al. use 50 BPE tokens; 20 words ≈ same span)

  /** The MinHash-LSH near-dup edge chain (→ CTE `e`(a, b), Jaccard
    * ≥ 0.5) shared by l_canonical_select and l_split_leakage.
    */
  private[queries] val oracleLshEdges: String = """tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
          i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM shl),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex),
      mh AS (
        SELECT doc_id, seed.seed,
          min(substring(CASE WHEN seed.seed < 4 THEN d0 ELSE d1 END,
                        1 + 8 * (seed.seed % 4), 8)) AS mh
        FROM dg CROSS JOIN (SELECT CAST(range AS INTEGER) AS seed FROM range(0, 8)) seed
        GROUP BY doc_id, seed.seed),
      sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM sig CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
      hs AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM shl),
      e AS (
        SELECT cand.a, cand.b
        FROM cand JOIN hs sa ON sa.doc_id = cand.a JOIN hs sb ON sb.doc_id = cand.b
        WHERE len(list_intersect(sa.hs, sb.hs)) * 2
                >= len(list_distinct(sa.hs || sb.hs)))"""

  /** The Spark-side LSH near-dup edges (a, b) at Jaccard ≥ 0.5 —
    * shared by l_canonical_select and l_split_leakage.
    */
  private[queries] def lshEdges(d: DataFrame): DataFrame = {
    // fused signature + 56-bit verify sets (r13 item 2): one digest
    // pass, a string-free checkpoint, and the verify joins attach
    // 8 B/shingle longs — this helper was the last LSH site still
    // exchanging shingle STRING arrays (r12 item 1's 860 B/row shape).
    // Jaccard ≥ 0.5 over the hashed sets is integer-exact and lands
    // identically in the DuckDB oracle (md5 is standardized).
    val sh = Dedup.signatureAndHash56(
        d.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
        "shingles", numHashes = 8)
      .localCheckpoint()
    val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
      .localCheckpoint()
    val cand = Dedup.candidatePairs(bands, "doc_id")
    cand
      // shuffle_hash: same statistics blind spot as every LSH-family
      // attach join (see l_dedup_minhash) — without it the corpus-sized
      // shingle table was statically broadcast (130 MB at sf1)
      .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
      .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
      .where(size(array_intersect(col("sa"), col("sb"))) * 2
        >= size(array_union(col("sa"), col("sb")))) // jac ≥ 0.5, integer
      .select("a", "b")
  }

  /** The l_curation_pipeline quality CTE (q10k BIGINT per doc). */
  private val oracleQ10k = """
      qf AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT doc_id,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k
        FROM qf)"""

  private val prefixTokens = 10

  // 3 on the synthetic corpus: its duplicate mass is prefix-heavy and
  // tails diverge fast, so 3 tokens is where sign-off phrases repeat;
  // real footers/disclaimers are longer — the knob widens with them
  private val suffixTokens = 3

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_dedup_exact", (s, dir) => {
      keyedDocs(s, dir).groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
        .orderBy("h")
    }, Some("""
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY h"""), headline = true),

    GraftQuery("l_dedup_minhash", (s, dir) => {
      // Fused signature + 56-bit verify sets in ONE digest pass
      // (r13 verdict item 2: the separate graft_minhash/graft_hash56
      // kernels both md5'd the bare shingle — one redundant digest per
      // shingle), and the cut materializes ONLY longs/hex chunks —
      // the shingle strings never reach the checkpoint (the verify
      // joins attach the longs; r12 item 1). localCheckpoint (not
      // persist) so the materialization is GC-cleaned with the plan
      // instead of pinned in the CacheManager across later queries.
      val sh = Dedup.signatureAndHash56(
          keyedDocs(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      // materialized: the candidate self-join reads bands TWICE, and
      // without a cut Spark re-runs the signature pipeline for each
      // side (the broadcast side can't reuse the shuffle stage)
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .localCheckpoint()
      val cand = Dedup.candidatePairs(bands, "doc_id")
      // shuffle_hash pins the shingle-set attach joins to SHUFFLED
      // hash joins (here and at every sibling site in the LSH family):
      // the shingle-set side is corpus-proportional, but its size
      // ESTIMATE is blind twice over — ArrayType projections are
      // estimated at near-constant width, and localCheckpoint's
      // LogicalRDD carries those origin stats forward — so Catalyst
      // statically broadcast the 130 MB (at sf1, growing linearly)
      // corpus side, which AQE never demotes. Measured by
      // BroadcastBudgetSpec; the hint keeps the join keyed by doc_id
      // with a per-partition build bounded by AQE partition sizing.
      val withSets = cand
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
      withSets.select(col("a"), col("b"), round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jac"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex),
      mh AS (
        SELECT doc_id, seed.seed,
          min(substring(CASE WHEN seed.seed < 4 THEN d0 ELSE d1 END,
                        1 + 8 * (seed.seed % 4), 8)) AS mh
        FROM dg CROSS JOIN (SELECT CAST(range AS INTEGER) AS seed FROM range(0, 8)) seed
        GROUP BY doc_id, seed.seed),
      sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM sig CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh)
      SELECT cand.a, cand.b,
        round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / len(list_distinct(sa.hs || sb.hs)), 4) AS jac
      FROM cand JOIN shl sa ON sa.doc_id = cand.a JOIN shl sb ON sb.doc_id = cand.b
      ORDER BY a, b"""), headline = true),

    GraftQuery("l_dup_groups", (s, dir) => {
      // near-dup group assignment: similarity edges → connected
      // components → every doc labeled with its group's min doc_id
      val sh = keyedDocs(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("s"))
      val edges = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          Dedup.jaccard(col("x.s"), col("y.s")).as("jac"))
        .where(col("jac") >= 0.07)
        .select("a", "b")
      Dedup.connectedComponents(edges).orderBy("node")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents WHERE doc_id < 40),
      sh AS (SELECT doc_id, ${oracleShingles(2)} AS s FROM tok),
      e AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.07),
      sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT src AS node FROM sym)
      SELECT n.node, LEAST(n.node, COALESCE(min(r.b), n.node)) AS component
      FROM nodes n LEFT JOIN (
        WITH RECURSIVE reach(a, b) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.a, s2.dst FROM reach r JOIN sym s2 ON r.b = s2.src)
        SELECT a, b FROM reach) r ON r.a = n.node
      GROUP BY n.node
      ORDER BY node""")),

    GraftQuery("l_dedup_simhash", (s, dir) => {
      // md5-based SimHash (hex string) — bit-reproducible in DuckDB
      val sh = keyedDocs(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
      sh.select(col("doc_id"), Dedup.simhashHex(col("shingles")).as("simhash"))
        .withColumn("bucket", substring(col("simhash"), 1, 4))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      hx AS (SELECT doc_id, substring(md5(g), 1, 16) AS h FROM ex),
      bits AS (
        SELECT doc_id, b.b AS b,
          CASE WHEN ((strpos('0123456789abcdef', substring(h, (b.b // 4) + 1, 1)) - 1)
                     >> (3 - (b.b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM hx CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 64)) b),
      votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2),
      digits AS (
        SELECT doc_id, b // 4 AS p,
          sum(CASE WHEN v > 0 THEN (8 >> (b % 4)) ELSE 0 END) AS dv
        FROM votes GROUP BY 1, 2),
      hexstr AS (
        SELECT doc_id,
          string_agg(substring('0123456789abcdef', CAST(dv AS INTEGER) + 1, 1), '' ORDER BY p) AS simhash
        FROM digits GROUP BY doc_id)
      SELECT doc_id, simhash, substring(simhash, 1, 4) AS bucket
      FROM hexstr ORDER BY doc_id""")),

    GraftQuery("l_ngram_jaccard", (s, dir) => {
      val sh = keyedDocs(s, dir).where(col("doc_id") < 30)
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("s"))
      val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          size(array_intersect(col("x.s"), col("y.s"))).as("inter"),
          round(Dedup.jaccard(col("x.s"), col("y.s")), 4).as("jac"))
      pairs.where(col("inter") > 0).select("a", "b", "jac").orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents WHERE doc_id < 30),
      sh AS (SELECT doc_id, ${oracleShingles(2)} AS s FROM tok)
      SELECT x.doc_id AS a, y.doc_id AS b,
        round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)), 4) AS jac
      FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      WHERE len(list_intersect(x.s, y.s)) > 0
      ORDER BY a, b""")),

    GraftQuery("l_fingerprint", (s, dir) => {
      keyedDocs(s, dir).select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(4)} AS s FROM tok)
      SELECT doc_id, list_min(list_transform(s, x -> md5(x))) AS fp
      FROM sh ORDER BY doc_id""")),

    GraftQuery("l_chunk_dedup", (s, dir) => {
      // repeated-chunk accounting (the RefinedWeb/CCNet "duplicated
      // paragraph" signal; this corpus has no punctuation, so fixed
      // 20-word chunks play the paragraphs): per doc, how many of its
      // distinct chunks appear in at least one OTHER doc. Scale shape:
      // explode → distinct (doc, hash) → hash-count groupBy → hash
      // join back → per-doc agg; every count integer-exact.
      // outer explode + null guard: chunkArr's sequence is never empty
      // (nChunks >= 1), so the form is row-identical — and the token
      // kernel inside chunkArr stays out of scan-side inferred filters
      val ch = keyedDocs(s, dir)
        .select(col("doc_id"), explode_outer(chunkArr(20)).as("chunk"))
        .where(col("chunk").isNotNull)
        .select(col("doc_id"), md5(col("chunk")).as("h")).distinct()
      val byHash = ch.groupBy("h").agg(count(lit(1)).as("n_docs"))
      // shuffle_hash: byHash is chunk-vocabulary-sized (corpus-
      // proportional) and its post-aggregate estimate lies under the
      // broadcast threshold (26 MB statically broadcast at sf1,
      // BroadcastBudgetSpec) — keep the join hash-keyed as documented
      ch.join(byHash.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("n_docs") > 1).cast("long")).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                   FROM documents),
      ch AS (
        SELECT DISTINCT doc_id,
          md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS h
        FROM tok, LATERAL (SELECT unnest(range(0,
          GREATEST(CAST(ceil(len(t)/20.0) AS INTEGER), 1))) AS i) gen),
      byh AS (SELECT h, count(*) AS n_docs FROM ch GROUP BY h)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        round(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4)
          AS dup_ratio
      FROM ch JOIN byh USING (h)
      GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_winnow", (s, dir) => {
      // winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
      // algorithm): positional word-3-gram hashes, then the min hash of
      // each w=4 sliding window, deduplicated — the guarantee is any
      // shared run of >= w+k-1 tokens between two docs shares a
      // fingerprint. Pure per-row array math; fingerprints are md5
      // strings so min/distinct are byte-exact cross-engine.
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val grams = transform(sequence(lit(1), greatest(size(col("t")) - 2, lit(1))),
        i => md5(array_join(slice(col("t"), i, lit(3)), " ")))
      val fps = transform(sequence(lit(1), greatest(size(col("g")) - 3, lit(1))),
        i => array_min(slice(col("g"), i, lit(4))))
      keyedDocs(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), grams.as("g"))
        .select(col("doc_id"), array_distinct(fps).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      g AS (SELECT doc_id,
          list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                         i -> md5(array_to_string(t[i:i+2], ' '))) AS g
        FROM tok),
      fp AS (SELECT doc_id,
          list_distinct(list_transform(range(1, GREATEST(len(g) - 3, 1) + 1),
                                       i -> list_min(g[i:i+3]))) AS fp
        FROM g)
      SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
        list_min(fp) AS fp_min, list_max(fp) AS fp_max
      FROM fp ORDER BY doc_id""")),

    // `l_bloom_dedup`: Bloom-filter membership pre-filter against a
    // reference corpus (the CCNet/Dolma-style "have we seen this page
    // before" gate). k=3 md5-derived bit positions in an m=4096 bit
    // space; the filter is a tiny distinct-positions table that
    // BROADCASTS no matter how big the reference corpus is — probe
    // docs never shuffle. False positives are part of the contract,
    // so the query also carries the exact-membership bit and thereby
    // measures the FP rate instead of hiding it.
    GraftQuery("l_bloom_dedup", (s, dir) => {
      // Reference slice: doc_id ≡ 0 (mod 5). Fingerprint = md5(text);
      // bit positions h_i = int(md5(i||fp)[0:8]) mod 4096, i=0..2.
      // bloom_hit = all three positions set by the reference slice;
      // exact_hit = fingerprint truly present (FP-rate accounting).
      val fp = md5(col("text"))
      val base = keyedDocs(s, dir).select(col("doc_id"), fp.as("fp"))
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

    // `l_substring_dedup`: sliding w-token window duplicate detection
    // (Lee et al. 2021 "Deduplicating Training Data" §4, the
    // exact-substring variant) — UNALIGNED duplicated spans that
    // l_chunk_dedup's fixed 20-word chunk grid misses. Every token
    // position opens a window; a window text occurring more than once
    // corpus-wide marks its position duplicated.
    GraftQuery("l_substring_dedup", (s, dir) => {
      val d = keyedDocs(s, dir)
      val toks = d.select(col("doc_id"), TextAnalysis.whitespaceTokens(col("text")).as("t"))
      val wins = toks
        // outer explode + null guard: keeps the token kernel out of a
        // scan-side inferred filter; docs shorter than the window emit
        // an empty sequence -> null row -> dropped, identical to the
        // plain explode that skipped them
        .withColumn("off", explode_outer(
          when(size(col("t")) >= substrW,
            sequence(lit(1), size(col("t")) - (substrW - 1)))
            .otherwise(array().cast("array<int>"))))
        .where(col("off").isNotNull)
        // hash immediately: only (doc_id, 32-hex) crosses the shuffle,
        // never the 20-word window text
        .select(col("doc_id"),
          md5(array_join(slice(col("t"), col("off"), lit(substrW)), " ")).as("hw"))
      val cw = Window.partitionBy("hw")
      val perDoc = wins.withColumn("cnt", count(lit(1)).over(cw))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_windows"))
      d.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          coalesce(expr("dup_windows * 10000 div n_windows"), lit(0L)).as("dup_frac_e4"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
      o AS (SELECT doc_id, t,
              unnest(generate_series(1, greatest(len(t) - ${substrW - 1}, 0))) AS i
            FROM t),
      w AS (SELECT doc_id, md5(array_to_string(t[i:i+${substrW - 1}], ' ')) AS hw FROM o),
      c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY hw) AS cnt FROM w),
      d AS (SELECT doc_id, COUNT(*) AS n_windows,
              SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS dup_windows
            FROM c GROUP BY doc_id)
      SELECT documents.doc_id,
        CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
        CAST(COALESCE(dup_windows, 0) AS BIGINT) AS dup_windows,
        CAST(COALESCE(dup_windows * 10000 // n_windows, 0) AS BIGINT) AS dup_frac_e4
      FROM documents LEFT JOIN d USING (doc_id) ORDER BY doc_id"""), headline = true),

    // `l_canonical_select`: near-dup clusters (MinHash LSH edges at
    // Jaccard ≥ 0.5 → connected components) electing ONE canonical
    // document per cluster by quality score — the step between
    // near-dup DETECTION (L2/L13) and the curated corpus: every doc
    // labeled with its cluster and whether it survives.
    GraftQuery("l_canonical_select", (s, dir) => {
      // near-dup clusters from the SAME LSH chain as l_dedup_minhash
      // (bands → candidate pairs → Jaccard ≥ 0.5 edges → connected
      // components), then per-cluster canonical election by quality
      // (q10k desc, doc_id as tie-break). Unclustered docs are their
      // own canonical. Output: every doc labeled (cluster, quality,
      // survives?).
      val d = keyedDocs(s, dir)
      val comp = Dedup.connectedComponents(lshEdges(d))
      val scored = d.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"))
      val labeled = scored.join(comp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"),
          col("q10k"))
      val w = Window.partitionBy("cluster").orderBy(col("q10k").desc, col("doc_id"))
      labeled.withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("q10k").as("quality_e4"),
          (col("rk") === 1).cast("long").as("is_canonical"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $oracleLshEdges,
      sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      comp AS (
        SELECT n.node, LEAST(n.node, COALESCE(min(r.b), n.node)) AS component
        FROM nodes n LEFT JOIN (
          WITH RECURSIVE reach(a, b) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.a, s2.dst FROM reach r JOIN sym s2 ON r.b = s2.src)
          SELECT a, b FROM reach) r ON r.a = n.node
        GROUP BY n.node),
      $oracleQ10k,
      labeled AS (
        SELECT q.doc_id, COALESCE(comp.component, q.doc_id) AS cluster, q.q10k
        FROM q LEFT JOIN comp ON q.doc_id = comp.node)
      SELECT doc_id, cluster, q10k AS quality_e4,
        CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
                         ORDER BY q10k DESC, doc_id) = 1
             THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
      FROM labeled ORDER BY doc_id""")),

    // `l_norm_dedup`: normalization-fingerprint dedup — lowercase,
    // strip punctuation, collapse whitespace, then hash. Catches the
    // "same doc, different casing/whitespace" family that byte-exact
    // dedup (L1) misses and MinHash (L2) only finds probabilistically.
    // Families also report how many RAW variants they collapse, so the
    // delta over exact dedup is visible per row.
    GraftQuery("l_norm_dedup", (s, dir) => {
      // normalize: lowercase → strip non-[a-z0-9 whitespace] → collapse
      // runs of whitespace → trim — as the single-pass codegen kernel
      // (functions.TextKernels.normalizeWords), byte-identical to the
      // two-regex form the DuckDB oracle below keeps (the r11 stage
      // profile measured the regex passes at 97% of third-decade wall).
      val norm = call_function("graft_normalize", col("text"))
      keyedDocs(s, dir)
        .select(col("doc_id"), md5(norm).as("norm_h"), md5(col("text")).as("raw_h"))
        .groupBy("norm_h")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("raw_h").as("n_raw_variants"),
          min("doc_id").as("keeper"))
        // fuzzy_only: this family is INVISIBLE to exact dedup — more
        // than one distinct raw byte form collapsed onto the hash
        .withColumn("fuzzy_only", (col("n_raw_variants") >= 2).cast("long"))
        .orderBy("norm_h")
    }, Some("""
      WITH n AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS norm_h,
          md5(text) AS raw_h
        FROM documents)
      SELECT norm_h, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT raw_h) AS BIGINT) AS n_raw_variants,
        MIN(doc_id) AS keeper,
        CAST(CASE WHEN COUNT(DISTINCT raw_h) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS fuzzy_only
      FROM n GROUP BY 1 ORDER BY norm_h"""), headline = true),

    // `l_dedup_incremental`: cross-snapshot dedup — a NEW batch
    // (sources src5..) checked against the EXISTING corpus
    // (src0..src4) only: exact md5 membership plus MinHash-LSH
    // near-dup against existing docs. The shape of real ingest: the
    // arriving batch joins a fingerprint store; the lake is never
    // re-deduped against itself.
    GraftQuery("l_dedup_incremental", (s, dir) => {
      val existingSrc = (0 to 4).map(i => s"src$i")
      val d = keyedDocs(s, dir)
      val isExisting = col("source").isin(existingSrc: _*)
      // fused signature + 56-bit verify sets, one digest pass, one
      // string-free checkpoint (r13 item 2; attach longs per r12 item 1)
      val sh = Dedup.signatureAndHash56(
          d.select(col("doc_id"), isExisting.as("old"),
            md5(col("text")).as("h"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      // exact membership: batch hashes vs the existing fingerprint set
      val oldHashes = sh.where(col("old")).select(col("h")).distinct()
        .withColumn("h_hit", lit(1L))
      // near-dup: banded LSH, but candidates are new×existing ONLY
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .join(sh.select("doc_id", "old"), "doc_id").localCheckpoint()
      val cand = bands.where(!col("old")).select(col("band"), col("key"), col("doc_id").as("a"))
        .join(bands.where(col("old")).select(col("band"), col("key"), col("doc_id").as("b")),
          Seq("band", "key"))
        .select("a", "b").distinct()
      val near = cand
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
        .where(expr("inter * 10000 div uni") >= 5000L)
        .select(col("a").as("doc_id")).distinct()
        .withColumn("near_hit", lit(1L))
      sh.where(!col("old"))
        // both attach sides grow with the lake (old-corpus fingerprint
        // set, near-dup verdicts — 19 MB/1.5 MB built at sf10, r12
        // audit): statically-broadcast post-agg sides never demote
        .join(oldHashes.hint("shuffle_hash"), Seq("h"), "left")
        .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("h_hit"), lit(0L)).as("exact_dup"),
          coalesce(col("near_hit"), lit(0L)).as("near_dup"))
        .withColumn("keep",
          when(col("exact_dup") === 0L && col("near_dup") === 0L, 1L).otherwise(0L))
        .orderBy("doc_id")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, source IN ('src0','src1','src2','src3','src4') AS old,
          md5(text) AS h, $oracleTokens AS t
        FROM documents),
      sh AS (SELECT doc_id, old, h, ${oracleShingles(3)} AS s FROM d),
      oldh AS (SELECT DISTINCT h FROM sh WHERE old),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex),
      mh AS (
        SELECT doc_id, seed.seed,
          min(substring(CASE WHEN seed.seed < 4 THEN d0 ELSE d1 END,
                        1 + 8 * (seed.seed % 4), 8)) AS mh
        FROM dg CROSS JOIN (SELECT CAST(range AS INTEGER) AS seed FROM range(0, 8)) seed
        GROUP BY doc_id, seed.seed),
      sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
      bands AS (
        SELECT s2.doc_id, sh.old, b.b AS band,
          md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM sig s2 JOIN sh ON sh.doc_id = s2.doc_id
        CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT n.doc_id AS a, o.doc_id AS b
        FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
        WHERE NOT n.old AND o.old),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh),
      near AS (
        SELECT DISTINCT c.a AS doc_id
        FROM cand c JOIN shl ha ON ha.doc_id = c.a JOIN shl hb ON hb.doc_id = c.b
        WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) * 10000
              // CAST(len(list_distinct(ha.hs || hb.hs)) AS BIGINT) >= 5000)
      SELECT n.doc_id,
        CASE WHEN oldh.h IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
        CASE WHEN oldh.h IS NULL AND near.doc_id IS NULL THEN 1 ELSE 0 END AS keep
      FROM sh n
      LEFT JOIN oldh ON oldh.h = n.h
      LEFT JOIN near ON near.doc_id = n.doc_id
      WHERE NOT n.old
      ORDER BY n.doc_id"""), headline = true),

    // `l_suffix_families`: shared-SUFFIX boilerplate families — docs
    // keyed by their last-k-token hash: the footer/disclaimer/
    // signature counterpart of L52's prefix families (headers).
    // Same one-HashAggregate shape; families of ≥2 docs with a
    // deterministic keeper election.
    GraftQuery("l_suffix_families", (s, dir) => {
      // last `suffixTokens` tokens via a clamped POSITIVE start index:
      // negative-start slice semantics on short arrays differ between
      // engines, greatest(1, n-9) is exact in both
      val toks = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val p = docs(s, dir).select(col("doc_id"), col("source"),
        md5(concat_ws(" ",
          slice(toks, greatest(lit(1), size(toks) - lit(suffixTokens - 1)),
            lit(suffixTokens)))).as("suffix_hash"))
      p.groupBy("suffix_hash")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("suffix_hash")
    }, Some(s"""
      WITH p AS (
        SELECT doc_id, source,
          md5(array_to_string(
            (string_split_regex(trim(text), '\\s+'))[greatest(1, len(string_split_regex(trim(text), '\\s+')) - ${suffixTokens - 1}):],
            ' ')) AS suffix_hash
        FROM documents)
      SELECT suffix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        MIN(doc_id) AS keeper
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2
      ORDER BY suffix_hash""")),

    // `l_prefix_families`: shared-prefix boilerplate detection — docs
    // keyed by the hash of their first 10 tokens; families of ≥2 are
    // template boilerplate (headers, licence blocks, scraper chrome)
    // that position-level dedup (L42) treats as content. Per family:
    // size, source spread, keeper election.
    GraftQuery("l_prefix_families", (s, dir) => {
      val p = keyedDocs(s, dir).select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(TextAnalysis.whitespaceTokens(col("text")), 1, prefixTokens)))
          .as("prefix_hash"))
      p.groupBy("prefix_hash")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("prefix_hash")
    }, Some(s"""
      WITH p AS (
        SELECT doc_id, source,
          md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:$prefixTokens], ' '))
            AS prefix_hash
        FROM documents)
      SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        MIN(doc_id) AS keeper
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2
      ORDER BY prefix_hash"""))
  )
}
