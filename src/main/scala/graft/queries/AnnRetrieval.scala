package graft.queries

import graft.operators.{Ann, Pq}
import graft.{GraftQuery, QuerySuite}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Approximate nearest neighbours (SURVEY §2 LLM pipeline): exact top-k,
  * random-hyperplane LSH, IVF, int8, Hamming and product-quantized
  * (PQ, IVFADC, trained codebooks) retrieval, each with its recall or
  * tuning check.
  *
  * Exactness: vectors ride as scaled integers (round(x·1000) BIGINT,
  * the shared-space analog of `l_embed_quantize`'s per-vector int8),
  * and every distance is an integer sum of squared integer deltas —
  * assignment, the ADC table, and the final ranking are all
  * bit-reproducible cross-engine (ties broken by codeword/neighbor
  * id), like `l_ann_int8`'s integer dot ranking.
  *
  * Scale shape: the codebook is O(M·K) and BROADCASTS; encoding is a
  * map-side join producing the O(n) codes table (8 B/vector — the
  * whole point: a 100 TB float corpus becomes a ~3 TB code table);
  * ADC tables are O(queries·M·K) and broadcast; candidate scoring
  * never shuffles the corpus, only the (query, candidate, partial
  * sums) triples feed the per-query top-k. In production the
  * candidate set comes from an IVF coarse stage (`l_ann_ivf`) instead
  * of the full corpus — composing the two is exactly IVFADC.
  *
  * Plus two text-model artifacts: `l_quality_classifier` (the
  * model-based quality gate, fasttext-linear shape — hashed-unigram
  * features against a broadcast weight vector, exact integer scoring)
  * and `l_bigram_lm` (Kneser-Ney n-gram count tables).
  *
  * Scale shape: hamming codes are 16 B/vector and the corpus never
  * shuffles (queries broadcast); substring windows shuffle as
  * (doc_id, md5) pairs — window text never crosses the wire — with one
  * count-over-hash pass and one per-doc agg; the report is a single
  * partial-agg rollup.
  */
object AnnRetrieval extends QuerySuite {

  /** The LSH hyperplanes are md5-derived constants (Ann.lshSignature),
    * so the oracle can carry the SAME constants as SQL literals — the
    * whole bucketed ANN pipeline becomes cross-engine checkable.
    * Sign decisions have >=1e-6 margin on this corpus vs ~1e-16 FP
    * divergence between engines' fold orders, so bucket membership is
    * deterministic across engines.
    */
  private def lshPlaneValues(nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map { p =>
      val comps = (0 until dim).map { j =>
        ((java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"plane-$p-$j").substring(0, 15), 16)
          .toDouble / math.pow(16, 15)) - 0.5).toString
      }.mkString("[", ", ", "]")
      s"($p, $comps)"
    }.mkString(", ")

  // memoized trained codebooks for l_ann_pq_trained — see its comment
  private val trainedCb =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  // the PQ machinery lives in [[Pq]] (shared with PqSpec's trained-
  // codebook path); these aliases keep the query bodies readable
  private def l2sq(a: Column, b: Column): Column = Pq.l2sq(a, b)

  private def scaledVecs(s: SparkSession, dir: String): DataFrame = Pq.scaled(embs(s, dir))

  /** The PQ index + ADC top-5 per query — shared by `l_ann_pq` and
    * `l_pq_recall` so the recall accounting measures exactly the
    * ranking the index serves. Sample codebook from vectors 0..15
    * (deterministic, oracle-expressible); [[Pq.trainCodebooks]] is the
    * quality path PqSpec measures against this baseline.
    */
  private def pqTop5(s: SparkSession, dir: String): DataFrame = {
    val e = scaledVecs(s, dir)
    val subs = Pq.subSlices(e)
    val cb = Pq.sampleCodebook(subs)
    // corpus encoding through the fused kernel (r12): codes ride the
    // scan instead of the n·m·k join + keyed argmin exchange; the
    // query-side slices/tables stay composed (|queries| rows)
    Pq.adcTopK(Pq.encodeFast(e, cb), Pq.adcTables(subs, col("vec_id") < 5, cb))
  }

  /** Oracle for `l_ann_pq_trained`: [[Pq.trainCodebooks]]' integer
    * Lloyd recurrence unrolled to `iters` SQL stages (assignment by
    * integer-L2 argmin with cent_id tie-break, exact-sum integer-mean
    * update with half-away rounding, empty codewords carried over),
    * then encode + ADC shortlist(100) + exact integer-L2 re-rank.
    * Generated, not hand-maintained, so the iteration count always
    * matches the Spark side.
    */
  private def trainedPqOracle(iters: Int): String = {
    val il2 = (a: String, b: String) =>
      s"CAST(list_dot_product($a, $a) + list_dot_product($b, $b) - 2*list_dot_product($a, $b) AS BIGINT)"
    val iterations = (1 to iters).map { i =>
      val prev = s"cb${i - 1}"
      s"""
      asg$i AS (
        SELECT s.vec_id, s.sub, s.sv, c.cent_id
        FROM subs s JOIN $prev c USING (sub)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
          ORDER BY ${il2("s.sv", "c.cv")}, c.cent_id) = 1),
      m$i AS (
        SELECT sub, cent_id, dim, SUM(sv[dim]) AS vs, COUNT(*) AS cn
        FROM asg$i CROSS JOIN (SELECT unnest(range(1, 9)) AS dim)
        GROUP BY 1, 2, 3),
      u$i AS (
        SELECT sub, cent_id,
          list(CAST(CASE WHEN vs >= 0 THEN (2*vs + cn) // (2*cn)
                         ELSE -((-2*vs + cn) // (2*cn)) END AS BIGINT)
               ORDER BY dim) AS cv
        FROM m$i GROUP BY 1, 2),
      cb$i AS (
        SELECT p.sub, p.cent_id, COALESCE(n.cv, p.cv) AS cv
        FROM $prev p LEFT JOIN u$i n USING (sub, cent_id)),"""
    }.mkString
    s"""
      WITH e AS (
        SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      subs AS (
        SELECT vec_id, sub, list_slice(qv, sub*8 + 1, sub*8 + 8) AS sv
        FROM e CROSS JOIN (SELECT unnest(range(8)) AS sub)),
      cb0 AS (
        SELECT vec_id AS cent_id, sub, sv AS cv FROM subs WHERE vec_id < 16),$iterations
      codes AS (
        SELECT vec_id, sub, cent_id AS code
        FROM (
          SELECT s.vec_id, s.sub, c.cent_id
          FROM subs s JOIN cb$iters c USING (sub)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY ${il2("s.sv", "c.cv")}, c.cent_id) = 1)),
      dt AS (
        SELECT s.vec_id AS query_id, s.sub, c.cent_id,
          ${il2("s.sv", "c.cv")} AS dl2
        FROM subs s JOIN cb$iters c USING (sub)
        WHERE s.vec_id < 5),
      short AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_l2, neighbor_id) AS srk
          FROM (
            SELECT d.query_id, a.vec_id AS neighbor_id, SUM(d.dl2) AS adc_l2
            FROM codes a JOIN dt d ON d.sub = a.sub AND d.cent_id = a.code
            WHERE a.vec_id <> d.query_id GROUP BY 1, 2))
        WHERE srk <= 100),
      rr AS (
        SELECT s.query_id, v.vec_id AS neighbor_id, ${il2("v.qv", "q.qv")} AS el2
        FROM short s
        JOIN e v ON v.vec_id = s.neighbor_id
        JOIN e q ON q.vec_id = s.query_id)
      SELECT query_id, CAST(rn AS BIGINT) AS rk, neighbor_id, el2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY el2, neighbor_id) AS rn FROM rr)
      WHERE rn <= 5
      ORDER BY query_id, rk"""
  }

  /** 2^0..2^31 as literals: variable-shift-free bit packing keeps the
    * expression a pure zip_with fold (whole-stage codegen).
    */
  private val powers32: Column = array((0 until 32).map(i => lit(1L << i)): _*)

  /** Sign bits of dims [lo, lo+32) packed little-endian into a LONG. */
  private def signWord(e: Column, lo: Int): Column =
    aggregate(
      zip_with(slice(e, lo + 1, 32), powers32,
        (x, p) => when(x > 0d, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  /** (vec_id, code_lo, code_hi): the 16-byte binary signature table. */
  private def signCodes(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"),
        signWord(col("e"), 0).as("code_lo"),
        signWord(col("e"), 32).as("code_hi"))

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_ann_topk", (s, dir) => {
      val e = keyedEmbs(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.bruteForceTopK(e, q, k = 10)
        .select(col("query_id"), col("rk"), col("neighbor_id"), duckRound(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sim AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, list_cosine_similarity(q.e, c.e) AS cos
        FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM sim)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 10
      ORDER BY query_id, rk"""), headline = true),

    GraftQuery("l_ann_lsh", (s, dir) => {
      // bucketed scale path; planes are md5-derived constants, so the
      // oracle replays the same constants as SQL literals
      val e = keyedEmbs(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.lshTopK(e, q, dim = 64, nPlanes = 6, k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"), duckRound(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sg AS (
        SELECT vec_id,
          string_agg(CASE WHEN list_dot_product(e.e, pl.v) >= 0 THEN '1' ELSE '0' END,
                     '' ORDER BY pl.p) AS sig
        FROM e CROSS JOIN (VALUES ${lshPlaneValues(6, 64)}) pl(p, v)
        GROUP BY vec_id),
      es AS (SELECT e.vec_id, e.e, sg.sig FROM e JOIN sg USING (vec_id)),
      cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(q.e, c.e) AS cos
        FROM es q JOIN es c ON c.sig = q.sig AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM cand)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 5
      ORDER BY query_id, rk""")),

    GraftQuery("l_ann_ivf", (s, dir) => {
      // IVF scale path: deterministic coarse centroids (vec_id-sample),
      // inverted-list probe — fully expressible in the oracle
      val e = keyedEmbs(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.ivfTopK(e, q, nCentroids = 16, nProbe = 4, k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"), duckRound(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 16),
      ac AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c) WHERE crk = 1),
      pr AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c WHERE n.vec_id < 5) WHERE crk <= 4),
      cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          max(list_cosine_similarity(p.e, a.e)) AS cos
        FROM pr p JOIN ac a USING (cent_id)
        WHERE a.vec_id <> p.vec_id
        GROUP BY 1, 2),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM cand)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 5
      ORDER BY query_id, rk""")),

    GraftQuery("l_ann_int8", (s, dir) => {
      // quantized ANN: top-k by int8×int8 dot product — the retrieval
      // path l_embed_quantize exists for (4× less memory bandwidth,
      // integer SIMD). The integer dot is EXACT (|term| ≤ 127², 64
      // dims → far inside both long and double-53-bit range), so
      // ranking is deterministic cross-engine; the descaled
      // approximate dot idot·s_a·s_b is a product of identically-
      // computed doubles. Queries broadcast; the corpus never
      // shuffles.
      val e = keyedEmbs(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
        .withColumn("sc", greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0),
          lit(1e-12)))
        .withColumn("q", transform(col("v"), x => duckRound(x / col("sc"), 0).cast("long")))
        .select(col("vec_id"), col("sc"), col("q"))
      val qs = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("sc").as("sa"), col("q").as("qa"))
      val scored = e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          aggregate(zip_with(col("qa"), col("q"), (x, y) => x * y),
            lit(0L), (acc, x) => acc + x).as("idot"),
          col("sa"), col("sc"))
      val w = Window.partitionBy("query_id").orderBy(col("idot").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w).cast("long")).where(col("rk") <= 10)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("idot"),
          duckRound(col("idot").cast("double") * col("sa") * col("sc"), 4).as("approx_dot"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      z AS (
        SELECT vec_id, sc,
          list_transform(v, x -> CAST(round(x / sc, 0) AS DOUBLE)) AS q
        FROM e),
      sim AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          CAST(list_dot_product(a.q, b.q) AS BIGINT) AS idot,
          a.sc AS sa, b.sc AS sb
        FROM z a CROSS JOIN z b
        WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id),
      r AS (
        SELECT query_id, neighbor_id, idot, sa, sb,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS rk
        FROM sim)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, idot,
        round(CAST(idot AS DOUBLE) * sa * sb, 4) AS approx_dot
      FROM r WHERE rk <= 10
      ORDER BY query_id, rk""")),

    // `l_ann_hamming`: sign-bit binary quantization (64 float dims →
    // 64 bits packed as two 32-bit words) + Hamming-distance top-k.
    // The classic binary-code ANN (Charikar 2002 SimHash lineage,
    // "hashing for similarity search" family): 32× smaller than the
    // float corpus, distance = XOR + popcount — both codegen'd integer
    // ops, no FP anywhere past quantization. Two packed words rather
    // than one demonstrate the multi-word layout dims > 64 needs, and
    // sidestep DuckDB's checked `1<<63` overflow in the oracle.
    GraftQuery("l_ann_hamming", (s, dir) => {
      val codes = signCodes(keyedEmbs(s, dir)).localCheckpoint()
      val q = codes.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
      val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("code_hi").bitwiseXOR(col("q_hi")))).cast("long").as("hamming"))
      val rw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
      scored.withColumn("rk", row_number().over(rw).cast("long"))
        .where(col("rk") <= 10)
        .select("query_id", "rk", "neighbor_id", "hamming")
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id,
        CAST(list_sum(list_transform(range(0,32),
          i -> CASE WHEN e[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS code_lo,
        CAST(list_sum(list_transform(range(32,64),
          i -> CASE WHEN e[i+1] > 0 THEN (1::BIGINT << (i-32)) ELSE 0::BIGINT END)) AS BIGINT) AS code_hi
        FROM e),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          CAST(bit_count(xor(q.code_lo, c.code_lo))
             + bit_count(xor(q.code_hi, c.code_hi)) AS BIGINT) AS hamming
        FROM c q JOIN c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
            FROM s)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, hamming
      FROM r WHERE rk <= 10 ORDER BY query_id, rk"""), headline = true),

    // `l_ann_pq`: the full PQ retrieval path. Vectors are split into
    // M=8 subspaces of 8 dims; each subspace gets a K=16-entry
    // codebook (deterministic vec_id-sample, the same convention as
    // `l_ann_ivf`'s coarse centroids); every vector is encoded as its
    // per-subspace nearest-codeword ids — 8 small ints, a 64-byte
    // float vector compressed 32×. Queries score candidates with
    // asymmetric distance computation (ADC): one K×M distance table
    // per query, then a table-lookup sum per candidate — no original
    // vectors touched at scan time.
    GraftQuery("l_ann_pq", (s, dir) =>
      pqTop5(s, dir).orderBy("query_id", "rk"),
    Some("""
      WITH e AS (
        SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      subs AS (
        SELECT vec_id, sub, list_slice(qv, sub*8 + 1, sub*8 + 8) AS sv
        FROM e CROSS JOIN (SELECT unnest(range(8)) AS sub)),
      cb AS (
        SELECT vec_id AS cent_id, sub, sv AS cv FROM subs WHERE vec_id < 16),
      asg AS (
        SELECT vec_id, sub, cent_id AS code FROM (
          SELECT s.vec_id, s.sub, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
                          - 2*list_dot_product(s.sv, c.cv) AS BIGINT), c.cent_id) AS crk
          FROM subs s JOIN cb c USING (sub))
        WHERE crk = 1),
      dt AS (
        SELECT s.vec_id AS query_id, s.sub, c.cent_id,
          CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
             - 2*list_dot_product(s.sv, c.cv) AS BIGINT) AS dl2
        FROM subs s JOIN cb c USING (sub)
        WHERE s.vec_id < 5),
      sc AS (
        SELECT d.query_id, a.vec_id AS neighbor_id, SUM(d.dl2) AS adc_l2
        FROM asg a JOIN dt d ON d.sub = a.sub AND d.cent_id = a.code
        WHERE a.vec_id <> d.query_id
        GROUP BY 1, 2),
      r AS (
        SELECT query_id, neighbor_id, adc_l2,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_l2, neighbor_id) AS rk
        FROM sc)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id,
        CAST(adc_l2 AS BIGINT) AS adc_l2
      FROM r WHERE rk <= 5
      ORDER BY query_id, rk"""), headline = true),

    GraftQuery("l_ann_ivfadc", (s, dir) => {
      // The full IVFADC composition (Jégou et al. 2011 §IV; the FAISS
      // IVFxx,PQyy index): coarse quantizer restricts the candidate
      // set to nProbe=4 inverted lists, PQ codes of the RESIDUAL
      // (v − coarse centroid) give the compressed in-list
      // representation, and queries score candidates with per-(query,
      // probed-list) residual ADC tables. Everything integer: scaled
      // vectors, integer-L2 coarse assignment (packed-long argmin),
      // integer residuals, integer ADC sums — bit-reproducible.
      // Scale shape: coarse centroids AND codebooks broadcast; the
      // corpus shuffles once into its inverted lists (the index
      // build); per query only nProbe lists are scanned, each a
      // table-lookup sum over 8-byte codes.
      val e = scaledVecs(s, dir)
      val coarse = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("coarse_id"), col("qv").as("cqv"))
      // coarse assignment: nearest coarse centroid by integer L2
      val asgFull = e.crossJoin(broadcast(coarse))
        .withColumn("cl2", l2sq(col("qv"), col("cqv")))
      val lists = asgFull
        .groupBy("vec_id")
        .agg(min(col("cl2") * 16 + col("coarse_id")).as("pm"))
        .select(col("vec_id"), (col("pm") % 16).as("list_id"))
      // residuals r = v − c(v), then PQ sub-slices of the residual
      val resid = e.join(lists, "vec_id")
        .join(broadcast(coarse), col("list_id") === col("coarse_id"))
        .select(col("vec_id"), col("list_id"),
          zip_with(col("qv"), col("cqv"), (a, b) => a - b).as("rv"))
      // rsubs is read THREE times (codebook sample, the code
      // assignment, and the ADC tables via broadcast(cb)): cut it
      // once, or each consumer re-derives the whole coarse-assignment
      // chain (crossJoin × 16 centroids + integer-L2 argmin + residual
      // join) — the query's dominant CPU. Materialized: 8 rows/vector
      // of (3 longs + an 8-long slice), never the full vectors.
      val rsubs = resid
        .withColumn("sub", explode(sequence(lit(0L), lit(7L))))
        .withColumn("sv", slice(col("rv"), (col("sub") * 8 + 1).cast("int"), lit(8)))
        .select("vec_id", "list_id", "sub", "sv")
        .localCheckpoint()
      // residual codebooks: sampled DISJOINT from the coarse
      // centroids — vectors 0..15 ARE the centroids, so their
      // residuals are identically zero; a codebook built from them
      // would be 16 copies of the zero vector and the whole residual
      // stage a no-op (every code 0, ranking degenerate to the coarse
      // distance). Vectors 16..31 have genuine residuals.
      val cb = rsubs.where(col("vec_id") >= 16 && col("vec_id") < 32)
        .select((col("vec_id") - 16).as("cent_id"), col("sub"), col("sv").as("cv"))
      val codes = rsubs.join(broadcast(cb), "sub")
        .withColumn("l2", l2sq(col("sv"), col("cv")))
        .groupBy("vec_id", "list_id", "sub")
        .agg(min(col("l2") * 16 + col("cent_id")).as("pm"))
        .select(col("vec_id"), col("list_id"), col("sub"), (col("pm") % 16).as("code"))
      // query side: probe the 4 nearest lists, residual per probed list
      val pw = Window.partitionBy("qvec").orderBy(col("cl2"), col("coarse_id"))
      val probes = asgFull.where(col("vec_id") < 5)
        .withColumnRenamed("vec_id", "qvec")
        .withColumn("prk", row_number().over(pw))
        .where(col("prk") <= 4)
        .select(col("qvec").as("query_id"), col("coarse_id").as("probe_list"),
          zip_with(col("qv"), col("cqv"), (a, b) => a - b).as("qrv"))
      // ADC tables per (query, probed list)
      val dt = probes
        .withColumn("qsub", explode(sequence(lit(0L), lit(7L))))
        .withColumn("qsv", slice(col("qrv"), (col("qsub") * 8 + 1).cast("int"), lit(8)))
        .join(broadcast(cb), col("qsub") === cb("sub"))
        .select(col("query_id"), col("probe_list"), col("qsub"), col("cent_id"),
          l2sq(col("qsv"), col("cv")).as("dl2"))
      // scan only the probed lists; table-lookup sum per candidate
      val scored = codes
        .join(broadcast(dt),
          col("list_id") === col("probe_list") && col("sub") === col("qsub")
            && col("code") === col("cent_id"))
        .where(col("vec_id") =!= col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(sum("dl2").as("adc_l2"))
      val rw = Window.partitionBy("query_id").orderBy(col("adc_l2"), col("vec_id"))
      scored.withColumn("rk", row_number().over(rw).cast("long"))
        .where(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("adc_l2"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (
        SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      coarse AS (SELECT vec_id AS coarse_id, qv AS cqv FROM e WHERE vec_id < 16),
      af AS (
        SELECT v.vec_id, v.qv, c.coarse_id, c.cqv,
          CAST(list_dot_product(v.qv, v.qv) + list_dot_product(c.cqv, c.cqv)
             - 2*list_dot_product(v.qv, c.cqv) AS BIGINT) AS cl2
        FROM e v CROSS JOIN coarse c),
      lists AS (
        SELECT vec_id, CAST(MIN(cl2*16 + coarse_id) % 16 AS BIGINT) AS list_id
        FROM af GROUP BY vec_id),
      resid AS (
        SELECT e.vec_id, l.list_id,
          list_transform(list_zip(e.qv, c.cqv), p -> p[1] - p[2]) AS rv
        FROM e JOIN lists l USING (vec_id)
        JOIN coarse c ON l.list_id = c.coarse_id),
      rsubs AS (
        SELECT vec_id, list_id, sub, list_slice(rv, sub*8 + 1, sub*8 + 8) AS sv
        FROM resid CROSS JOIN (SELECT unnest(range(8)) AS sub)),
      cb AS (SELECT vec_id - 16 AS cent_id, sub, sv AS cv
             FROM rsubs WHERE vec_id >= 16 AND vec_id < 32),
      codes AS (
        SELECT vec_id, list_id, sub,
          CAST(MIN((CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
                  - 2*list_dot_product(s.sv, c.cv) AS BIGINT))*16 + c.cent_id) % 16
               AS BIGINT) AS code
        FROM rsubs s JOIN cb c USING (sub)
        GROUP BY vec_id, list_id, sub),
      probes AS (
        SELECT vec_id AS query_id, coarse_id AS probe_list,
          list_transform(list_zip(qv, cqv), p -> p[1] - p[2]) AS qrv
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cl2, coarse_id) AS prk
          FROM af WHERE vec_id < 5)
        WHERE prk <= 4),
      dt AS (
        SELECT q.query_id, q.probe_list, q.sub, c.cent_id,
          CAST(list_dot_product(q.sv, q.sv) + list_dot_product(c.cv, c.cv)
             - 2*list_dot_product(q.sv, c.cv) AS BIGINT) AS dl2
        FROM (
          SELECT query_id, probe_list, sub,
            list_slice(qrv, sub*8 + 1, sub*8 + 8) AS sv
          FROM probes CROSS JOIN (SELECT unnest(range(8)) AS sub)) q
        JOIN cb c ON c.sub = q.sub),
      sc AS (
        SELECT d.query_id, a.vec_id AS neighbor_id, SUM(d.dl2) AS adc_l2
        FROM codes a
        JOIN dt d ON a.list_id = d.probe_list AND a.sub = d.sub AND a.code = d.cent_id
        WHERE a.vec_id <> d.query_id
        GROUP BY 1, 2),
      r AS (
        SELECT query_id, neighbor_id, adc_l2,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_l2, neighbor_id) AS rk
        FROM sc)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id,
        CAST(adc_l2 AS BIGINT) AS adc_l2
      FROM r WHERE rk <= 5
      ORDER BY query_id, rk"""), headline = true),

    GraftQuery("l_pq_recall", (s, dir) => {
      // recall accounting for the PQ index — "measure, don't guess"
      // applied to ANN quality: per query, how many of the exact
      // integer-L2 top-5 does the ADC top-5 recover? Both rankings
      // are integer-deterministic, so the recall counts are exact
      // cross-engine. The exact side is the brute-force kernel over
      // the same scaled vectors (broadcast queries, corpus never
      // shuffles); production samples queries instead of ranking all.
      // On THIS test corpus the measured recall is low (0–2/5):
      // 16-sample codebooks over near-isotropic synthetic embeddings
      // quantize poorly — which is precisely the signal this query
      // exists to surface before anyone ships such an index; real
      // corpora have cluster structure, and k-means-trained codebooks
      // (Ann.kmeansRefine is the trained-centroid path) recover it.
      val e = scaledVecs(s, dir)
      val qs = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
      val ew = Window.partitionBy("query_id").orderBy(col("el2"), col("vec_id"))
      val exact = e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("el2", l2sq(col("qv"), col("qqv")))
        .withColumn("erk", row_number().over(ew))
        .where(col("erk") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
      val approx = pqTop5(s, dir).select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_recovered"))
        .join(qs.select("query_id"), Seq("query_id"), "right_outer")
        .na.fill(0L, Seq("n_recovered"))
        .select(col("query_id"), col("n_recovered"), lit(5L).as("k"))
        .orderBy("query_id")
    }, Some("""
      WITH e AS (
        SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      qs AS (SELECT vec_id AS query_id, qv AS qqv FROM e WHERE vec_id < 5),
      exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.query_id, v.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id
              ORDER BY CAST(list_dot_product(v.qv, v.qv) + list_dot_product(q.qqv, q.qqv)
                          - 2*list_dot_product(v.qv, q.qqv) AS BIGINT), v.vec_id) AS erk
          FROM e v CROSS JOIN qs q WHERE v.vec_id <> q.query_id)
        WHERE erk <= 5),
      subs AS (
        SELECT vec_id, sub, list_slice(qv, sub*8 + 1, sub*8 + 8) AS sv
        FROM e CROSS JOIN (SELECT unnest(range(8)) AS sub)),
      cb AS (SELECT vec_id AS cent_id, sub, sv AS cv FROM subs WHERE vec_id < 16),
      asg AS (
        SELECT vec_id, sub,
          CAST(MIN((CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
                  - 2*list_dot_product(s.sv, c.cv) AS BIGINT))*16 + c.cent_id) % 16
               AS BIGINT) AS code
        FROM subs s JOIN cb c USING (sub) GROUP BY vec_id, sub),
      dt AS (
        SELECT s.vec_id AS query_id, s.sub, c.cent_id,
          CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
             - 2*list_dot_product(s.sv, c.cv) AS BIGINT) AS dl2
        FROM subs s JOIN cb c USING (sub) WHERE s.vec_id < 5),
      approx AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_l2, neighbor_id) AS rk
          FROM (
            SELECT d.query_id, a.vec_id AS neighbor_id, SUM(d.dl2) AS adc_l2
            FROM asg a JOIN dt d ON d.sub = a.sub AND d.cent_id = a.code
            WHERE a.vec_id <> d.query_id GROUP BY 1, 2))
        WHERE rk <= 5)
      SELECT q.query_id,
        CAST(COALESCE((SELECT COUNT(*) FROM exact x JOIN approx a
          ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
          WHERE x.query_id = q.query_id), 0) AS BIGINT) AS n_recovered,
        CAST(5 AS BIGINT) AS k
      FROM qs q
      ORDER BY q.query_id""")),

    GraftQuery("l_ann_pq_trained", (s, dir) => {
      // the SERVED trained-PQ path (FAISS "IVFADC + refine" shape):
      // integer-Lloyd codebooks (2 driver-iterated rounds over the
      // deterministic sample init), ADC shortlist of 100 candidates,
      // then an EXACT integer-L2 re-rank of the shortlist — the
      // production answer to `l_pq_recall`'s honest low raw-ADC
      // number: on this near-isotropic corpus raw ADC@5 recovers ~1/5
      // exact neighbors, shortlist+re-rank recovers 3–5/5 (median 4
      // at sf0.1; PqSpec asserts the ≥3 floor). Scale shape: training
      // is one broadcast join + one keyed agg per iteration; the
      // re-rank touches only |queries|·100 full vectors, so the
      // corpus still never shuffles for scoring. Training is pure
      // integer arithmetic (exact long sums, half-away integer-mean
      // rounding), so the oracle below replays the identical
      // recurrence in SQL, unrolled.
      val e = scaledVecs(s, dir)
      val subs = Pq.subSlices(e)
      // train ONCE per process per corpus: a production PQ index is
      // trained once and served many times, so repeated invocations
      // (bench reps) must pay only the serve path. Training is fully
      // deterministic, so the memo changes cost, never results. The
      // memoized codebook is COLLECTED to the driver (M×K = 128 rows —
      // an index artifact, not data; the production analog persists it
      // outside executor storage): the previous localCheckpoint memo
      // lived in executor block storage and a 2 M-vector corpus could
      // evict it, silently RE-TRAINING inside a serve rep (sf100sub
      // probe: 44 s vs 151 s reps, r12).
      val cb = trainedCb.getOrElseUpdate((s, dir), {
        val trained = Pq.trainCodebooks(subs, iters = 2)
        s.createDataFrame(s.sparkContext.parallelize(trained.collect().toSeq, 1),
          trained.schema)
      })
      val short = Pq.adcTopK(Pq.encodeFast(e, cb),
        Pq.adcTables(subs, col("vec_id") < 5, cb), k = 100)
      val qs = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
      val rr = short.select("query_id", "neighbor_id")
        .join(e, col("neighbor_id") === col("vec_id"))
        .join(broadcast(qs), "query_id")
        .withColumn("el2", l2sq(col("qv"), col("qqv")))
      val rw = Window.partitionBy("query_id").orderBy(col("el2"), col("neighbor_id"))
      rr.withColumn("rk", row_number().over(rw).cast("long"))
        .where(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("el2"))
        .orderBy("query_id", "rk")
    }, Some(trainedPqOracle(iters = 2)), headline = true),

    // `l_ann_nprobe_curve`: IVF recall-vs-nprobe tuning curve — for
    // nprobe ∈ {1, 2, 4}, recall@5 of the inverted-list probe against
    // the exact top-5 (FAISS's standard index-tuning sweep). Extends
    // the index-honesty discipline (l_pq_recall, l_minhash_calib) from
    // "is the estimator sane" to "which operating point to run".
    GraftQuery("l_ann_nprobe_curve", (s, dir) => {
      val e = keyedEmbs(s, dir)
      val q = e.where(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(e, q, k = 5)
        .select("query_id", "neighbor_id")
      val probes = Seq(1, 2, 4)
      // one inverted-list build + one probe pass serves all three
      // operating points (a list probed at rank r is probed by every
      // nprobe ≥ r) — not three independent index scans
      val ivf = Ann.ivfTopKSweep(e, q, nCentroids = 16, probes, k = 5)
        .select("nprobe", "query_id", "neighbor_id")
      val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
      // recall denominator derived from the exact result itself, NOT a
      // hard-coded 5×5=25: with ≤5 corpus vectors the exact top-5 holds
      // fewer than 5 neighbors per query (self excluded) and a literal
      // 25 would silently understate full recall (ADVICE r8)
      val den = exact.agg(count(lit(1)).as("den"))
      val grid = s.createDataFrame(probes.map(p => Tuple1(p.toLong))).toDF("nprobe")
      grid.join(hits, Seq("nprobe"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .crossJoin(broadcast(den))
        .withColumn("recall_e4", expr("n_hits * 10000 div den"))
        .select("nprobe", "n_hits", "recall_e4")
        .orderBy("nprobe")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 16),
      ac AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c) WHERE crk = 1),
      prq AS (
        SELECT n.vec_id, n.e, c.cent_id,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id
            ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
        FROM e n CROSS JOIN c WHERE n.vec_id < 5),
      np AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
      pr AS (SELECT np.nprobe, q.vec_id, q.e, q.cent_id
             FROM prq q JOIN np ON q.crk <= np.nprobe),
      cnd AS (
        SELECT p.nprobe, p.vec_id AS query_id, a.vec_id AS neighbor_id,
          max(list_cosine_similarity(p.e, a.e)) AS cos
        FROM pr p JOIN ac a USING (cent_id)
        WHERE a.vec_id <> p.vec_id
        GROUP BY 1, 2, 3),
      rv AS (
        SELECT nprobe, query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
            ORDER BY cos DESC, neighbor_id) AS rk
        FROM cnd),
      ivf5 AS (SELECT nprobe, query_id, neighbor_id FROM rv WHERE rk <= 5),
      exq AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.e, n.e) DESC, n.vec_id) AS rk
        FROM e q CROSS JOIN e n
        WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id),
      ex5 AS (SELECT query_id, neighbor_id FROM exq WHERE rk <= 5),
      h AS (
        SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
        FROM ivf5 JOIN ex5 USING (query_id, neighbor_id)
        GROUP BY 1)
      SELECT np.nprobe, COALESCE(h.n_hits, 0) AS n_hits,
        COALESCE(h.n_hits, 0) * 10000 // (SELECT count(*) FROM ex5) AS recall_e4
      FROM np LEFT JOIN h USING (nprobe) ORDER BY nprobe"""))
  )
}
