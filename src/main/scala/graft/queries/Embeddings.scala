package graft.queries

import graft.operators.Ann
import graft.{GraftQuery, QuerySuite, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embeddings (SURVEY §2 LLM pipeline): near-duplicate embeddings,
  * quantization and norm health, the Gram matrix, k-means style
  * cluster assignment and health, and semantic dedup.
  *
  * Scale shape: the Gram shuffle is bounded by cells×partitions
  * regardless of corpus size; quantile norm windows within source
  * partitions only; the histogram is one partial-agg HashAggregate
  * on (source, bucket) — ≤ sources×64 groups.
  */
object Embeddings extends QuerySuite {

  /** Assignments at the FIXED K=8 of the oracle gate: sample centroids
    * (the quantized vectors of vec_id 0..7) are deterministic and
    * recomputable by any engine from the raw table, unlike trained FP
    * centroids, whose group-sum order is engine-specific. The machinery
    * is the K-parameterized [[graft.operators.SemDeDup]] — the scale
    * path (K ∝ n/target_cluster_size, trained via Ann.kmeansRefine) is
    * covered by SemDeDupScaleSpec.
    */
  private def assignments(e: DataFrame): DataFrame =
    graft.operators.SemDeDup.assignments(e, 8)

  /** Oracle-side CTEs matching SemDeDup.quantize + assignment at
    * centroid count `kSql` (a SQL expression — a literal for the fixed
    * gate K, a scalar subquery for the scale-derived K): DuckDB has no
    * zip_with, so integer L2 comes from the dot identity
    * |a-b|^2 = a.a - 2 a.b + b.b (all three dots are exact integers).
    */
  private def assignSqlK(kSql: String) = s"""
      e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      z AS (
        SELECT vec_id, sc,
          list_transform(v, x -> CAST(round(x / sc, 0) AS DOUBLE)) AS q
        FROM e),
      scored AS (
        SELECT a.vec_id, a.sc, a.q, c.vec_id AS cid,
          CAST(list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.q)
               + list_dot_product(c.q, c.q) AS BIGINT) AS idist
        FROM z a CROSS JOIN z c
        WHERE c.vec_id < ($kSql)),
      asn AS (
        SELECT vec_id, sc, q, cid AS cluster, idist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY idist, cid) AS rk
        FROM scored)"""

  /** The fixed-K=8 CTE set (assignment demos whose cost is LINEAR in
    * n×K — l_cluster_assign, l_index_health). The quadratic consumer
    * (l_semantic_dedup) derives K from the corpus count instead.
    */
  private val assignSql = assignSqlK("8")

  /** Scale-correct centroid count as a SQL scalar, integer-exact on
    * both engines: K = greatest(8, ceil(n / 1250)). With balanced
    * clusters the within-cluster pair term is n²/K ≈ 1250·n — LINEAR
    * in corpus size, per SemDeDup's own doctrine (K ∝ n). Evaluates to
    * 8 whenever n ≤ 10k — every driver gate SF has ≤ 2000 vectors, so
    * gate results are bit-identical; the generated decade lakes get
    * K = 16 (sf1, 20k vectors) and 160 (sf10, 200k).
    */
  private val scaleKSql =
    "SELECT GREATEST(8, (count(*) + 1249) // 1250) FROM embeddings"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_embed_neardup", (s, dir) => {
      // raw float arrays: graft_dot widens per element (bit-identical
      // to the cast, without materializing a double copy per row).
      // Brute-force all-pairs is O(n²) BY CONSTRUCTION — it exists as
      // the exact baseline for the scale paths (LSH L7, SemDeDup L30),
      // so it runs on a FIXED calibration slice (vec_id < 20000), the
      // way real pipelines calibrate exact baselines on a bounded
      // sample: constant work at any corpus scale. The cap covers the
      // ENTIRE corpus at every driver gate SF (≤ 2000 vectors), so
      // gate results are unchanged; on GenLake decade lakes it selects
      // the base replica's id range (replicas sit at offsets of 10⁷).
      // Found at the sf10 decade, where the uncapped join was 20B pairs.
      val e = keyedEmbs(s, dir).where(col("vec_id") < 20000)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", Ann.norm(col("e")))
      e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          (Ann.dot(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
        .where(col("cos") >= 0.4)
        .select(col("a"), col("b"), duckRound(col("cos"), 4).as("cos"))
        .orderBy("a", "b")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
                 WHERE vec_id < 20000)
      SELECT x.vec_id AS a, y.vec_id AS b, round(list_cosine_similarity(x.e, y.e), 4) AS cos
      FROM e x JOIN e y ON x.vec_id < y.vec_id
      WHERE list_cosine_similarity(x.e, y.e) >= 0.4
      ORDER BY a, b""")),

    GraftQuery("l_embed_quantize", (s, dir) => {
      // symmetric int8 quantization of the embedding column (the
      // memory-bandwidth play for 100 TB ANN: 4x smaller vectors,
      // integer SIMD distance): per-vector scale = max|v|/127,
      // q_i = round(v_i/scale). Pure per-row array math — zero shuffle.
      val e = col("embedding").cast("array<double>")
      val sc = greatest(array_max(transform(e, v => abs(v))) / lit(127.0), lit(1e-12))
      val q = transform(e, v => duckRound(v / col("sc"), 0).cast("long"))
      keyedEmbs(s, dir)
        .withColumn("sc", sc)
        .withColumn("q", q)
        .select(col("vec_id"), duckRound(col("sc"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          array_min(col("q")).as("min_q"), array_max(col("q")).as("max_q"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy("vec_id")
    }, Some("""
      WITH e AS (SELECT vec_id, embedding,
          GREATEST(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      q AS (SELECT vec_id, sc,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)/sc, 0) AS BIGINT)) AS q
        FROM e)
      SELECT vec_id, round(sc, 6) AS scale,
        CAST(list_sum(q) AS BIGINT) AS sum_q,
        list_min(q) AS min_q, list_max(q) AS max_q,
        CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
      FROM q ORDER BY vec_id""")),

    // `l_embed_norms`: embedding-table health before indexing — per
    // label, the distribution of int8-quantized squared norms (exact
    // integers), zero-vector and saturated-vector counts. Zero or
    // degenerate vectors poison cosine ANN (undefined similarity) and
    // k-means (ties); every FAISS deployment sweeps for them first.
    GraftQuery("l_embed_norms", (s, dir) => {
      // int8-quantized squared norms are EXACT integers (the float
      // norms themselves are fold-order-dependent doubles — not
      // cross-engine comparable); same quantizer as l_embed_quantize
      val e = keyedEmbs(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("sc",
          greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0), lit(1e-12)))
        .withColumn("q", transform(col("v"), x => round(x / col("sc"), 0).cast("long")))
        .withColumn("nrm2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
        .withColumn("n_sat", size(filter(col("q"), x => abs(x) === 127)).cast("long"))
      e.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min("nrm2").as("min_nrm2"), max("nrm2").as("max_nrm2"),
          sum("nrm2").as("sum_nrm2"),
          sum(when(col("nrm2") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("n_sat") > 0, 1L).otherwise(0L)).as("n_saturated"))
        .withColumn("mean_nrm2", expr("sum_nrm2 div n_vecs"))
        .select("label", "n_vecs", "min_nrm2", "max_nrm2", "mean_nrm2",
          "n_zero", "n_saturated")
        .orderBy("label")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          GREATEST(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0,
                   1e-12) AS sc,
          embedding
        FROM embeddings),
      q AS (
        SELECT vec_id, label,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)/sc, 0) AS BIGINT)) AS q
        FROM e),
      n AS (
        SELECT vec_id, label,
          CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm2,
          CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        FROM q)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        min(nrm2) AS min_nrm2, max(nrm2) AS max_nrm2,
        CAST(SUM(nrm2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_nrm2,
        CAST(SUM(CASE WHEN nrm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(SUM(CASE WHEN n_sat > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
      FROM n GROUP BY 1 ORDER BY label""")),

    // `l_gram_matrix`: exact integer Gram/scatter matrix over the
    // scaled-integer embedding corpus (upper triangle of XᵀX) — THE
    // input to offline PCA/whitening/covariance (subtract the mean
    // outer product downstream). On Spark this is the classic
    // map-side-partial trick: each partition accumulates its local
    // 2080-cell triangle, the shuffle carries cells × partitions rows
    // — never the vectors. All-integer (round(x·1000) BIGINT), so the
    // matrix is bit-identical across engines and partitionings.
    GraftQuery("l_gram_matrix", (s, dir) => {
      val q = keyedEmbs(s, dir).select(
        transform(col("embedding").cast("array<double>"),
          x => duckRound(x * 1000, 0).cast("long")).as("qv"))
      // ONE aggregate pass (graft_gram_upper, r15): each vector enters
      // the agg as a single row and the d(d+1)/2 multiply-adds run in
      // a tight primitive loop over a per-partition 2080-cell long
      // buffer — the former double posexplode fed n·2080 generated
      // rows (416M at sf10) through hashing/grouping to produce the
      // same 2080 cells. Exact integer sums in any merge order;
      // GramAggSpec pins equality against the composed explode form.
      q.agg(call_function("graft_gram_upper", col("qv")).as("cells"))
        .select(explode(col("cells")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))
        .orderBy("i", "j")
    }, Some("""
      WITH q AS (
        SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      cells AS (
        SELECT ii.i, jj.j, SUM(qv[ii.i + 1] * qv[jj.j + 1]) AS g
        FROM q
        CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)) ii
        CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 64)) jj
        WHERE jj.j >= ii.i
        GROUP BY 1, 2)
      SELECT i, j, CAST(g AS BIGINT) AS g FROM cells ORDER BY i, j"""), headline = true),

    // `l_cluster_assign`: k-means cluster ASSIGNMENT over int8-quantized
    // vectors — integer L2 distances, so the argmin is bit-reproducible
    // across engines (FP k-means assignment is not: sum order perturbs
    // distances near ties).
    GraftQuery("l_cluster_assign", (s, dir) => {
      assignments(embs(s, dir))
        .select(col("vec_id"), col("cluster"), col("idist"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH $assignSql
      SELECT vec_id, cluster, idist FROM asn WHERE rk = 1 ORDER BY vec_id""")),

    // `l_cluster_health`: embedding-index health — per k-means
    // cluster (L29's integer assignment): population, population
    // share e4, mean and max integer-L2 distance to the centroid.
    // Unbalanced or wide clusters mean the coarse quantizer needs
    // retraining before it serves (the IVF list-balance check every
    // FAISS deployment runs).
    GraftQuery("l_cluster_health", (s, dir) => {
      val asn = graft.operators.SemDeDup.assignments(embs(s, dir), 8)
      val per = asn.groupBy("cluster")
        .agg(count(lit(1)).as("n"), sum("idist").as("sum_idist"),
          max("idist").as("max_idist"))
      val tot = per.agg(sum("n").as("total"))
      per.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n"),
          expr("n * 10000 div total").as("share_e4"),
          expr("sum_idist div n").as("avg_idist"),
          col("max_idist"))
        .orderBy("cluster")
    }, Some(s"""
      WITH ${assignSql},
      a AS (SELECT vec_id, cluster, idist FROM asn WHERE rk = 1),
      per AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(idist) AS BIGINT) AS sum_idist,
          CAST(MAX(idist) AS BIGINT) AS max_idist
        FROM a GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM per)
      SELECT cluster, n, n * 10000 // tot.total AS share_e4,
        sum_idist // n AS avg_idist, max_idist
      FROM per CROSS JOIN tot
      ORDER BY cluster""")),

    // `l_semantic_dedup`: SemDeDup (Abbas et al. 2023) — near-duplicate
    // pruning INSIDE clusters, which bounds the pairwise term to
    // O(sum cluster_size^2) instead of O(n^2); similarity is the
    // quantized cosine, derived from integer dots.
    GraftQuery("l_semantic_dedup", (s, dir) => {
      // SemDeDup: within each cluster, drop a vector when an
      // earlier-id vector in the SAME cluster is too close. Quantized
      // cosine = idot / sqrt(|a|^2 |b|^2) — every input to the FP
      // expression is an exact integer and the expression tree is
      // written identically on both engines, so the threshold
      // comparison is deterministic. The cluster equi-join bounds the
      // quadratic term to the cluster granularity (the reason SemDeDup
      // clusters first); at 100 TB the join shuffles on cluster id and
      // each cluster's pairs stay inside one task.
      // Scale-correct K derived from the corpus row count, mirrored
      // exactly by the oracle's scalar subquery: K = 8 at every driver
      // gate SF, grows as n/1250 so the pair term stays linear. Found
      // at the sf10 decade: the fixed K=8 put 5B pairs in 8 skewed
      // tasks. The count comes from parquet FOOTER metadata (zero
      // Spark jobs, no data read — Tables.rowCount): the earlier
      // e.count() action was a full scan paid before the query proper,
      // a real cost at 100 TB (round-9 verdict item 7).
      val e = embs(s, dir)
      val k = math.max(8L, (Tables.rowCount(s, dir, "embeddings") + 1249L) / 1250L).toInt
      graft.operators.SemDeDup.dedup(
        graft.operators.SemDeDup.assignments(e, k), 0.4)
        .orderBy("vec_id")
    }, Some(s"""
      WITH ${assignSqlK(scaleKSql)},
      v AS (
        SELECT vec_id, cluster, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm
        FROM asn WHERE rk = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT)
              / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) > 0.4)
      SELECT vec_id, cluster FROM v
      WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id"""))
  )
}
