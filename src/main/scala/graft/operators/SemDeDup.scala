package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over int8-quantized
  * embeddings, parameterized by cluster count K — the scale knob the
  * fixed-K oracle variant in the Embeddings suite pins for determinism.
  *
  * The within-cluster pairwise term is O(Σ cluster_size²): K must grow
  * with the corpus (K ≈ n / target_cluster_size) for the quadratic
  * term to stay bounded — with balanced clusters the pair count is
  * n²/K, so doubling K halves the work. At 100 TB the pipeline is:
  * train centroids on a sample ([[Ann.kmeansRefine]]), quantize them
  * ([[quantizeVecs]]), broadcast, assign with integer L2 (corpus never
  * shuffles for scoring), then shuffle once on cluster id for the
  * pairwise pass — each cluster's pairs stay inside one task.
  */
object SemDeDup {

  /** int8 symmetric quantization: per-vector scale max|v|/127,
    * q_i = round(v_i / sc). Integer vectors make every downstream
    * comparison bit-reproducible across engines AND 4x smaller on the
    * shuffle wire. Input needs (vec_id, embedding); output
    * (vec_id, sc, q).
    */
  def quantize(e: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    e.select(col("vec_id"), v.as("v"))
      .withColumn("sc", greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0),
        lit(1e-12)))
      .withColumn("q", transform(col("v"),
        x => graft.queries.round(x / col("sc"), 0).cast("long")))
      .select(col("vec_id"), col("sc"), col("q"))
  }

  /** Quantize an arbitrary (cent_id, ce: array<double>) centroid table
    * (e.g. [[Ann.kmeansRefine]] output) into the integer form
    * [[assign]] consumes.
    */
  def quantizeVecs(cents: DataFrame, idCol: String, vecCol: String): DataFrame = {
    quantize(cents.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")))
      .select(col("vec_id").as("cid"), col("q").as("cq"))
  }

  /** Exact integer dot product of two quantized vectors, through the
    * CODEGEN'd [[graft.functions.DotProduct]] expression rather than an
    * aggregate(zip_with(...)) fold: higher-order functions are
    * CodegenFallback, and the r10 sf10 probe measured the dedup pair
    * scan spending ~5 min in their interpreted eval. Exactness holds
    * bit-for-bit: |q| ≤ 127 so every product ≤ 16129 and every 64-term
    * partial sum ≤ ~1.04e6 — integers far inside double's exact 2⁵³
    * range, so double accumulation equals the integer fold and the
    * final long cast is lossless (the DuckDB oracle's BIGINT
    * list_dot_product is unchanged).
    */
  def idot(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))
      .cast("long")

  /** Nearest-centroid assignment with exact integer L2 (|q| <= 127,
    * |diff| <= 254; 254² * dims stays far inside Long). Centroids
    * broadcast — the corpus never shuffles for scoring. Input: quantized
    * corpus (vec_id, sc, q) and centroids (cid, cq). Output
    * (vec_id, sc, q, cluster, idist).
    *
    * L2 via the norm identity |a−b|² = |a|² + |b|² − 2a·b: the two
    * norms are computed ONCE per vector/centroid and the cross term is
    * one codegen'd dot per (vector, centroid) — the direct
    * aggregate(zip_with((x−y)²)) form paid an interpreted HOF per pair
    * (n·K evals). All three terms are exact integers (≤ 127²·dims), so
    * idist is bit-identical to the folded form.
    */
  def assign(q: DataFrame, cents: DataFrame): DataFrame = {
    val qn = q.withColumn("qnrm", idot(col("q"), col("q")))
    val cn = cents.withColumn("cnrm", idot(col("cq"), col("cq")))
    val scored = qn.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("sc"), col("q"), col("cid"),
        (col("qnrm") + col("cnrm") - lit(2L) * idot(col("q"), col("cq"))).as("idist"))
    val w = Window.partitionBy("vec_id").orderBy(col("idist").asc, col("cid"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("vec_id"), col("sc"), col("q"), col("cid").as("cluster"), col("idist"))
  }

  /** Deterministic sample centroids: the quantized vectors of vec_id
    * 0..k-1 — recomputable by any engine from the raw table (the
    * oracle-checkable configuration; trained centroids are the quality
    * path, [[Ann.kmeansRefine]] + [[quantizeVecs]]).
    */
  def sampleCentroids(q: DataFrame, k: Int): DataFrame =
    q.where(col("vec_id") < k).select(col("vec_id").as("cid"), col("q").as("cq"))

  /** Quantize + sample-centroid assignment in one call (K-parameterized
    * generalization of the fixed-K=8 query variant).
    */
  def assignments(e: DataFrame, k: Int): DataFrame = {
    val q = quantize(e)
    assign(q, sampleCentroids(q, k))
  }

  /** The dedup decision: drop a vector when an earlier-id vector in the
    * SAME cluster has quantized cosine above `threshold`. Returns the
    * kept (vec_id, cluster). Quantized cosine = idot/sqrt(|a|²|b|²) —
    * every input to the FP expression is an exact integer, so the
    * threshold comparison is engine-deterministic. The cluster equi-join
    * bounds the quadratic term to the cluster granularity.
    */
  def dedup(asn: DataFrame, threshold: Double, blocks: Int = 16): DataFrame = {
    // Triangle-blocked within-cluster self-join (Suri & Vassilvitskii's
    // 2-path partitioning, applied to the dedup pair scan): a plain
    // equi-join on cluster id puts EVERY pair of a cluster into the one
    // reducer owning that key — a 26k-member hot cluster (observed at
    // the sf10 decade under sampled centroids) is then 345M pairs in a
    // single task while 31 cores idle. Splitting each cluster into B
    // deterministic hash-blocks decomposes its pairs into B same-block
    // keys (orientation deduped by a_id < b_id) plus B(B-1)/2 cross-
    // block keys (x from the lower block, y from the higher — each
    // unordered pair lands in exactly one key), so the hottest key
    // holds ~size²/B² pairs and skew flattens without changing a
    // single emitted pair. Rows fan out ≤ B times on the shuffle wire
    // — 64-int8 vectors make that cheap; results are join-strategy-
    // invariant so the oracle is untouched.
    val withNrm = asn.withColumn("nrm", idot(col("q"), col("q")))
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
    val a = withNrm.select(col("vec_id").as("a_id"), col("cluster").as("a_cl"),
      col("blk").as("ab"), col("q").as("aq"), col("nrm").as("anrm"))
    val b = withNrm.select(col("vec_id").as("b_id"), col("cluster").as("b_cl"),
      col("blk").as("bb"), col("q").as("bq"), col("nrm").as("bnrm"))
    val cosq = (idot(col("aq"), col("bq")).cast("double") /
      sqrt(col("anrm").cast("double") * col("bnrm").cast("double"))).as("cosq")
    val allBlocks = sequence(lit(0), lit(blocks - 1))
    val same = a.join(b, col("a_cl") === col("b_cl") && col("ab") === col("bb"))
      .where(col("a_id") < col("b_id"))
      .select(col("b_id").as("vec_id"), cosq)
    val aX = a.withColumn("tb", explode(filter(allBlocks, t => t > col("ab"))))
    val bX = b.withColumn("sb", explode(filter(allBlocks, t => t < col("bb"))))
    val cross = aX.join(bX, col("a_cl") === col("b_cl") &&
        col("ab") === col("sb") && col("tb") === col("bb"))
      .select(greatest(col("a_id"), col("b_id")).as("vec_id"), cosq)
    val dropped = same.unionAll(cross)
      .where(col("cosq") > threshold)
      .select(col("vec_id")).distinct()
    withNrm.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }
}
