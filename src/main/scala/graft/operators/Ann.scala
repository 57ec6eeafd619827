package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Dot products are left-to-right folds over the arrays so the FP
  * result is reproducible bit-for-bit against the sequential-loop
  * oracle. Brute force is the exactness baseline; the scale path
  * buckets vectors by random-hyperplane LSH signs so each query only
  * probes its bucket (shuffle on small signatures, not vectors).
  */
object Ann {


  /** Codegen'd dot product (graft.functions.DotProduct), resolved by
    * name from the session's GraftExtensions. Same left-to-right
    * summation as the HOF fold.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small (it is broadcast); the corpus streams partition-local, and
    * only the per-partition top-k survives to the final window.
    *
    * Norms and double-casts are computed once per row before the join —
    * the per-pair work is a single dot product, which matters when the
    * pair count is corpus × queries.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = prepVecs(corpus).as("c")
      .crossJoin(broadcast(prepVecs(queries).as("q")))
      .where(col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        (dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** LSH bucket signature: sign bits against `nPlanes` pseudo-random
    * hyperplanes derived deterministically from md5 — reproducible, no
    * stored model. Scale path: group by signature, probe within bucket.
    */
  def lshSignature(vec: Column, dim: Int, nPlanes: Int): Column = {
    val planes = (0 until nPlanes).map { p =>
      // deterministic pseudo-random plane: component j in [-0.5, 0.5)
      val comps = (0 until dim).map { j =>
        lit((java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"plane-$p-$j").substring(0, 15), 16)
          .toDouble / math.pow(16, 15)) - 0.5)
      }
      // codegen'd dot (graft_dot) instead of the interpreted zip-fold;
      // identical left-to-right double summation, so the sign bits —
      // and every oracle-checked signature — are unchanged
      val d = call_function("graft_dot",
        vec.cast("array<double>"), array(comps: _*))
      when(d >= 0, lit(1)).otherwise(lit(0))
    }
    concat_ws("", planes: _*)
  }

  /** Per-row prep: keep the embedding in its stored type (graft_dot
    * reads float arrays natively with bit-identical widening — no cast
    * copy per row) and precompute the norm once.
    */
  private def prepVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("e"), norm(col("embedding")).as("nrm"))

  /** Lloyd's k-means refinement of coarse IVF centroids, the offline
    * training step of a real IVF index. Spark-shaped like MLlib KMeans:
    * centroids are the (tiny) model — broadcast for assignment, updated
    * as element-wise means via posexplode + partial-agg groupBy (never
    * shuffling vectors by more than (cent_id, dim, value) rows), and
    * only the k centroid rows themselves ever reach the driver.
    * Assignment uses cosine (matching the probe metric); empty clusters
    * keep their previous centroid. Deterministic: seeded by the
    * vec_id-sample initialization, no RNG.
    */
  def kmeansRefine(corpus: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    var cents = prepVecs(corpus.where(col("vec_id") < nCentroids))
      .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("nrm").as("cnrm"))
      .localCheckpoint()
    val vecs = prepVecs(corpus).localCheckpoint()
    for (_ <- 0 until iters) {
      val scored = vecs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("e"), col("cent_id"),
          (dot(col("e"), col("ce")) / (col("nrm") * col("cnrm"))).as("csim"))
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
      val assigned = scored.withColumn("crk", row_number().over(w)).where(col("crk") === 1)
      val means = assigned
        .select(col("cent_id"), posexplode(col("e")).as(Seq("dim", "v")))
        .groupBy("cent_id", "dim").agg(avg("v").as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cent_id"), transform(col("dm"), _.getField("m")).as("ce"))
        .withColumn("cnrm", sqrt(aggregate(col("ce"), lit(0.0), (a, x) => a + x * x)))
      // left-join so clusters that lost all members keep their centroid
      cents = cents.as("old").join(means.as("new"), Seq("cent_id"), "left_outer")
        .select(col("cent_id"),
          coalesce(col("new.ce"), col("old.ce")).as("ce"),
          coalesce(col("new.cnrm"), col("old.cnrm")).as("cnrm"))
        .localCheckpoint()
    }
    cents
  }

  /** Mean best-centroid cosine over the corpus — the (higher-is-better)
    * quality measure kmeansRefine improves.
    */
  def ivfDistortion(corpus: DataFrame, cents: DataFrame): Double = {
    val best = prepVecs(corpus).crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (dot(col("e"), col("ce")) / (col("nrm") * col("cnrm"))).as("csim"))
      .groupBy("vec_id").agg(max("csim").as("best"))
    best.agg(avg("best")).head().getDouble(0)
  }

  /** IVF-flat ANN probe against an explicit centroid table
    * ((cent_id, ce, cnrm) — e.g. from [[kmeansRefine]]): corpus vectors
    * are assigned to their nearest centroid; each query probes only its
    * `nProbe` nearest centroids' inverted lists. Vectors shuffle once
    * (on centroid id), queries and centroids broadcast.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    def nearestCents(df: DataFrame, n: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"),
          (dot(col("e"), col("ce")) / (col("nrm") * col("cnrm"))).as("csim"))
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
      scored.withColumn("crk", row_number().over(w)).where(col("crk") <= n)
        .drop("csim", "crk")
    }
    val assigned = nearestCents(prepVecs(corpus), 1)
      .select(col("cent_id"), col("vec_id").as("c_id"), col("e").as("c_e"), col("nrm").as("c_nrm"))
    val probes = nearestCents(prepVecs(queries), nProbe)
    val joined = assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("c_id"))
      .select(col("vec_id").as("query_id"), col("c_id").as("neighbor_id"),
        (dot(col("e"), col("c_e")) / (col("nrm") * col("c_nrm"))).as("cos"))
    joined.groupBy("query_id", "neighbor_id").agg(max("cos").as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
  }

  /** Recall-sweep over several probe depths from ONE index build: the
    * corpus is assigned to its nearest centroid once (that assignment
    * IS the inverted-list build — at scale it's materialized, not
    * recomputed per operating point), queries are probed once at
    * max(probes), and every smaller depth is evaluated from the same
    * candidate set — a list probed at rank r is probed by every
    * nprobe ≥ r. Each candidate's cosine is computed once, shared by
    * all depths. Returns (nprobe, query_id, neighbor_id, cos, rk ≤ k).
    */
  def ivfTopKSweep(corpus: DataFrame, queries: DataFrame, nCentroids: Int,
      probes: Seq[Int], k: Int): DataFrame = {
    val cents = prepVecs(corpus.where(col("vec_id") < nCentroids))
      .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    def nearestCents(df: DataFrame, n: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"),
          (dot(col("e"), col("ce")) / (col("nrm") * col("cnrm"))).as("csim"))
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
      scored.withColumn("crk", row_number().over(w)).where(col("crk") <= n)
        .drop("csim")
    }
    val assigned = nearestCents(prepVecs(corpus), 1)
      .select(col("cent_id"), col("vec_id").as("c_id"), col("e").as("c_e"), col("nrm").as("c_nrm"))
    val probed = nearestCents(prepVecs(queries), probes.max) // keeps crk
    val grid = corpus.sparkSession
      .createDataFrame(probes.map(p => Tuple1(p.toLong))).toDF("nprobe")
    val cand = assigned.join(broadcast(probed), Seq("cent_id"))
      .where(col("vec_id") =!= col("c_id"))
      .select(col("vec_id").as("query_id"), col("crk"),
        col("c_id").as("neighbor_id"),
        (dot(col("e"), col("c_e")) / (col("nrm") * col("c_nrm"))).as("cos"))
    cand.crossJoin(broadcast(grid)).where(col("crk") <= col("nprobe"))
      .groupBy("nprobe", "query_id", "neighbor_id").agg(max("cos").as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("nprobe", "query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
  }

  /** IVF-flat ANN with deterministic sample centroids (vec_id <
    * nCentroids) — the oracle-checkable configuration; see
    * [[ivfTopKWith]] / [[kmeansRefine]] for the trained-centroid path.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    val cents = prepVecs(corpus.where(col("vec_id") < nCentroids))
      .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    ivfTopKWith(corpus, queries, cents, nProbe, k)
  }

  /** Bucketed ANN: candidates share the query's signature bucket.
    * Norms/casts are per-row, before the join — only the dot product is
    * per-pair (same prep as bruteForceTopK).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, nPlanes: Int, k: Int): DataFrame = {
    val sig = (df: DataFrame) =>
      prepVecs(df).withColumn("sig",
        lshSignature(col("e"), dim, nPlanes))
    val c = sig(corpus).as("c")
    val q = sig(queries).as("q")
    val joined = c.join(broadcast(q), col("c.sig") === col("q.sig"))
      .where(col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }
}
