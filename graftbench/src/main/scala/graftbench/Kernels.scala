package graftbench

import org.apache.spark.sql.DataFrame

/** The kernel table: each graft function timed through its public SQL
  * name on cached sf0.01 corpus columns, minus the same projection
  * without the kernel. Inputs are replicated so one timing covers tens
  * of thousands of rows.
  */
object Kernels {
  /** name -> (input view, kernel projection, the same projection
    * without the kernel, SQL of the input bytes per row)
    */
  private val kernels: Seq[(String, String, String, String, String)] = Seq(
    ("graft_tokens", "ktext", "graft_tokens(text)", "text", "octet_length(text)"),
    ("graft_chunks", "ktext", "graft_chunks(text, 16)", "text", "octet_length(text)"),
    ("graft_bpe_merge", "ktext", "graft_bpe_merge(tokens, 'hash', 'join')", "tokens",
      "aggregate(tokens, 0L, (a, t) -> a + octet_length(t))"),
    ("graft_shingles", "ktext", "graft_shingles(text, 3)", "text", "octet_length(text)"),
    ("graft_minhash", "ktext", "graft_minhash(shingles, 64)", "shingles",
      "aggregate(shingles, 0L, (a, t) -> a + octet_length(t))"),
    ("graft_hash56", "ktext", "graft_hash56(shingles)", "shingles",
      "aggregate(shingles, 0L, (a, t) -> a + octet_length(t))"),
    ("graft_pq_encode", "kpq", "graft_pq_encode(qv, cbflat, 4, 16, 16)", "qv, cbflat", "8 * size(qv)"),
    ("graft_textstats", "ktext", "graft_textstats(text)", "text", "octet_length(text)"),
    ("graft_normalize", "ktext", "graft_normalize(text)", "text", "octet_length(text)"),
    ("graft_dot", "kvec", "graft_dot(emb, emb2)", "emb, emb2", "8 * size(emb)"),
    ("graft_property_get", "kprops", "graft_property_get(props, 'k')", "props", "octet_length(props)"))

  val Names: Seq[String] = kernels.map(_._1)
  private val Reps = 3

  def table(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val lake = Lakes.sf001(ctx.lakeRoot)
    def cached(name: String, df: DataFrame): Long = {
      val c = df.cache()
      c.createOrReplaceTempView(name)
      c.count()
    }
    val rep = spark.range(10).toDF("r")
    val docs = graft.Tables.df(spark, lake, "documents").crossJoin(rep)
    cached("ktext", docs.selectExpr("text", "graft_tokens(text) AS tokens", "graft_shingles(text, 3) AS shingles"))
    val dims = 64
    val vecs = graft.Tables.df(spark, lake, "embeddings").crossJoin(rep)
      .selectExpr("embedding AS emb", "reverse(embedding) AS emb2",
        "transform(embedding, x -> CAST(round(x * 127) AS BIGINT)) AS qv")
    cached("kvec", vecs)
    // one 16-centroid codebook per 16-dim subspace, joined to every row
    cached("kcb", spark.range(1).selectExpr(
      s"transform(sequence(0, ${16 * dims - 1}), i -> CAST((i * 37) % 255 - 127 AS BIGINT)) AS cbflat"))
    spark.sql("SELECT qv, cbflat FROM kvec CROSS JOIN kcb").createOrReplaceTempView("kpq")
    cached("kprops", graft.Tables.df(spark, lake, "events").crossJoin(spark.range(10)).select("props"))
    try kernels.flatMap { case (name, view, kernel, base, bytesSql) =>
      val rows = spark.table(view).count().toDouble
      val bytes = spark.sql(s"SELECT sum($bytesSql) FROM $view").head().getLong(0).toDouble
      def time(sel: String): Double = {
        val t0 = System.nanoTime()
        Sinks.noop(spark.sql(s"SELECT $sel FROM $view"))
        (System.nanoTime() - t0).toDouble
      }
      // alternate kernel and baseline so drift hits both alike
      val pairs = (1 to Reps).map(_ => (time(kernel), time(base)))
      val ns = math.max(0.0, Stats.median(pairs.map(_._1)) - Stats.median(pairs.map(_._2)))
      Seq(s"kernel.$name.ns_per_row" -> ns / rows,
        s"kernel.$name.mb_per_s" -> (if (ns > 0) bytes / 1048576.0 / (ns / 1e9) else 0.0))
    }.toMap
    finally Seq("ktext", "kvec", "kcb", "kprops", "kpq").foreach { v =>
      spark.table(v).unpersist()
      spark.catalog.dropTempView(v)
    }
  }
}
