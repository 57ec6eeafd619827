package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-defined incrementally-materialized SQL views — the Spark analog
  * of the reference's generic SQL batch view (rust/analytics/src/
  * lakehouse/sql_batch_view.rs + merge.rs `QueryMerger`): a view is
  * defined by SQL alone, as a (count, transform, merge) triple, and the
  * engine owns slicing, staleness detection, and query-time merging.
  *
  *  - `transformSql` extracts one time slice of source rows into
  *    partition rows; `{begin}`/`{end}` are epoch-ms placeholders the
  *    SQL uses to scope its scan (the filter pushes into parquet).
  *  - `mergeSql` re-aggregates partition rows into view rows at query
  *    time, with `{source}` standing for the scanned partitions — the
  *    reference runs the same query both to merge small partitions and
  *    to answer user queries spanning several partitions.
  *  - `countSrcSql` (count_src_query analog) is the cheap staleness
  *    probe: its scalar result is recorded per slice at write time and
  *    compared on the next update, so unchanged closed slices are
  *    skipped without reading their data.
  *
  * Slices live in [[JitPartitions]]' insert-range store: the slice
  * `[b, e)` is the partition `insert=b-(e-1)-0`, and its
  * `_graft_part_meta` records the source count next to the schema hash
  * of the transform's analyzed output ([[Materialize.schemaHash]]:
  * analysis only, no Spark job). A slice is up to date under
  * [[JitPartitions.isPartUpToDate]]'s exact-range rule. Writing a slice
  * replaces its partition and then retires every other partition its
  * range overlaps — the reference's write_partition.rs `RetireMatch`
  * — so a re-cut or a wider (compacting) slice supersedes what it
  * covers; write before retire means a crash in between serves
  * duplicates, never a gap. Each slice's work is O(slice source rows);
  * query-time merge shuffles only partition rows (the transform output
  * is expected to be pre-aggregated, exactly like the reference's
  * log_stats instance).
  */
object SqlBatchView {

  /** A view defined purely by SQL. `name` keys the temp-view namespace;
    * the SQLs reference any registered view/table.
    */
  final case class Def(
      name: String,
      countSrcSql: String,
      transformSql: String,
      mergeSql: String)

  /** Canonical pure-SQL log_stats instance — the reference's
    * log_stats_view is exactly this triple over sql_batch_view
    * (rust/analytics/src/lakehouse/log_stats_view.rs:34-42). Shared by
    * the ScalaTest materialization suite and the oracle-checked
    * query-time-merge query (`m_sql_view_merge`).
    */
  val logStats: Def = Def(
    name = "log_stats_sql",
    countSrcSql = """SELECT count(*) AS n FROM log_entries
      WHERE time_ms >= {begin} AND time_ms < {end}""",
    transformSql = """
      SELECT time_ms - pmod(time_ms, 60000) AS time_bin_ms, process_id, level, target,
        count(*) AS count
      FROM log_entries
      WHERE time_ms >= {begin} AND time_ms < {end}
      GROUP BY 1, 2, 3, 4""",
    mergeSql = """
      SELECT time_bin_ms, process_id, level, target,
        CAST(sum(count) AS BIGINT) AS count
      FROM {source} GROUP BY 1, 2, 3, 4""")

  /** otel_spans as a batch view — the production path for the span
    * assembly (the reference's otel views are materialized batch
    * views, never recomputed per query; spans_view.rs builds on the
    * same partition machinery as log_stats_view.rs). The transform is
    * the full live derivation scoped to spans STARTING in the slice —
    * each span lands in exactly one slice, so the merge is a plain
    * pass-through and incremental materialization is bitwise equal to
    * the live view under ANY slicing (SqlBatchViewSpec pins this).
    * Serving then costs one parquet scan instead of the 3-replay /
    * 8-scan unmaterialized derivation.
    *
    * Staleness probe: a span STARTING in the slice only assembles
    * once its END event exists, and that end event's timestamp lies
    * beyond the slice — so the probe counts raw source events in
    * [begin, end + LATENESS), a declared 24h max-span-duration
    * horizon. An end event landing inside the horizon refreshes the
    * slice; a span open longer than the horizon is outside this
    * view's freshness contract (the reference's block-level
    * bookkeeping is the unbounded-lateness answer; count_src_query
    * is the same count-based approximation). SqlBatchViewSpec's
    * late-arrival case pins the refresh.
    */
  val otelSpansLatenessMs: Long = 24L * 3600000L
  val otelSpans: Def = Def(
    name = "otel_spans_sql",
    countSrcSql = s"""SELECT count(*) AS n FROM events
      WHERE unix_millis(ts) >= {begin} AND unix_millis(ts) < {end} + $otelSpansLatenessMs""",
    transformSql = """
      SELECT * FROM otel_spans
      WHERE start_time_ns >= {begin} * 1000000 AND start_time_ns < {end} * 1000000""",
    mergeSql = "SELECT * FROM {source}")

  private def subst(sql: String, beginMs: Long, endMs: Long): String =
    sql.replace("{begin}", beginMs.toString).replace("{end}", endMs.toString)

  /** The slice's source count (the count SQL, one Spark job) and the
    * transform over it, whose schema hash costs analysis only.
    */
  private def probe(spark: SparkSession, v: Def, beginMs: Long,
      endMs: Long): (Long, DataFrame, String) = {
    val src = spark.sql(subst(v.countSrcSql, beginMs, endMs)).head().getLong(0)
    val slice = spark.sql(subst(v.transformSql, beginMs, endMs))
    (src, slice, Materialize.schemaHash(slice.schema))
  }

  private def fresh(spark: SparkSession, outDir: String, beginMs: Long, endMs: Long,
      hash: String, src: Long): Boolean =
    JitPartitions.isPartUpToDate(spark, outDir, beginMs, endMs - 1,
      JitPartitions.EventTime, hash, src)

  /** The count_src_query probe: is the materialized slice up to date
    * with the source? Runs ONLY the cheap count SQL — the transform is
    * analyzed for its schema hash, never run — mirroring
    * fetch_sql_partition_spec's use of count_src_query in the reference.
    */
  def isUpToDate(spark: SparkSession, v: Def, outDir: String,
      beginMs: Long, endMs: Long): Boolean = {
    val (src, _, hash) = probe(spark, v, beginMs, endMs)
    fresh(spark, outDir, beginMs, endMs, hash, src)
  }

  /** Materialize (or refresh) one [beginMs, endMs) slice. Skips the
    * transform entirely when the recorded source count matches; pass
    * `force = true` to rewrite regardless (regeneration path). A slice
    * with no rows still gets its partition and count record, so it
    * replaces what it covers and then probes fresh. Returns the rows
    * written, or -1 when skipped as fresh.
    */
  def updateSlice(spark: SparkSession, v: Def, outDir: String,
      beginMs: Long, endMs: Long, force: Boolean = false): Long = {
    val (src, slice, hash) = probe(spark, v, beginMs, endMs)
    if (!force && fresh(spark, outDir, beginMs, endMs, hash, src)) return -1L
    val part = JitPartitions.writePart(spark, slice, outDir, beginMs, endMs - 1,
      meta = Some((hash, src)))
    JitPartitions.retireParts(spark, outDir, beginMs, endMs - 1, JitPartitions.Overlap,
      sameRun = Set((beginMs, endMs - 1)))
    LakeFs.footerRows(spark, part.path) // the transform runs once, in the write
  }

  /** Answer the view WITHOUT materializing: run the transform per
    * slice and the merge over the unioned slice outputs — the
    * reference's QueryMerger answering a user query that spans several
    * partitions (rust/analytics/src/lakehouse/merge.rs). Fully lazy:
    * each slice's `{begin}`/`{end}` predicate pushes into its own scan,
    * so on a time-partitioned lake every branch reads only its slice's
    * files, and the merge shuffles pre-aggregated partition rows only.
    */
  def queryAcrossSlices(spark: SparkSession, v: Def, slices: Seq[(Long, Long)]): DataFrame = {
    require(slices.nonEmpty, "at least one slice")
    val union = slices.map { case (b, e) => spark.sql(subst(v.transformSql, b, e)) }
      .reduce(_.union(_))
    val tmp = s"__sqlbatch_${v.name}_slices"
    union.createOrReplaceTempView(tmp)
    spark.sql(v.mergeSql.replace("{source}", tmp))
  }

  /** Query the view: scan the materialized partitions and run the merge
    * SQL over them. The same merge would compact many small slice
    * partitions into one (QueryMerger's other caller).
    */
  def query(spark: SparkSession, v: Def, outDir: String): DataFrame = {
    val tmp = s"__sqlbatch_${v.name}_source"
    spark.read.parquet(outDir).drop("insert").createOrReplaceTempView(tmp)
    spark.sql(v.mergeSql.replace("{source}", tmp))
  }
}
