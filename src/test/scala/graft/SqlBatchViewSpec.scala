package graft

import graft.operators.SqlBatchView
import org.apache.spark.sql.functions._

/** The generic SQL-defined batch view: a user supplies only a
  * (count, transform, merge) SQL triple; the engine owns slicing,
  * staleness, and query-time merge. The headline property: incremental
  * slice-by-slice materialization answers queries bitwise-identically
  * to a single full-range materialization.
  */
class SqlBatchViewSpec extends SparkSpec with TmpDirSupport {

  // log_stats re-derived as a PURE SQL instance of the generic
  // mechanism (the reference builds its log_stats_view exactly this
  // way on top of sql_batch_view): transform = per-minute counts of
  // one slice, merge = re-sum — mirroring partial agg + final merge.
  // The Def itself is canonical in SqlBatchView (shared with the
  // oracle-checked m_sql_view_merge query).
  private val logStatsView = SqlBatchView.logStats

  private def bounds: (Long, Long) = {
    val r = Graft.query(spark, sfDir,
      "SELECT min(time_ms), max(time_ms) FROM log_entries").head()
    (r.getLong(0), r.getLong(1) + 1)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("time_bin_ms", "process_id", "level", "target")
      .collect().map(_.toString).toSeq

  test("incremental slices == one full slice, bitwise, for a user-supplied SQL pair") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val mid1 = lo + (hi - lo) / 3
    val mid2 = lo + 2 * (hi - lo) / 3

    val incDir = tmpDir("sqlbatch-inc") + "/v"
    Seq((lo, mid1), (mid1, mid2), (mid2, hi)).foreach { case (b, e) =>
      assert(SqlBatchView.updateSlice(spark, logStatsView, incDir, b, e) >= 0)
    }
    val fullDir = tmpDir("sqlbatch-full") + "/v"
    assert(SqlBatchView.updateSlice(spark, logStatsView, fullDir, lo, hi) > 0)

    val inc = sortedRows(SqlBatchView.query(spark, logStatsView, incDir))
    val full = sortedRows(SqlBatchView.query(spark, logStatsView, fullDir))
    assert(inc === full)

    // and both equal the direct (non-materialized) computation
    val direct = sortedRows(new Lakehouse(spark, sfDir).logStats)
    assert(inc === direct)
  }

  test("queryAcrossSlices answers without a lake: lazy per-slice transform + merge == direct") {
    // the QueryMerger read path — no files written at all
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val cut = lo + 90017 // mid-minute: bins straddle slices, re-sum load-bearing
    val out = SqlBatchView.queryAcrossSlices(spark, logStatsView,
      Seq((lo, cut), (cut, hi)))
    assert(sortedRows(out) === sortedRows(new Lakehouse(spark, sfDir).logStats))
  }

  test("minute slices crossing the merge boundary still merge exactly") {
    // slice at a NON-minute-aligned cut: the same time_bin lands in two
    // partitions, so the merge's re-sum is load-bearing, not a no-op
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val cut = lo + 90017 // mid-minute
    val dir = tmpDir("sqlbatch-cross") + "/v"
    SqlBatchView.updateSlice(spark, logStatsView, dir, lo, cut)
    SqlBatchView.updateSlice(spark, logStatsView, dir, cut, hi)
    val merged = sortedRows(SqlBatchView.query(spark, logStatsView, dir))
    val direct = sortedRows(new Lakehouse(spark, sfDir).logStats)
    assert(merged === direct)
  }

  test("otel_spans materialized via SqlBatchView == live derivation, bitwise") {
    // closes the m_otel_spans loop: the live view replays span
    // assembly per consumer (an unmaterialized-view artifact); the
    // production path materializes it once per slice and serves from
    // parquet. This pins that the served rows are EXACTLY the live
    // derivation — every column, including null parent ids and
    // attributes — under a 3-way slicing on non-aligned cuts (each
    // span lands in one slice by start time, so any slicing works).
    Graft.registerViews(spark, sfDir)
    val live = new Lakehouse(spark, sfDir).otelSpans
    val r = live.agg(min("start_time_ns"), max("start_time_ns")).head()
    val (lo, hi) = (r.getLong(0) / 1000000L, r.getLong(1) / 1000000L + 1)
    val cut1 = lo + (hi - lo) / 3 + 7
    val cut2 = lo + 2 * (hi - lo) / 3 + 13
    val dir = tmpDir("sqlbatch-otel") + "/v"
    Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (b, e) =>
      assert(SqlBatchView.updateSlice(spark, SqlBatchView.otelSpans, dir, b, e) >= 0)
    }
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("process_id", "span_id").collect().map(_.toString).toSeq
    val served = canon(SqlBatchView.query(spark, SqlBatchView.otelSpans, dir))
    val direct = canon(live)
    assert(served.size === direct.size)
    assert(served === direct)
  }

  test("otel_spans batch view refreshes when a span's END event arrives late") {
    // a span starting in the slice only assembles once its end event
    // exists — and that end event's ts lies beyond the slice, where a
    // window-bounded probe would never see it. The lateness-horizon
    // probe must: (1) report the slice stale after the ends arrive,
    // (2) rewrite it to the full derivation on the next tick.
    val lakeDir = tmpDir("otel-late")
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.all.filterNot(_ == "events").foreach { t =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet"), fs,
        new org.apache.hadoop.fs.Path(s"$lakeDir/$t.parquet"), false,
        spark.sparkContext.hadoopConfiguration)
    }
    def writeEvents(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$lakeDir/events.parquet")
    val full = spark.read.parquet(s"$sfDir/events.parquet")
    // cut through the MIDDLE of the longest span of the full
    // derivation: its begin event survives the truncation, its end
    // event does not — so that span provably cannot assemble until
    // the tail arrives
    Graft.registerViews(spark, sfDir)
    val victim = new Lakehouse(spark, sfDir).otelSpans
      .orderBy(col("duration_ns").desc, col("span_id")).head()
    val victimId = victim.getString(victim.fieldIndex("span_id"))
    val cutNs = (victim.getLong(victim.fieldIndex("start_time_ns"))
      + victim.getLong(victim.fieldIndex("end_time_ns"))) / 2 // ns
    // raw ts is physical-type dependent (ns-as-Long vs µs timestamp);
    // compare in epoch µs either way, writing rows back unchanged
    val tsUs = full.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    writeEvents(full.where(tsUs < cutNs / 1000L)) // late tail missing

    Graft.registerViews(spark, lakeDir)
    // slice bounds from the FULL event range so every span — including
    // the late-assembled tail ones — lands inside the one slice
    val fr = full.select(min(tsUs).as("a"), max(tsUs).as("b"))
      .selectExpr("a div 1000", "b div 1000").head()
    val (lo, hi) = (fr.getLong(0), fr.getLong(1) + 1)
    val dir = tmpDir("otel-late-lake") + "/v"
    assert(SqlBatchView.updateSlice(spark, SqlBatchView.otelSpans, dir, lo, hi) > 0)
    assert(SqlBatchView.isUpToDate(spark, SqlBatchView.otelSpans, dir, lo, hi))
    // the victim span must be OPEN in the materialized partial lake —
    // otherwise the truncation proved nothing
    assert(SqlBatchView.query(spark, SqlBatchView.otelSpans, dir)
      .where(col("span_id") === victimId).count() === 0L,
      "victim span assembled despite its end event being truncated away")

    // the tail arrives (ends of spans that already started)
    writeEvents(full)
    Graft.registerViews(spark, lakeDir) // re-register over the grown source
    assert(!SqlBatchView.isUpToDate(spark, SqlBatchView.otelSpans, dir, lo, hi),
      "lateness probe missed the newly-arrived end events")
    assert(SqlBatchView.updateSlice(spark, SqlBatchView.otelSpans, dir, lo, hi) > 0)

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.where(col("start_time_ns") >= lo * 1000000L && col("start_time_ns") < hi * 1000000L)
        .orderBy("process_id", "span_id").collect().map(_.toString).toSeq
    val live = canon(new Lakehouse(spark, lakeDir).otelSpans)
    val served = canon(SqlBatchView.query(spark, SqlBatchView.otelSpans, dir))
    assert(served === live)
    assert(served.exists(_.contains(victimId)),
      s"victim span $victimId missing after refresh")
    // leave the shared session's views pointing back at the main lake
    Graft.registerViews(spark, sfDir)
  }

  test("staleness probe skips fresh slices and refreshes grown ones") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val dir = tmpDir("sqlbatch-stale") + "/v"
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, hi) > 0)
    assert(SqlBatchView.isUpToDate(spark, logStatsView, dir, lo, hi))
    // unchanged source: the second update is a skip (no transform run)
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, hi) === -1L)
    // a DIFFERENT slice bound is a different partition: not up to date
    assert(!SqlBatchView.isUpToDate(spark, logStatsView, dir, lo, hi - 1))
    // force-regeneration rewrites and still answers identically
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, hi, force = true) > 0)
    val direct = sortedRows(new Lakehouse(spark, sfDir).logStats)
    assert(sortedRows(SqlBatchView.query(spark, logStatsView, dir)) === direct)
  }

  test("a slice whose source emptied is dropped, not served stale forever") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val mid = (lo + hi) / 2
    val dir = tmpDir("sqlbatch-empty") + "/v"
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, mid) > 0)
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, mid, hi) > 0)
    // the first slice's source window empties (upstream retention):
    // simulate with a view whose transform yields nothing
    val emptyView = logStatsView.copy(
      countSrcSql = "SELECT CAST(0 AS BIGINT) AS n",
      transformSql = logStatsView.transformSql
        .replace("WHERE time_ms >= {begin}", "WHERE 1 = 0 AND time_ms >= {begin}"))
    assert(SqlBatchView.updateSlice(spark, emptyView, dir, lo, mid, force = true) === 0L)
    // the old materialization must NOT survive behind a fresh probe
    assert(SqlBatchView.isUpToDate(spark, emptyView, dir, lo, mid))
    // only the second slice's rows answer — the emptied slice is gone
    val served = SqlBatchView.query(spark, logStatsView, dir)
    val secondOnly = sortedRows(Graft.query(spark, sfDir,
      s"""SELECT time_ms - time_ms % 60000 AS time_bin_ms, process_id, level, target,
            CAST(count(*) AS BIGINT) AS count
          FROM log_entries WHERE time_ms >= $mid AND time_ms < $hi
          GROUP BY 1, 2, 3, 4"""))
    assert(sortedRows(served) === secondOnly,
      "emptied slice kept serving its pre-shrink rows")
  }

  test("a second user view from SQL alone: export_log shape") {
    // the export_log view re-derived through the generic mechanism —
    // transform is a plain extraction, merge is identity-with-dedup
    Graft.registerViews(spark, sfDir)
    val exportView = SqlBatchView.Def(
      name = "export_log_sql",
      countSrcSql = "SELECT count(*) AS n FROM log_entries WHERE time_ms >= {begin} AND time_ms < {end}",
      transformSql = """
        SELECT time_ms, event_id, level, msg FROM log_entries
        WHERE time_ms >= {begin} AND time_ms < {end}""",
      mergeSql = "SELECT time_ms, event_id, level, msg FROM {source}")
    val (lo, hi) = bounds
    val mid = (lo + hi) / 2
    val dir = tmpDir("sqlbatch-export") + "/v"
    SqlBatchView.updateSlice(spark, exportView, dir, lo, mid)
    SqlBatchView.updateSlice(spark, exportView, dir, mid, hi)
    val out = SqlBatchView.query(spark, exportView, dir)
    val direct = Graft.query(spark, sfDir, "SELECT time_ms, event_id, level, msg FROM log_entries")
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("a slice overlapping a partition with a different begin replaces it") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val mid = lo + (hi - lo) / 3
    val dir = tmpDir("sqlbatch-overlap") + "/v"
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, mid, hi) > 0)
    // re-cut from an earlier begin: the new range covers the old one,
    // so the old partition must go, not be served a second time
    assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, hi) > 0)
    assert(sortedRows(SqlBatchView.query(spark, logStatsView, dir)) ===
      sortedRows(new Lakehouse(spark, sfDir).logStats))
  }

  test("log_stats bins a pre-epoch event into the same minute as Lakehouse.logStats") {
    // 90 s before the epoch: truncating toward zero would bin it at
    // -60000, the floor (Lakehouse's pmod) at -120000
    val lakeDir = tmpDir("sqlbatch-pre-epoch")
    val events = Tables.df(spark, sfDir, "events")
    val early = events.limit(1).withColumn("event_type", lit("error"))
      .withColumn("ts", timestamp_millis(lit(-90000L)))
    events.unionByName(early).write.parquet(s"$lakeDir/events.parquet")
    // the view's only source, log_entries, read from the temp lake
    new Lakehouse(spark, lakeDir).logEntries.createOrReplaceTempView("log_entries")
    try {
      val r = spark.sql("SELECT min(time_ms), max(time_ms) FROM log_entries").head()
      val (lo, hi) = (r.getLong(0), r.getLong(1) + 1)
      assert(lo === -90000L)
      val dir = tmpDir("sqlbatch-pre-epoch-lake") + "/v"
      assert(SqlBatchView.updateSlice(spark, logStatsView, dir, lo, hi) > 0)
      val want = sortedRows(new Lakehouse(spark, lakeDir).logStats)
      assert(want.head.startsWith("[-120000,"))
      assert(sortedRows(SqlBatchView.query(spark, logStatsView, dir)) === want)
    } finally new Lakehouse(spark, sfDir).logEntries.createOrReplaceTempView("log_entries")
  }
}
