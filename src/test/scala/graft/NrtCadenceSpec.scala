package graft

import graft.operators.{JitPartitions, NrtCadence, SqlBatchView}

/** The NRT materialization cadence, replayed with an injected clock:
  * fine ticks materialize each just-closed slice, coarse ticks compact
  * the fine fragments — and at every stage the lake answers exactly
  * like the direct (unmaterialized) view. Mirrors the reference
  * maintenance daemon's EverySecond/EveryMinute task semantics with
  * hour/day tiers standing in for second/minute (the testdata spans
  * days; the slice arithmetic is tier-agnostic).
  */
class NrtCadenceSpec extends SparkSpec with TmpDirSupport {

  private val v = SqlBatchView.logStats
  private val fine = 6L * 3600000L   // 6h tier
  private val coarse = 24L * 3600000L // 1d tier

  private def bounds: (Long, Long) = {
    val r = Graft.query(spark, sfDir,
      "SELECT min(time_ms), max(time_ms) FROM log_entries").head()
    (r.getLong(0), r.getLong(1) + 1)
  }

  private def direct: Seq[String] =
    canon(new Lakehouse(spark, sfDir).logStats)

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("time_bin_ms", "process_id", "level", "target")
      .collect().map(_.toString).toSeq

  /** Begins of the store's partitions, sorted. */
  private def sliceDirs(dir: String): Seq[Long] =
    JitPartitions.listParts(spark, dir).map(_.beginInsertMs).sorted

  test("tick slices are the closed [trunc-2d, trunc-d) window on the cadence grid") {
    assert(NrtCadence.tickSlice(10500, 1000) === ((8000L, 9000L)))
    assert(NrtCadence.tickSlice(10000, 1000) === ((8000L, 9000L)))
    assert(NrtCadence.tickTimes(999, 4001, 1000) === Seq(1000L, 2000L, 3000L, 4000L))
    // negative starts round UP to the grid, not toward zero
    assert(NrtCadence.tickTimes(-1500, 1000, 1000) === Seq(-1000L, 0L))
    // a start within Δ of Long.MaxValue: the grid point above it is
    // 9e18, at or past toMs, so nothing fires; and a grid point past
    // Long.MaxValue ends the grid instead of wrapping
    assert(NrtCadence.tickTimes(7000000000000000000L, 9000000000000000000L,
      3000000000000000000L) === Seq.empty)
    assert(NrtCadence.tickTimes(7000000000000000000L, Long.MaxValue,
      3000000000000000000L) === Seq(9000000000000000000L))
    assert(NrtCadence.tickTimes(Long.MaxValue - 500, Long.MaxValue, 1000) === Seq.empty)
    // consecutive firings materialize CONTIGUOUS slices — no gap, no overlap
    val ends = NrtCadence.tickTimes(0, 10000, 1000).map(NrtCadence.tickSlice(_, 1000))
    ends.sliding(2).foreach { case Seq((_, e1), (b2, _)) => assert(e1 === b2) }
  }

  test("cadence replay == direct view; compaction shrinks the lake and changes nothing") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val dir = tmpDir("nrt") + "/v"

    // fine tier only: every 6h tick the daemon would have fired across
    // the data's span (+2 tiers so the last slice closes)
    var written = 0L
    NrtCadence.tickTimes(lo, hi + 2 * fine + 1, fine).foreach { t =>
      val w = NrtCadence.tick(spark, v, dir, t, fine)
      if (w > 0) written += w
    }
    assert(written > 0)
    val fineSlices = sliceDirs(dir)
    assert(fineSlices.size > 2, s"expected several fine slices, got $fineSlices")
    assert(canon(SqlBatchView.query(spark, v, dir)) === direct)

    // re-fired ticks are freshness no-ops (the daemon double-firing a
    // slice must not rewrite closed partitions)
    NrtCadence.tickTimes(lo, hi + 2 * fine + 1, fine).foreach { t =>
      assert(NrtCadence.tick(spark, v, dir, t, fine) === -1L)
    }

    // coarse tier: compact each closed day; fewer partitions, same rows
    NrtCadence.tickTimes(lo, hi + 2 * coarse + 1, coarse).foreach { t =>
      NrtCadence.compact(spark, v, dir, t, coarse)
    }
    val coarseSlices = sliceDirs(dir)
    assert(coarseSlices.size < fineSlices.size,
      s"compaction did not shrink: ${fineSlices.size} -> ${coarseSlices.size}")
    assert(canon(SqlBatchView.query(spark, v, dir)) === direct)
  }

  test("catchUp replays a downtime window deterministically and idempotently") {
    Graft.registerViews(spark, sfDir)
    val (lo, hi) = bounds
    val dir = tmpDir("nrt-catchup") + "/v"
    val to = hi + 2 * coarse + 1

    val first = NrtCadence.catchUp(spark, v, dir, lo, to, fine, coarse)
    assert(first.ticksRun > 0)
    assert(first.compactions > 0)
    assert(canon(SqlBatchView.query(spark, v, dir)) === direct)
    val slices = sliceDirs(dir)

    // full-range replay (daemon restarted with a stale cursor):
    // outcome-idempotent — same partitions, same answer
    val again = NrtCadence.catchUp(spark, v, dir, lo, to, fine, coarse)
    assert(again.ticksSkipped > 0)
    assert(sliceDirs(dir) === slices)
    assert(canon(SqlBatchView.query(spark, v, dir)) === direct)
  }

  test("catchUp after a compaction cut between its write and its retire: one partition per window") {
    Graft.registerViews(spark, sfDir)
    val (lo, _) = bounds
    // three coarse windows of the data's start, 12h fine tier
    val fine12 = 12L * 3600000L
    val to = lo + 3 * coarse
    val dir = tmpDir("nrt-cut") + "/v"
    NrtCadence.tickTimes(lo, to, fine12).foreach(NrtCadence.tick(spark, v, dir, _, fine12))
    val fineParts = JitPartitions.listParts(spark, dir)
    // the compactions' writes, without their retires: compact into a
    // second lake, then copy its coarse partitions beside the fine ones
    val side = tmpDir("nrt-cut-side") + "/v"
    val windows = NrtCadence.tickTimes(lo, to, coarse).map { t =>
      NrtCadence.compact(spark, v, side, t, coarse)
      NrtCadence.tickSlice(t, coarse)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    JitPartitions.listParts(spark, side).foreach { p =>
      val src = new org.apache.hadoop.fs.Path(p.path)
      val fs = src.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(dir, src.getName), false, conf)
    }
    val before = JitPartitions.listParts(spark, dir)
    assert(before.size === fineParts.size + windows.size)

    NrtCadence.catchUp(spark, v, dir, lo, to, fine12, coarse)
    val parts = JitPartitions.listParts(spark, dir).map(p => (p.beginInsertMs, p.endInsertMs))
    windows.foreach { case (b, e) =>
      assert(parts.filter { case (pb, pe) => pb <= e - 1 && b <= pe } === Seq((b, e - 1)),
        s"window [$b, $e) is not one partition: $parts")
    }
    // the served answer is the direct view over the span the lake covers
    val (covLo, covHi) = (parts.map(_._1).min, parts.map(_._2).max + 1)
    val directSpan = canon(new Lakehouse(spark, sfDir).logStats
      .where(s"time_bin_ms >= $covLo AND time_bin_ms < $covHi"))
    assert(directSpan.nonEmpty)
    assert(canon(SqlBatchView.query(spark, v, dir)) === directSpan)
  }
}
