package graft.operators

import org.apache.spark.sql.SparkSession

/** Near-real-time materialization cadence — the library form of the
  * reference's maintenance daemon (rust/public/src/servers/
  * maintenance.rs: EverySecondTask/EveryMinuteTask/EveryHourTask each
  * materialize the just-CLOSED slice [trunc(t,Δ)−2Δ, trunc(t,Δ)−Δ) of
  * every view at their own cadence; coarser tiers absorb/compact the
  * finer tiers' partitions via the merge query). The daemon's
  * scheduling loop is service plane; what the library owns is the
  * deterministic TICK SEMANTICS, driven here by an injected clock so
  * specs replay a whole cadence history without wall-time. Everything
  * else is [[SqlBatchView]]'s slice write into the insert-range store:
  *
  *  - [[tick]]: one fine-tier firing at scheduled time t — materialize
  *    the closed Δ-slice, freshness-probed (a re-fired tick whose
  *    source didn't change is a metadata no-op, like the reference's
  *    count_src_query skip).
  *  - [[compact]]: one coarse-tier firing — a forced write of the
  *    closed coarse slice, whose overlap retirement removes the fine
  *    partitions it covers (the reference's QueryMerger compaction:
  *    many small partitions become one, queries stop touching the
  *    fragments).
  *  - [[catchUp]]: the deterministic scheduler replay — every fine
  *    tick then every coarse tick scheduled in [fromMs, toMs), in
  *    time order, exactly what a daemon that was down would run on
  *    restart (the reference's minutes-task "fills the missing data"
  *    comment encodes the same catch-up contract).
  *
  * Scale shape: each tick is one slice's transform — O(slice source
  * rows), closed history untouched; compaction reads only its window's
  * source. The lake stays queryable throughout (SqlBatchView.query
  * merges whatever granularity mix currently exists).
  */
object NrtCadence {

  final case class CadenceStats(ticksRun: Long, ticksSkipped: Long,
      compactions: Long, rowsWritten: Long)

  /** Scheduled firing times of a Δ-cadence inside [fromMs, toMs):
    * every multiple of Δ (the reference truncates the task's scheduled
    * time to its Δ before deriving the slice, so firings ARE the
    * Δ-grid).
    */
  def tickTimes(fromMs: Long, toMs: Long, deltaMs: Long): Seq[Long] = {
    // round up with floorMod (negative times round up, not toward
    // zero); a step past Long.MaxValue saturates there, which is never
    // < toMs, so the grid ends instead of wrapping
    def plus(t: Long, d: Long) = if (t > Long.MaxValue - d) Long.MaxValue else t + d
    val first = plus(fromMs, (deltaMs - Math.floorMod(fromMs, deltaMs)) % deltaMs)
    Iterator.iterate(first)(plus(_, deltaMs)).takeWhile(_ < toMs).toSeq
  }

  /** The slice a tick scheduled at `tMs` materializes: the CLOSED
    * [trunc−2Δ, trunc−Δ) window (maintenance.rs EverySecondTask::run —
    * one partition behind, so the slice's source can no longer grow
    * under the writer).
    */
  def tickSlice(tMs: Long, deltaMs: Long): (Long, Long) = {
    val trunc = tMs - Math.floorMod(tMs, deltaMs)
    (trunc - 2 * deltaMs, trunc - deltaMs)
  }

  /** One fine-tier firing. Returns rows written, or -1 when the slice
    * was skipped: fresh under the probe, or already covered by a
    * strictly wider (compacted) partition — rewriting the fine slice
    * there would retire the coarse partition and leave only this
    * fragment of its window.
    */
  def tick(spark: SparkSession, v: SqlBatchView.Def, outDir: String,
      tMs: Long, deltaMs: Long): Long = {
    val (b, e) = tickSlice(tMs, deltaMs)
    val covered = JitPartitions.listParts(spark, outDir).exists { p =>
      p.beginInsertMs <= b && p.endInsertMs >= e - 1 &&
        (p.beginInsertMs, p.endInsertMs) != ((b, e - 1))
    }
    if (covered) -1L
    else SqlBatchView.updateSlice(spark, v, outDir, b, e)
  }

  /** One coarse-tier firing at scheduled time `tMs`: a forced write of
    * the closed coarse slice [trunc−2Δc, trunc−Δc) as ONE partition,
    * which retires every fine partition it overlaps. The write comes
    * before the retire, so a crash between the two serves duplicates to
    * a point-in-time read, never a gap; the fine ticks of a replay skip
    * the window (the coarse partition covers them) and the replayed
    * compaction finishes the retire.
    */
  def compact(spark: SparkSession, v: SqlBatchView.Def, outDir: String,
      tMs: Long, coarseMs: Long): Long = {
    val (b, e) = tickSlice(tMs, coarseMs)
    SqlBatchView.updateSlice(spark, v, outDir, b, e, force = true)
  }

  /** Deterministic scheduler replay over [fromMs, toMs): every fine
    * tick in time order, then every coarse compaction whose slice is
    * fully closed by `toMs`. One call == what the two daemon loops
    * would have run across that span. Tiers must nest
    * (coarse = k·fine): a straddling fine slice would otherwise be
    * retired by a compaction that doesn't cover its tail.
    */
  def catchUp(spark: SparkSession, v: SqlBatchView.Def, outDir: String,
      fromMs: Long, toMs: Long, fineMs: Long, coarseMs: Long): CadenceStats = {
    require(fineMs > 0 && coarseMs > 0 && coarseMs % fineMs == 0,
      s"tiers must nest: coarseMs=$coarseMs must be a positive multiple of fineMs=$fineMs")
    var run = 0L; var skip = 0L; var comp = 0L; var rows = 0L
    tickTimes(fromMs, toMs, fineMs).foreach { t =>
      val w = tick(spark, v, outDir, t, fineMs)
      if (w < 0) skip += 1 else { run += 1; rows += w }
    }
    tickTimes(fromMs, toMs, coarseMs).foreach { t =>
      val w = compact(spark, v, outDir, t, coarseMs)
      comp += 1; if (w > 0) rows += w
    }
    CadenceStats(run, skip, comp, rows)
  }
}
