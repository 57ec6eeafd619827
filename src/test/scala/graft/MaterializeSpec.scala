package graft

import graft.operators.Materialize
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkSpec with TmpDirSupport {

  // schema: time_bin_ms, process_id, level, target, count
  private def statsSource = new Lakehouse(spark, sfDir).logStats

  private def listParquet(dir: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out(base.relativize(p).toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
    }
    out.toMap
  }

  test("incremental day update matches full recompute and leaves closed days untouched") {
    val out = java.nio.file.Files.createTempDirectory("graft-mat").toString + "/log_stats"
    val full = statsSource
    val cut = full.agg(expr("percentile_approx(time_bin_ms, 0.5)")).head().getLong(0)

    // day 0..mid: initial materialization
    val first = Materialize.updateByDay(spark, full.where(col("time_bin_ms") < cut), out)
    assert(first.daysRecomputed > 2 && first.rowsWritten > 0)
    val before = listParquet(out)

    // source grows: second update recomputes only the open day onward
    val second = Materialize.updateByDay(spark, full, out)
    assert(second.daysRecomputed < first.daysRecomputed + 20) // sanity: bounded work
    val after = listParquet(out)

    // closed days: every pre-existing file except the open-day partition
    // survives bit-for-bit untouched (same path, same mtime)
    val openDayDir = before.keys.map(_.split("/")(0)).toSeq.sorted.last
    val closed = before.filterNot(_._1.startsWith(openDayDir))
    assert(closed.nonEmpty)
    closed.foreach { case (f, mtime) =>
      assert(after.get(f).contains(mtime), s"closed-partition file $f was rewritten")
    }

    // correctness: lake content equals a from-scratch recompute
    val lake = spark.read.parquet(out)
      .select("time_bin_ms", "process_id", "level", "target", "count")
    val fresh = full.select("time_bin_ms", "process_id", "level", "target", "count")
    assert(lake.exceptAll(fresh).isEmpty && fresh.exceptAll(lake).isEmpty)

    // idempotency: a third update with the same source changes nothing
    val third = Materialize.updateByDay(spark, full, out)
    val lake2 = spark.read.parquet(out)
      .select("time_bin_ms", "process_id", "level", "target", "count")
    assert(lake2.exceptAll(fresh).isEmpty && fresh.exceptAll(lake2).isEmpty)
    assert(third.daysRecomputed <= second.daysRecomputed)
  }

  test("retireByDay drops only partitions older than the cutoff; survivors stay queryable") {
    val out = java.nio.file.Files.createTempDirectory("graft-ret").toString + "/log_stats"
    Materialize.updateByDay(spark, statsSource, out)

    val inv = Materialize.listPartitions(spark, out).collect()
    assert(inv.length > 3, "need several day partitions to exercise retirement")
    assert(inv.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0L))
    val days = inv.map(_.getString(0)).sorted
    val cutoff = days(days.length / 2)

    val retired = Materialize.retireByDay(spark, out, cutoff)
    assert(retired.daysRetired == days.count(_ < cutoff).toLong)

    val left = Materialize.listPartitions(spark, out).collect().map(_.getString(0))
    assert(left.sorted.sameElements(days.filter(_ >= cutoff)), "exactly the cutoff's survivors remain")

    // surviving data still reads, and equals the source restricted to kept days
    val lake = spark.read.parquet(out)
      .select("time_bin_ms", "process_id", "level", "target", "count")
    val kept = statsSource
      .where(to_date(timestamp_millis(col("time_bin_ms"))) >= to_date(lit(cutoff)))
      .select("time_bin_ms", "process_id", "level", "target", "count")
    assert(lake.exceptAll(kept).isEmpty && kept.exceptAll(lake).isEmpty)

    // idempotent: retiring again with the same cutoff is a no-op
    assert(Materialize.retireByDay(spark, out, cutoff).daysRetired == 0)
  }

  test("retireByFile drops one file; survivors queryable; regenerateDay restores bitwise") {
    val out = java.nio.file.Files.createTempDirectory("graft-retf").toString + "/log_stats"
    Materialize.updateByDay(spark, statsSource, out)
    val cols = Seq("time_bin_ms", "process_id", "level", "target", "count")
    val total = spark.read.parquet(out).count()

    // pick a real partition file from a middle day
    val days = Materialize.listPartitions(spark, out).collect().map(_.getString(0)).sorted
    val victimDay = days(days.length / 2)
    val dayDir = java.nio.file.Paths.get(s"$out/date=$victimDay")
    val victim = {
      val walk = java.nio.file.Files.list(dayDir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.getFileName.toString)
          .find(_.endsWith(".parquet")).get
      } finally walk.close()
    }

    assert(Materialize.retireByFile(spark, out, s"date=$victimDay/$victim"))
    // survivors still read; the retired file's rows are gone
    val after = spark.read.parquet(out).select(cols.map(col): _*)
    assert(after.count() < total)
    // every surviving row is source data (no corruption)
    assert(after.exceptAll(statsSource.select(cols.map(col): _*)).isEmpty)

    // repair: regenerate exactly that day from source → lake == source
    val rows = Materialize.regenerateDay(spark, statsSource, out, victimDay)
    assert(rows > 0)
    val restored = spark.read.parquet(out).select(cols.map(col): _*)
    val fresh = statsSource.select(cols.map(col): _*)
    assert(restored.exceptAll(fresh).isEmpty && fresh.exceptAll(restored).isEmpty)

    // retiring a nonexistent file is a clean false, and traversal is rejected
    assert(!Materialize.retireByFile(spark, out, s"date=$victimDay/nope.parquet"))
    intercept[IllegalArgumentException] {
      Materialize.retireByFile(spark, out, "../../etc/passwd.parquet")
    }
  }

  test("regenerateDay with an emptied source day removes the partition instead of keeping damage") {
    val out = java.nio.file.Files.createTempDirectory("graft-regen-empty").toString + "/log_stats"
    Materialize.updateByDay(spark, statsSource, out)
    val days = Materialize.listPartitions(spark, out).collect().map(_.getString(0)).sorted
    val victim = days(days.length / 2)
    // the source no longer has ANY rows for that day (day-level
    // retention upstream): regeneration must repair to ABSENT — a
    // dynamic overwrite of the empty frame would leave the old files
    val emptied = statsSource
      .where(to_date(timestamp_millis(col("time_bin_ms"))) =!= to_date(lit(victim)))
    assert(Materialize.regenerateDay(spark, emptied, out, victim) === 0L)
    val daysAfter = Materialize.listPartitions(spark, out).collect().map(_.getString(0))
    assert(!daysAfter.contains(victim), "emptied day partition survived regeneration")
    // lake equals the emptied source
    val cols = Seq("time_bin_ms", "process_id", "level", "target", "count")
    val lake = spark.read.parquet(out).select(cols.map(col): _*)
    assert(lake.exceptAll(emptied.select(cols.map(col): _*)).isEmpty)
  }

  test("replicate ships changed days verbatim, skips unchanged, re-runs as a no-op") {
    val srcOut = java.nio.file.Files.createTempDirectory("graft-repl-src").toString + "/log_stats"
    val dstOut = java.nio.file.Files.createTempDirectory("graft-repl-dst").toString + "/log_stats"
    val full = statsSource
    val cut = full.agg(expr("percentile_approx(time_bin_ms, 0.5)")).head().getLong(0)

    // source lake at half history → first replication copies everything
    Materialize.updateByDay(spark, full.where(col("time_bin_ms") < cut), srcOut)
    val srcDays1 = listParquet(srcOut).keys.map(_.split("/")(0)).toSet.size
    val r1 = Materialize.replicate(spark, srcOut, dstOut)
    assert(r1.daysCopied == srcDays1.toLong)
    // verbatim: every file byte-identical to the source
    def md5s(dir: String): Map[String, String] = listParquet(dir).keys.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))
      f -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map(b => f"$b%02x").mkString
    }.toMap
    assert(md5s(dstOut) == md5s(srcOut))

    // source grows (its old open day closes rewritten, new days appear);
    // incremental replication ships only the changed days
    Materialize.updateByDay(spark, full, srcOut)
    val srcDays2 = listParquet(srcOut).keys.map(_.split("/")(0)).toSet.size
    val r2 = Materialize.replicate(spark, srcOut, dstOut)
    assert(r2.daysCopied > 0 && r2.daysCopied <= (srcDays2 - srcDays1 + 1).toLong,
      s"expected only the delta, copied ${r2.daysCopied}")
    assert(md5s(dstOut) == md5s(srcOut)) // replica converged to the grown source

    // idempotency: an unchanged source replicates as a pure no-op
    val mtimesBefore = listParquet(dstOut)
    val r3 = Materialize.replicate(spark, srcOut, dstOut)
    assert(r3.daysCopied == 0 && r3.daysDropped == 0)
    assert(listParquet(dstOut) == mtimesBefore, "no-op replication touched files")

    // retention on the source propagates: replica-only days are dropped
    val allDays = listParquet(srcOut).keys.map(_.split("/")(0).stripPrefix("date=")).toSeq.sorted
    Materialize.retireByDay(spark, srcOut, allDays(2))
    val r4 = Materialize.replicate(spark, srcOut, dstOut)
    assert(r4.daysDropped == 2, s"expected the 2 retired days dropped, got ${r4.daysDropped}")
    assert(md5s(dstOut) == md5s(srcOut), "replica did not follow source retention")
    // and the replica is queryable with identical content
    val a = spark.read.parquet(srcOut).select("time_bin_ms", "process_id", "level", "target", "count")
    val b = spark.read.parquet(dstOut).select("time_bin_ms", "process_id", "level", "target", "count")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("sweepExpired cascades: expired blocks, then empty streams, then empty processes") {
    // blob-lake layout root/<process>/<stream>/date=... (delete.rs's
    // blobs/{process}/{stream}/{block} at day granularity)
    val root = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    def mkBlock(proc: String, stream: String, day: String): Unit = {
      val d = java.nio.file.Paths.get(root, proc, stream, s"date=$day")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    }
    // p1/s1 survives (one live block); p1/s2 empties; p2 empties entirely
    mkBlock("p1", "s1", "2024-01-01"); mkBlock("p1", "s1", "2024-01-25")
    mkBlock("p1", "s2", "2024-01-02")
    mkBlock("p2", "s3", "2024-01-03"); mkBlock("p2", "s4", "2024-01-04")

    val stats = Materialize.sweepExpired(spark, root, "2024-01-10")
    assert(stats == Materialize.SweepStats(blocksDeleted = 4, streamsDeleted = 3,
      processesDeleted = 1), s"unexpected cascade: $stats")

    val p = java.nio.file.Paths.get(root)
    assert(!java.nio.file.Files.exists(p.resolve("p2")), "emptied process survived")
    assert(!java.nio.file.Files.exists(p.resolve("p1/s2")), "emptied stream survived")
    assert(java.nio.file.Files.exists(p.resolve("p1/s1/date=2024-01-25/part-0.parquet")),
      "live block was deleted")
    assert(!java.nio.file.Files.exists(p.resolve("p1/s1/date=2024-01-01")),
      "expired block survived")

    // idempotency: nothing left to expire
    assert(Materialize.sweepExpired(spark, root, "2024-01-10") ==
      Materialize.SweepStats(0, 0, 0))
    // bad input rejected before any deletion
    intercept[IllegalArgumentException](Materialize.sweepExpired(spark, root, "Jan 10"))
  }

  test("out-of-order block arrival: event-time partitions stay pure and non-overlapping " +
      "(reference #1429 jit_partitions analog)") {
    // The reference cuts JIT partitions from a block LIST, so when the
    // list is event-time-sorted it must enforce insert-safe cut points
    // to keep each partition's insert-time range non-overlapping
    // (rust/analytics/src/lakehouse/jit_partitions.rs,
    // group_blocks_into_partitions, BlockOrder::EventTime). The Spark
    // layout is immune to that bug class BY CONSTRUCTION: a row's
    // partition is derived from its EVENT TIME value
    // (date = to_date(time_bin_ms)), not from arrival order, so no
    // arrival permutation can put one event-time range in two
    // partitions. What out-of-order arrival CAN do here is land a row
    // in a day the incremental update already closed — that is the
    // analog of the reference's overlap-retirement case
    // (RetireMatch::Overlap), and its documented repair is
    // regenerateDay. This test pins all three semantics.
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-ooo").toString + "/view"
    val d1 = 1704067200000L // 2024-01-01T00:00Z
    val day = 86400000L
    def row(dayOff: Long, msOff: Long, k: String) = (d1 + dayOff * day + msOff, k, 1L)

    // arrival 1: days D1 and D2 — lake opens with D2 as the open day
    val batch1 = Seq(row(0, 1000, "a"), row(0, 2000, "b"), row(1, 500, "c"))
      .toDF("time_bin_ms", "k", "cnt")
    Materialize.updateByDay(spark, batch1, out)

    // arrival 2 is event-time OUT OF ORDER vs arrival 1: new rows land
    // in the open day D2 (earlier event time than the existing D2 row),
    // in a new day D3, and in the CLOSED day D1
    val late = Seq(row(1, 100, "late-open"), row(2, 300, "d"), row(0, 1500, "late-closed"))
    val full = (Seq(row(0, 1000, "a"), row(0, 2000, "b"), row(1, 500, "c")) ++ late)
      .toDF("time_bin_ms", "k", "cnt")
    Materialize.updateByDay(spark, full, out)

    // partition purity: every file in date=D holds ONLY rows whose
    // event-time date is D — event-time ranges across partitions are
    // disjoint by construction, the exclusion-constraint analog
    val days = Materialize.listPartitions(spark, out).collect().map(_.getString(0)).sorted
    assert(days.sameElements(Seq("2024-01-01", "2024-01-02", "2024-01-03")))
    days.foreach { d =>
      val part = spark.read.parquet(s"$out/date=$d")
      val bad = part.where(to_date(timestamp_millis(col("time_bin_ms"))) =!= to_date(lit(d)))
      assert(bad.isEmpty, s"partition date=$d holds rows of another event-time day")
    }

    // open-day-and-later absorbed exactly: D2/D3 equal from-scratch,
    // including the late-but-within-open-day row
    val lake = spark.read.parquet(out).select("time_bin_ms", "k", "cnt")
    val absorbed = lake.where(col("time_bin_ms") >= d1 + day)
    val expected2 = full.where(col("time_bin_ms") >= d1 + day).select("time_bin_ms", "k", "cnt")
    assert(absorbed.exceptAll(expected2).isEmpty && expected2.exceptAll(absorbed).isEmpty)

    // the closed-day late row is NOT silently absorbed (closed days are
    // never rewritten — the invariant that makes updates O(new data));
    // it is exactly what the repair path exists for
    assert(lake.where(col("k") === "late-closed").isEmpty)
    Materialize.regenerateDay(spark, full, out, "2024-01-01")
    val repaired = spark.read.parquet(out).select("time_bin_ms", "k", "cnt")
    val fullSel = full.select("time_bin_ms", "k", "cnt")
    assert(repaired.exceptAll(fullSel).isEmpty && fullSel.exceptAll(repaired).isEmpty,
      "regenerateDay did not converge the lake to the full out-of-order source")
  }

  test("moved event-time cut points: containment-retirement leaves a stale overlapping " +
      "partition, overlap-retirement removes it (reference #1429 RetireMatch::Overlap)") {
    // The insert-range partition lake (operators.JitPartitions): run 1
    // groups blocks b1,b3 into ONE partition (insert range
    // [1000,3000]). Run 2 sees a late-registered block b2 whose EVENT
    // time falls between them; the event-time sort now puts b2 in the
    // middle and the insert-safe cut MOVES — the new partitions are
    // [b1] (insert [1000,1000]) and [b2,b3] (insert [3000,4000]).
    // Neither new range CONTAINS the stale [1000,3000] partition, so
    // containment-retirement (write_partition.rs RetireMatch::
    // Containment — correct only for stable cut points) leaves it
    // alive and the lake double-counts b1 and b3; inclusive-overlap
    // retirement (RetireMatch::Overlap) retires it, with the run's own
    // partitions protected by identity (a range always intersects
    // itself — without the same-run guard, Overlap would delete what
    // it just wrote).
    import graft.operators.JitPartitions
    import graft.operators.JitPartitions.{Block, Containment, EventTime, Overlap}
    import spark.implicits._

    val b1 = Block("b1", insertMs = 1000, beginMs = 0, endMs = 100, nbObjects = 5)
    val b2 = Block("b2", insertMs = 4000, beginMs = 100, endMs = 200, nbObjects = 5)
    val b3 = Block("b3", insertMs = 3000, beginMs = 200, endMs = 300, nbObjects = 5)
    def rowsOf(g: Vector[Block]) =
      g.map(b => (b.blockId, b.beginMs, b.nbObjects)).toDF("block_id", "begin_ms", "n")
    def lakeRows(dir: String) = spark.read.parquet(s"$dir/insert=*")
      .select("block_id").as[String].collect().sorted.toSeq

    // the cut really moves: run-1 grouping is one partition, run-2 two
    assert(JitPartitions.groupBlocks(Seq(b1, b3), 12, EventTime).map(_.map(_.blockId))
      == Vector(Vector("b1", "b3")))
    assert(JitPartitions.groupBlocks(Seq(b1, b2, b3), 12, EventTime).map(_.map(_.blockId))
      == Vector(Vector("b1"), Vector("b2", "b3")))

    // containment mode: the stale wide partition survives run 2 and the
    // lake double-counts its blocks — the provable failure
    val badDir = tmpDir("graft-jit-containment") + "/view"
    JitPartitions.jitUpdate(spark, badDir, Seq(b1, b3), 12, EventTime, Containment)(rowsOf)
    JitPartitions.jitUpdate(spark, badDir, Seq(b1, b2, b3), 12, EventTime, Containment)(rowsOf)
    assert(JitPartitions.listParts(spark, badDir).map(p => (p.beginInsertMs, p.endInsertMs))
      .sorted == Seq((1000L, 1000L), (1000L, 3000L), (3000L, 4000L)),
      "containment should have left the stale [1000,3000] partition behind")
    assert(lakeRows(badDir) == Seq("b1", "b1", "b2", "b3", "b3"),
      "the stale partition double-counts b1 and b3")

    // overlap mode: the stale partition is retired, the run's own
    // partitions survive, and the lake holds each block exactly once
    val goodDir = tmpDir("graft-jit-overlap") + "/view"
    JitPartitions.jitUpdate(spark, goodDir, Seq(b1, b3), 12, EventTime, Overlap)(rowsOf)
    val (written, retired, _) =
      JitPartitions.jitUpdate(spark, goodDir, Seq(b1, b2, b3), 12, EventTime, Overlap)(rowsOf)
    assert(written.map(p => (p.beginInsertMs, p.endInsertMs)).sorted
      == Seq((1000L, 1000L), (3000L, 4000L)))
    assert(retired.map(p => (p.beginInsertMs, p.endInsertMs)) == Seq((1000L, 3000L)))
    assert(JitPartitions.listParts(spark, goodDir).map(p => (p.beginInsertMs, p.endInsertMs))
      .sorted == Seq((1000L, 1000L), (3000L, 4000L)))
    assert(lakeRows(goodDir) == Seq("b1", "b2", "b3"))

    // degenerate inclusive bounds: a [t,t] partition must still be
    // retired by a range containing t (tstzrange(t,t) would be empty
    // under half-open semantics — the reference's '[]' bounds argument)
    val degDir = tmpDir("graft-jit-degenerate") + "/view"
    JitPartitions.writePart(spark, rowsOf(Vector(b1)), degDir, 1000, 1000)
    val deg = JitPartitions.retireParts(spark, degDir, 500, 2000, Overlap)
    assert(deg.map(p => (p.beginInsertMs, p.endInsertMs)) == Seq((1000L, 1000L)))
  }

  test("jitUpdate skips up-to-date partitions; a schema-hash bump rebuilds them on " +
      "first query (reference is_jit_partition_up_to_date, jit_partitions.rs:738)") {
    import graft.operators.JitPartitions
    import graft.operators.JitPartitions.{Block, EventTime, InsertTime, Overlap}
    import spark.implicits._
    val b1 = Block("b1", insertMs = 1000, beginMs = 0, endMs = 100, nbObjects = 5)
    val b2 = Block("b2", insertMs = 3000, beginMs = 200, endMs = 300, nbObjects = 5)
    def rowsOf(g: Vector[Block]) =
      g.map(b => (b.blockId, b.beginMs, b.nbObjects)).toDF("block_id", "begin_ms", "n")
    val dir = tmpDir("graft-jit-uptodate") + "/view"
    val v1 = "schema-v1-hash"

    // first query materializes; the identical second query is a
    // metadata-only no-op (skips everything, writes nothing)
    val (w1, _, s1) = JitPartitions.jitUpdate(spark, dir, Seq(b1, b2), 7,
      EventTime, Overlap, Some(v1))(rowsOf)
    assert(w1.nonEmpty && s1.isEmpty)
    val mtimes = w1.map { p =>
      val f = new java.io.File(new java.net.URI(p.path).getPath)
      p.path -> new java.io.File(f, JitPartitions.PartMetaName).lastModified()
    }.toMap
    val (w2, r2, s2) = JitPartitions.jitUpdate(spark, dir, Seq(b1, b2), 7,
      EventTime, Overlap, Some(v1))(rowsOf)
    assert(w2.isEmpty && r2.isEmpty && s2.map(p => (p.beginInsertMs, p.endInsertMs)).sorted
      == w1.map(p => (p.beginInsertMs, p.endInsertMs)).sorted)
    w1.foreach { p =>
      val f = new java.io.File(new java.net.URI(p.path).getPath)
      assert(new java.io.File(f, JitPartitions.PartMetaName).lastModified()
        == mtimes(p.path), s"skipped partition was rewritten: ${p.path}")
    }

    // a changed object count (late block into an existing range) is
    // NOT up to date under EventTime's exact-count rule
    assert(!JitPartitions.isPartUpToDate(spark, dir, 1000, 1000, EventTime, v1, 10))
    // InsertTime: a wider committed partition with count >= vouches
    assert(JitPartitions.isPartUpToDate(spark, dir, 1000, 1000, InsertTime, v1, 3))
    // ...but never across a schema change
    assert(!JitPartitions.isPartUpToDate(spark, dir, 1000, 1000, InsertTime, "other", 3))

    // SCHEMA_VERSION bump: same blocks, new hash — every partition
    // reads stale and rebuilds on first query, no admin action
    val (w3, _, s3) = JitPartitions.jitUpdate(spark, dir, Seq(b1, b2), 7,
      EventTime, Overlap, Some("schema-v2-hash"))(rowsOf)
    assert(s3.isEmpty && w3.map(p => (p.beginInsertMs, p.endInsertMs)).sorted
      == w1.map(p => (p.beginInsertMs, p.endInsertMs)).sorted)
    // and the rebuilt lake is immediately up to date again
    val (w4, _, s4) = JitPartitions.jitUpdate(spark, dir, Seq(b1, b2), 7,
      EventTime, Overlap, Some("schema-v2-hash"))(rowsOf)
    assert(w4.isEmpty && s4.length == w3.length)
  }

  test("ensureBeginNonDecreasing: healthy span batches write, a regressed begin fails " +
      "the write loudly (reference thread_spans_view.rs:131)") {
    import graft.operators.JitPartitions
    import spark.implicits._
    val healthy = Seq((1L, 10L, 100L), (1L, 11L, 100L), (1L, 12L, 150L),
      (2L, 20L, 50L), (2L, 21L, 60L))
      .toDF("stream_id", "span_id", "begin_ms")
    // guard is pass-through on a monotone batch
    assert(JitPartitions.ensureBeginNonDecreasing(healthy, "stream_id", "span_id",
      "begin_ms").count() === 5L)
    // a regressed begin (the corrupted-conversion class the reference
    // catches) fails the WRITE action, naming stream and row
    val corrupt = healthy.union(Seq((2L, 22L, 55L)).toDF("stream_id", "span_id", "begin_ms"))
    val out = tmpDir("graft-bnd") + "/part"
    val e = intercept[Exception] {
      JitPartitions.writePart(spark,
        JitPartitions.ensureBeginNonDecreasing(corrupt, "stream_id", "span_id", "begin_ms"),
        out, 0, 1)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    val msg = chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msg.contains("ensure_begin_non_decreasing") && msg.contains("stream 2")
      && msg.contains("id 22"), s"diagnostic missing: $msg")
    // the guarded write must not have committed the partition
    assert(JitPartitions.listParts(spark, out).isEmpty)
  }

  test("listIncompatiblePartitions: a repeat on an unchanged lake launches no Spark job") {
    val out = tmpDir("graft-schrepeat") + "/view"
    Materialize.updateByDay(spark, statsSource, out)
    val evolved = statsSource.withColumn("sampled", lit(false)).schema
    val (first, cold) = jobsDuring(Materialize.listIncompatiblePartitions(spark, out, evolved).collect())
    assert(first.nonEmpty && cold > 0)
    val (again, warm) = jobsDuring(Materialize.listIncompatiblePartitions(spark, out, evolved).collect())
    assert(warm === 0)
    assert(again.toSeq === first.toSeq)
  }

  test("schema evolution: incompatible partitions listed exactly, retired exactly") {
    val out = java.nio.file.Files.createTempDirectory("graft-schev").toString + "/view"
    val full = statsSource
    val cut = full.agg(expr("percentile_approx(time_bin_ms, 0.5)")).head().getLong(0)

    // era A: the original schema
    Materialize.updateByDay(spark, full.where(col("time_bin_ms") < cut), out)
    val eraADays = Materialize.listPartitions(spark, out).collect().map(_.getString(0)).sorted
    // era B: the view evolves (new column); only the open day onward is rewritten
    val evolved = full.withColumn("sampled", lit(false))
    Materialize.updateByDay(spark, evolved, out)
    val allDays = Materialize.listPartitions(spark, out).collect().map(_.getString(0)).sorted

    // hashes: order-sensitive version markers
    assert(Materialize.schemaHash(full.schema) != Materialize.schemaHash(evolved.schema))

    val incompatible = Materialize.listIncompatiblePartitions(spark, out, evolved.schema)
    val flagged = incompatible.collect()
    // exactly the era-A days that era B's update did not rewrite
    val expected = eraADays.dropRight(1) // the open A-day was rewritten under B
    assert(flagged.map(_.getString(0)).sorted.sameElements(expected),
      s"flagged ${flagged.map(_.getString(0)).mkString(",")} expected ${expected.mkString(",")}")
    assert(flagged.forall(r => r.getString(1) == Materialize.schemaHash(full.schema)
      && r.getString(2) == Materialize.schemaHash(evolved.schema)))
    assert(flagged.forall(r => r.getLong(3) > 0 && r.getLong(4) > 0L))

    // retirement targets exactly the flagged set, never a compatible day
    val retired = Materialize.retireIncompatiblePartitions(spark, out, evolved.schema)
    assert(retired.collect().map(_.getString(0)).sorted.sameElements(expected))
    val left = Materialize.listPartitions(spark, out).collect().map(_.getString(0))
    assert(left.sorted.sameElements(allDays.filter(d => !expected.contains(d))))
    assert(Materialize.listIncompatiblePartitions(spark, out, evolved.schema).isEmpty)
    // survivors are uniformly era-B schema and queryable
    val lake = spark.read.parquet(out)
    assert(lake.columns.contains("sampled") && lake.count() > 0)
  }
}
