package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time JIT partition grouping with insert-safe cuts, and
  * insert-range partition retirement by containment or overlap — the
  * Spark analog of the reference's newest partition-maintenance
  * semantics (reference #1429: rust/analytics/src/lakehouse/
  * jit_partitions.rs:65 `BlockOrder`/`group_blocks_into_partitions`,
  * write_partition.rs:125 `RetireMatch`).
  *
  * The problem: a view that builds cross-block trees (thread_spans,
  * net_spans) must group its source blocks in EVENT-time order, but
  * partitions are registered under their INSERT-time ranges and the
  * lake's no-overlap constraint is on those. When blocks register out
  * of insert order (late arrivals, multi-region ingest), sorting by
  * event time can put an insert-late block before an insert-early one,
  * so a naive size cut would emit partitions whose insert ranges
  * overlap. The reference's answer, reproduced here:
  *
  *  - a cut index is taken only where it is INSERT-SAFE — every block
  *    before the cut was inserted no later than every block at or
  *    after it (prefix-max(insert) ≤ suffix-min(insert));
  *  - when the natural size cut is unsafe, fall back to the most
  *    recent safe index; when none exists in the window, grow past the
  *    soft `maxNbObjects` limit rather than emit an overlap;
  *  - because event-time cut points can MOVE between runs as late
  *    blocks arrive, a rewrite must retire stale partitions that
  *    merely OVERLAP the new insert range (inclusive-bounds
  *    intersection), not just ones it contains — with partitions the
  *    same run already wrote protected by identity.
  *
  * The insert-range partition store below is graft's one partition
  * store for views written by range: the JIT views here, and
  * [[SqlBatchView]]'s sliced views, whose slice `[b, e)` is the
  * partition `insert=b-(e-1)-0` (so [[NrtCadence]]'s compaction is
  * just a wider slice write retiring what it overlaps, as in the
  * reference's merge.rs).
  *
  * Grouping is driver-light and distributed per view instance: each
  * (process, stream) key's block METADATA list (minutes, not rows) is
  * folded inside `flatMapGroups`, so a 1000-process lake groups 1000
  * keys in parallel and per-key state is the block list of one stream
  * — the same metadata the scan listing already holds.
  */
object JitPartitions {

  /** One source block's metadata: registration time, event coverage,
    * payload size in objects. `beginMs`/`endMs` is the block's event
    * coverage interval `[beginMs, endMs)`.
    */
  final case class Block(blockId: String, insertMs: Long,
      beginMs: Long, endMs: Long, nbObjects: Long)

  sealed trait BlockOrder
  /** Registration order — every cut is insert-safe by construction. */
  case object InsertTime extends BlockOrder
  /** Event order (begin, end; ties keep insert order) — required by
    * cross-block-tree views; cuts restricted to insert-safe indices.
    */
  case object EventTime extends BlockOrder

  /** Groups one instance's blocks into partitions ≤ `maxNbObjects`
    * (soft: a single oversized block, or an EventTime window with no
    * safe cut, exceeds it). Invariant, both orders: the emitted
    * partitions' `[min(insertMs), max(insertMs)]` ranges are
    * non-overlapping and non-decreasing. All-zero-object windows are
    * dropped, not emitted as rows-free partitions.
    */
  def groupBlocks(input: Seq[Block], maxNbObjects: Long,
      order: BlockOrder): Vector[Vector[Block]] = {
    require(maxNbObjects > 0, s"groupBlocks: maxNbObjects must be positive, got $maxNbObjects")
    val blocks: Vector[Block] = order match {
      case InsertTime => input.toVector.sortBy(b => (b.insertMs, b.blockId))
      case EventTime =>
        // stable on (insert, id) ties so grouping is deterministic
        input.toVector.sortBy(b => (b.insertMs, b.blockId))
          .sortBy(b => (b.beginMs, b.endMs))(Ordering.Tuple2[Long, Long])
    }
    val n = blocks.length
    if (n == 0) return Vector.empty

    // suffixMin(i) = min insert time of blocks(i..n-1); index n guards
    // the tail cut, which is always safe.
    val suffixMin = new Array[Long](n + 1)
    suffixMin(n) = Long.MaxValue
    var k = n - 1
    while (k >= 0) { suffixMin(k) = math.min(suffixMin(k + 1), blocks(k).insertMs); k -= 1 }

    val out = Vector.newBuilder[Vector[Block]]
    def emit(start: Int, end: Int, objects: Long): Unit =
      if (objects > 0) out += blocks.slice(start, end)

    var start = 0
    var objects = 0L
    var prefixMaxInsert = Long.MinValue
    // most recent insert-safe index (> start) in the open window, with
    // the object count of blocks(start..idx-1)
    var lastSafe = -1
    var lastSafeObjects = 0L

    var i = 0
    while (i < n) {
      // cutting before i is safe iff nothing accumulated was inserted
      // after anything remaining
      val safeHere = prefixMaxInsert <= suffixMin(i)
      if (safeHere && i > start) { lastSafe = i; lastSafeObjects = objects }
      val wouldOverflow = i > start && objects + blocks(i).nbObjects > maxNbObjects
      if (wouldOverflow && safeHere) {
        emit(start, i, objects)
        start = i; objects = 0L; prefixMaxInsert = Long.MinValue; lastSafe = -1
        // reprocess block i in the fresh window
      } else if (wouldOverflow && lastSafe > start) {
        // natural cut unsafe: emit up to the most recent safe index
        // (≤ maxNbObjects by construction), replay the tail into the
        // fresh window. No index in (lastSafe, i] can be safe after the
        // re-seed that was not safe before, so lastSafe resets clean.
        emit(start, lastSafe, lastSafeObjects)
        start = lastSafe; objects = 0L; prefixMaxInsert = Long.MinValue; lastSafe = -1
        var j = start
        while (j < i) {
          objects += blocks(j).nbObjects
          prefixMaxInsert = math.max(prefixMaxInsert, blocks(j).insertMs)
          j += 1
        }
        // fall through to accumulate block i below
        objects += blocks(i).nbObjects
        prefixMaxInsert = math.max(prefixMaxInsert, blocks(i).insertMs)
        i += 1
      } else {
        // fits, or no safe cut anywhere: grow (past the soft limit when
        // wouldOverflow — the documented straggler shape)
        objects += blocks(i).nbObjects
        prefixMaxInsert = math.max(prefixMaxInsert, blocks(i).insertMs)
        i += 1
      }
    }
    emit(start, n, objects)
    out.result()
  }

  /** Distributed grouping over every view instance at once: `blocks`
    * carries one row per source block with its instance key, and each
    * key's metadata list is folded by [[groupBlocks]] inside ONE
    * `flatMapGroups` pass — 1000 instances group in parallel after a
    * single shuffle of block METADATA rows (minutes, not events; the
    * same scale as the scan's own file listing). Output: the input
    * rows plus the assigned `group_id` (0-based per instance, in
    * emission order).
    */
  def groupBlocksByInstance(blocks: DataFrame, keyCols: Seq[String],
      maxNbObjects: Long, order: BlockOrder): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val keyed = blocks.select(
      concat_ws("\u0000", keyCols.map(col): _*).as("__key"),
      col("block_id").cast("string"), col("insert_ms").cast("long"),
      col("begin_ms").cast("long"), col("end_ms").cast("long"),
      col("nb_objects").cast("long"))
      .as[(String, String, Long, Long, Long, Long)]
    val grouped = keyed.groupByKey(_._1).flatMapGroups { (key, rows) =>
      val bs = rows.map(r => Block(r._2, r._3, r._4, r._5, r._6)).toSeq
      groupBlocks(bs, maxNbObjects, order).iterator.zipWithIndex.flatMap {
        case (g, gid) => g.map(b => (key, b.blockId, gid.toLong))
      }
    }.toDF("__key", "block_id", "group_id")
    blocks.join(grouped.drop("__key"), Seq("block_id"))
  }

  /** Splits an event-time-ordered block list into maximal chains of
    * unbroken event coverage — the unit a cross-block tree can be
    * decoded over. A chain breaks ONLY on a strict gap (`beginMs`
    * after the running coverage end); blocks that touch or overlap
    * extend it, because producers differ in whether consecutive blocks
    * overlap (replacement stamped before close) or touch exactly — an
    * equality test would break every seam of the former (the reference
    * #1429 contiguity fix: `begin_ticks <= last_end`, not `==`). The
    * running end is a MAX, so a short block fully contained in a
    * longer one cannot break the chain.
    */
  def contiguousChains(blocks: Seq[Block]): Vector[Vector[Block]] = {
    val sorted = blocks.toVector.sortBy(b => (b.beginMs, b.endMs, b.insertMs, b.blockId))
    val chains = Vector.newBuilder[Vector[Block]]
    var cur = Vector.empty[Block]
    var coverageEnd = Long.MinValue
    sorted.foreach { b =>
      if (cur.nonEmpty && b.beginMs > coverageEnd) {
        chains += cur
        cur = Vector.empty
      }
      cur :+= b
      coverageEnd = math.max(coverageEnd, b.endMs)
    }
    if (cur.nonEmpty) chains += cur
    chains.result()
  }

  // ——— insert-range partition lake ———————————————————————————————

  /** A materialized partition's identity: its inclusive insert-time
    * range, encoded in the partition directory name
    * (`insert=<beginMs>-<endMs>-<disambiguator>`), so retirement is a
    * directory listing + delete — metadata-only, like the reference's
    * Postgres registry rows.
    */
  final case class PartitionRef(path: String, beginInsertMs: Long, endInsertMs: Long)

  sealed trait RetireMatch
  /** Existing partition fully inside the new insert range — correct
    * only when cut points are stable across runs (InsertTime views,
    * batch/merge writes).
    */
  case object Containment extends RetireMatch
  /** Inclusive insert-range intersection — required by EventTime
    * views, whose cut points can move between runs, leaving stale
    * partitions that overlap without being contained. Inclusive on
    * both sides: partitions touching at one instant can both contain a
    * block registered at that instant, and a degenerate `[t,t]`
    * partition must still intersect anything containing t.
    */
  case object Overlap extends RetireMatch

  private val PartDirName = "insert=(-?\\d+)-(-?\\d+)-(\\d+)".r

  /** Registered partitions, from directory names alone (O(partitions)
    * metadata calls, no footer reads).
    */
  def listParts(spark: SparkSession, dir: String): Seq[PartitionRef] = {
    val (f, p) = LakeFs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case PartDirName(b, e, _) => Some(PartitionRef(st.getPath.toString, b.toLong, e.toLong))
        case _ => None
      }
    }
  }

  /** Retires every registered partition matching the new insert range
    * under `mode`, except `sameRun` identities (the ranges this run
    * already wrote — identity-based, not shape-based, so a same-range
    * sibling written moments ago survives). Returns the retired refs.
    */
  def retireParts(spark: SparkSession, dir: String, beginInsertMs: Long,
      endInsertMs: Long, mode: RetireMatch,
      sameRun: Set[(Long, Long)] = Set.empty): Seq[PartitionRef] = {
    val victims = listParts(spark, dir)
      .filterNot(p => sameRun.contains((p.beginInsertMs, p.endInsertMs)))
      .filter { p =>
        mode match {
          case Containment =>
            p.beginInsertMs >= beginInsertMs && p.endInsertMs <= endInsertMs
          case Overlap =>
            p.beginInsertMs <= endInsertMs && beginInsertMs <= p.endInsertMs
        }
      }
    val (f, _) = LakeFs(spark, dir)
    victims.foreach(v => f.delete(new org.apache.hadoop.fs.Path(v.path), true))
    victims
  }

  /** Writes one partition's rows under its insert-range directory.
    * The disambiguator keeps two same-range partitions (degenerate
    * ranges from a single-instant burst) from colliding on disk.
    * `meta = (fileSchemaHash, objectCount)`, when given, is recorded
    * in a hidden marker — the analog of the reference's
    * lakehouse_partitions row (file_schema_hash, source_data_hash →
    * object count) that [[isPartUpToDate]] reads.
    */
  def writePart(spark: SparkSession, df: DataFrame, dir: String,
      beginInsertMs: Long, endInsertMs: Long, disambiguator: Int = 0,
      meta: Option[(String, Long)] = None): PartitionRef = {
    val path = s"$dir/insert=$beginInsertMs-$endInsertMs-$disambiguator"
    // a failed write (e.g. the ensureBeginNonDecreasing guard firing)
    // must not leave a half-written directory that listParts would
    // count as a registered partition — the reference bails BEFORE its
    // metadata insert, so the partition never exists
    try df.write.mode("overwrite").parquet(path)
    catch { case e: Throwable =>
      val (f, _) = LakeFs(spark, dir)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      throw e
    }
    meta.foreach { case (hash, count) =>
      val (f, _) = LakeFs(spark, dir)
      LakeFs.writeText(f, new org.apache.hadoop.fs.Path(path, PartMetaName), s"$hash\n$count\n")
    }
    PartitionRef(path, beginInsertMs, endInsertMs)
  }

  /** Hidden partition-metadata marker ('_' prefix: invisible to Spark
    * and DuckDB file listings): line 1 the file schema hash (M49's
    * [[Materialize.schemaHash]]), line 2 the source object count.
    */
  val PartMetaName = "_graft_part_meta"

  private def readPartMeta(f: org.apache.hadoop.fs.FileSystem,
      path: String): Option[(String, Long)] =
    LakeFs.readText(f, new org.apache.hadoop.fs.Path(path, PartMetaName))
      .map(_.split("\n", -1).toSeq).collect {
        case hash +: count +: _ if count.nonEmpty && count.forall(_.isDigit) =>
          (hash, count.toLong)
      }

  /** Is a group's target partition already materialized and current?
    * Reference `is_jit_partition_up_to_date` (jit_partitions.rs:738),
    * matching its match-selection exactly:
    *  - EventTime: EXACT insert-range equality — cut points move
    *    between runs, so a wider overlapping partition must read "not
    *    up to date" (the write then falls through to Overlap
    *    retirement);
    *  - InsertTime degenerate ([t,t]): exact match, so a wider
    *    overlapping row can't shadow it;
    *  - InsertTime: inclusive-overlap cover test (a stale spec covered
    *    by an already-wider committed partition is a no-op, not a
    *    rewrite — Containment could never retire it).
    * Exactly ONE matching partition may vouch; a schema-hash mismatch
    * is never up to date (the no-admin-action SCHEMA_VERSION upgrade:
    * bumping the view's schema makes every old partition rebuild on
    * first query); the object count must satisfy == (EventTime) or >=
    * (InsertTime). A partition without metadata (pre-upgrade lake)
    * reads stale and rebuilds — the safe direction.
    */
  def isPartUpToDate(spark: SparkSession, dir: String, beginInsertMs: Long,
      endInsertMs: Long, order: BlockOrder, fileSchemaHash: String,
      requiredCount: Long): Boolean = {
    val matching = listParts(spark, dir).filter { p =>
      order match {
        case EventTime =>
          p.beginInsertMs == beginInsertMs && p.endInsertMs == endInsertMs
        case InsertTime if beginInsertMs == endInsertMs =>
          p.beginInsertMs == beginInsertMs && p.endInsertMs == beginInsertMs
        case InsertTime =>
          // inclusive overlap, exactly the reference's query (#488:
          // exclusive bounds made identical ranges never match,
          // recreating partitions on every query)
          p.beginInsertMs <= endInsertMs && p.endInsertMs >= beginInsertMs
      }
    }
    if (matching.length != 1) return false
    val (f, _) = LakeFs(spark, dir)
    readPartMeta(f, matching.head.path) match {
      case Some((hash, count)) if hash == fileSchemaHash =>
        order match {
          case EventTime => count == requiredCount
          case InsertTime => count >= requiredCount
        }
      case _ => false
    }
  }

  /** One materialization run: group `blocks` (one view instance's
    * metadata) under `order`, write each group's rows from `rowsOf`,
    * then retire stale partitions per `mode` — each new partition's
    * range retires what it must, with every range this run produced
    * (written OR vouched up to date) protected by identity. Returns
    * (written, retired, skipped).
    *
    * `fileSchemaHash`, when given, turns the run into the reference's
    * first-query JIT path: a group whose partition [[isPartUpToDate]]
    * (same range per `order`'s match rule, same schema hash, object
    * count satisfied) is SKIPPED — repeated queries over an unchanged
    * lake do metadata reads only — and a SCHEMA_VERSION bump (a new
    * hash) makes every stale partition read "not up to date" and
    * rebuild on first query, with no admin action (the reference's
    * upgrade semantics). Without it, every group rewrites (the
    * pre-check behavior, still right for forced regeneration).
    *
    * EventTime views pass `Overlap`; InsertTime views pass
    * `Containment` (where overlap-retirement would be wrong: an
    * unchanged neighbor touching the rewritten range must survive).
    */
  def jitUpdate(spark: SparkSession, dir: String, blocks: Seq[Block],
      maxNbObjects: Long, order: BlockOrder, mode: RetireMatch,
      fileSchemaHash: Option[String] = None)(
      rowsOf: Vector[Block] => DataFrame)
      : (Seq[PartitionRef], Seq[PartitionRef], Seq[PartitionRef]) = {
    val groups = groupBlocks(blocks, maxNbObjects, order)
    val ranges = groups.map(g => (g.map(_.insertMs).min, g.map(_.insertMs).max))
    val sameRun = ranges.toSet
    val (skippedG, todo) = groups.zip(ranges).zipWithIndex.partition { case ((g, (b, e)), _) =>
      fileSchemaHash.exists(h =>
        isPartUpToDate(spark, dir, b, e, order, h, g.map(_.nbObjects).sum))
    }
    val skipped = skippedG.map { case ((_, (b, e)), _) =>
      PartitionRef(s"$dir/insert=$b-$e-*", b, e)
    }
    val written = todo.map { case ((g, (b, e)), i) =>
      writePart(spark, rowsOf(g), dir, b, e, i,
        fileSchemaHash.map(h => (h, g.map(_.nbObjects).sum)))
    }
    val retired = todo.flatMap { case ((_, (b, e)), _) =>
      retireParts(spark, dir, b, e, mode, sameRun)
    }
    (written, retired.distinct, skipped)
  }

  /** Write-time batch guard — reference thread_spans_view.rs:131
    * `ensure_begin_non_decreasing`: a materialized span batch whose
    * `begin` column regresses (in the builder's emission order — here
    * the begin-event id, assigned in arrival order within a stream)
    * means the assembly or the time conversion corrupted the batch,
    * and the WRITE must fail loudly naming the stream and offending
    * row, never commit the partition. In-plan `assert_true` over a lag
    * window: zero extra pass (the window rides the writer's
    * per-stream sort), and the error carries the same diagnostic the
    * reference error!-logs.
    */
  def ensureBeginNonDecreasing(df: DataFrame, streamCol: String, idCol: String,
      beginCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(streamCol).orderBy(col(idCol))
    val prev = lag(col(beginCol), 1).over(w)
    df.withColumn("__bnd",
        assert_true(prev.isNull || col(beginCol) >= prev,
          concat(lit("ensure_begin_non_decreasing: stream "),
            col(streamCol).cast("string"), lit(": begin regressed at id "),
            col(idCol).cast("string"), lit(": "), col(beginCol).cast("string"),
            lit(" < "), prev.cast("string"))))
      .where(col("__bnd").isNull).drop("__bnd")
  }
}
