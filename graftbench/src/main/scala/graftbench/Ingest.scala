package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Graft, Lakehouse}

/** Writes beside reads: seeded event batches appended to a
  * directory-backed copy of the sf0.1 events table through
  * `Graft.bulkIngest`, each followed by a read of the appended window
  * and an incremental `log_stats` materialization. Batches move forward
  * in time from the end of the lake and cross day boundaries.
  */
final class Ingest extends Workload {
  import Ingest._

  private var matDir: String = _
  private var nextBatch = 0
  // derived from the lake at set-up: batches follow its own event rate
  private var batchRows = 0
  private var firstBatchUs = 0L
  private var firstEventId = 0L

  def prepareLake(lakeRoot: String, work: String, setupIndex: Int): String = {
    matDir = s"$work/log_stats$setupIndex"
    Lakes.deleteTree(java.nio.file.Paths.get(matDir))
    Lakes.eventsLake(lakeRoot, s"$work/ingest_lake$setupIndex", copyEvents = true)
  }

  /** Views registered, the batch size and start read off the lake, and
    * the lake's history materialized once, so the window's updates
    * recompute only the open day onward.
    */
  def warm(ctx: Ctx): Unit = {
    val r = Graft.query(ctx.spark, ctx.lake,
      "SELECT count(*), min(time_ms), max(time_ms), max(event_id) FROM log_entries").head()
    val (n, firstMs, lastMs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // as many rows as the lake holds per BatchHours, on average
    batchRows = math.round(n.toDouble * BatchHours * 3600000L / (lastMs - firstMs)).toInt
    // from the midnight after the lake's last event
    firstBatchUs = (lastMs / 86400000L + 1) * 86400000000L
    firstEventId = r.getLong(3) + 1
    Graft.materializePartitions(ctx.spark, new Lakehouse(ctx.spark, ctx.lake).logStats, matDir)
    nextBatch = 0
  }

  def tailLevel: Double = 0.75

  def measure(ctx: Ctx, tracer: Option[Tracer], seconds: Double): Outcome = {
    if (nextBatch == 0) {
      // one untimed cycle, so the window's first append is not the
      // session's first
      cycle(ctx, 0, new scala.util.Random(ctx.seed), None).failure
        .foreach(f => throw new IllegalStateException(s"ingest warm-up: $f"))
      nextBatch = 1
    }
    val rng = new scala.util.Random(ctx.seed * 104729 + nextBatch)
    val bytes0 = Lakes.bytes(s"${ctx.lake}/events.parquet") + Lakes.bytes(matDir)
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()
    // whole cycles only, as many as fit the window (at least one)
    def fits = cycles.isEmpty || (System.nanoTime() - t0) / 1e9 + cycles.last.cycleMs / 1000 <= seconds
    while (fits) {
      cycles += cycle(ctx, nextBatch, rng, tracer)
      nextBatch += 1
    }
    tracer.foreach(_.stop())
    val bytesAdded = Lakes.bytes(s"${ctx.lake}/events.parquet") + Lakes.bytes(matDir) - bytes0
    val rows = cycles.map(_.rows).sum.toDouble
    val wallS = cycles.map(_.cycleMs).sum / 1000
    val failures = cycles.flatMap(_.failure).toSeq
    val layer = tracer.map { t =>
      t.layer(cycles.size, ctx.cpus) ++ Map(
        "graft.query_ms" -> Stats.median(ctx.spans.durationsMs("graft.query")),
        "graft.bulk_ingest_ms" -> Stats.median(ctx.spans.durationsMs("graft.bulk_ingest")),
        "materialize.update_ms" -> Stats.median(cycles.map(_.materializeMs).toSeq),
        "materialize.days_recomputed" -> cycles.map(_.days.toDouble).sum / cycles.size,
        "materialize.rows_written" -> cycles.map(_.written.toDouble).sum / cycles.size,
        "materialize.bytes_written" -> cycles.map(_.matBytes.toDouble).sum / cycles.size,
        "ingest.rows_per_s" -> rows / wallS,
        "ingest.stored_bytes_per_row" -> bytesAdded / rows)
    }.getOrElse(Map.empty)
    Outcome(
      attempted = cycles.size,
      failed = failures.size,
      latMs = cycles.map(_.visibleMs).toSeq,
      passS = Stats.median(cycles.map(_.cycleMs / 1000).toSeq),
      qps = cycles.size / wallS,
      info = Map(
        "batches" -> cycles.size,
        "rows_per_batch" -> batchRows,
        "cycles" -> cycles.map(c => Map("visible_ms" -> c.visibleMs, "cycle_ms" -> c.cycleMs)),
        "ingest_rows_per_s" -> rows / wallS,
        "stored_bytes_per_row" -> bytesAdded / rows,
        "failures" -> failures),
      layer = layer)
  }

  /** Append one batch, read it back over its window, materialize. */
  private def cycle(ctx: Ctx, b: Int, rng: scala.util.Random, tracer: Option[Tracer]): Cycle = {
    val reqId = s"ingest-$b"
    val (batch, ids, beginUs, endUs) = generate(ctx, b, rng)
    ctx.inGroup(reqId)(ctx.spans("ingest.batch", reqId) {
      val t0 = System.nanoTime()
      val n = ctx.spans("graft.bulk_ingest")(Graft.bulkIngest(ctx.spark, ctx.lake, "events", batch))
      val seen = ctx.spans("graft.query")(Graft.query(ctx.spark, ctx.lake,
        "SELECT event_id FROM log_entries ORDER BY event_id", Some(beginUs), Some(endUs)))
        .collect().map(_.getLong(0))
      val t1 = System.nanoTime()
      tracer.foreach(_.rowsOut.add(seen.length.toDouble))
      val mat0 = Lakes.bytes(matDir)
      val stats = ctx.spans("materialize")(Graft.materializePartitions(ctx.spark,
        new Lakehouse(ctx.spark, ctx.lake).logStats, matDir))
      val t2 = System.nanoTime()
      val failure =
        if (n != batchRows) Some(s"batch $b: ingested $n of $batchRows rows")
        else if (!seen.sameElements(ids)) Some(s"batch $b: read back ${seen.length} rows, not the ${ids.length} appended")
        else None
      Cycle(n, (t1 - t0) / 1e6, (t2 - t0) / 1e6, (t2 - t1) / 1e6,
        stats.daysRecomputed, stats.rowsWritten, math.max(0L, Lakes.bytes(matDir) - mat0), failure)
    })
  }

  /** Batch `b`: `batchRows` events spread over its BatchHours window,
    * after every earlier batch and after the lake's last event.
    */
  private def generate(ctx: Ctx, b: Int, rng: scala.util.Random): (DataFrame, Array[Long], Long, Long) = {
    val beginUs = firstBatchUs + b * BatchHours * 3600000000L
    val endUs = beginUs + BatchHours * 3600000000L
    val ids = Array.tabulate(batchRows)(i => firstEventId + b.toLong * batchRows + i)
    val rows = ids.map { id =>
      val us = beginUs + (rng.nextDouble() * (endUs - beginUs - 1)).toLong
      val ts = LocalDateTime.ofEpochSecond(us / 1000000L, ((us % 1000000L) * 1000).toInt, ZoneOffset.UTC)
      Row(id, ts, rng.nextInt(1500).toLong, EventTypes(rng.nextInt(EventTypes.size)),
        math.round(rng.nextDouble() * 10000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    (ctx.spark.createDataFrame(rows.toSeq.asJava, EventSchema), ids, beginUs, endUs)
  }

  /** The materialized log_stats counts, per day, must equal a recount
    * of the lake's events. (Each batch's read-back of exactly the rows
    * it appended is checked in the window, as part of the operation.)
    */
  def check(ctx: Ctx): Seq[String] = {
    val mat = ctx.spark.read.parquet(matDir).groupBy(col("date").cast("string").as("day"))
      .agg(sum("count").cast("long").as("n"))
    val recount = graft.Tables.df(ctx.spark, ctx.lake, "events")
      .groupBy(to_date(col("ts")).cast("string").as("day")).agg(count(lit(1)).as("n"))
    val a = mat.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = recount.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val diff = (a.keySet ++ b.keySet).toSeq.sorted.filter(d => a.get(d) != b.get(d))
    if (diff.isEmpty) Nil
    else Seq(s"ingest: log_stats differs from a recount on ${diff.size} days, first ${diff.head}: " +
         s"${a.get(diff.head)} vs ${b.get(diff.head)}")
  }
}

object Ingest {
  private final case class Cycle(rows: Long, visibleMs: Double, cycleMs: Double,
      materializeMs: Double, days: Long, written: Long, matBytes: Long, failure: Option[String])

  /** Each batch covers 8 hours, so every third batch opens a new day
    * and a 10 s window (three batches or so) crosses a day boundary.
    */
  val BatchHours = 8L
  val EventTypes: Seq[String] = Seq("click", "view", "signup", "purchase", "error")
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
}
