package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming analog of the reference's live ETL: the maintenance daemon
  * folds incoming log blocks into per-minute log_stats partitions every
  * second (reference: rust/analytics/src/lakehouse/log_stats_view.rs,
  * batch_update.rs). On Spark this is Structured Streaming: watermarked
  * event-time windows with partial aggregation; late data beyond the
  * watermark is dropped exactly like a closed partition.
  */
object LogStatsStream {

  /** Per-minute per-severity counts over a (possibly streaming) events
    * frame with schema (ts timestamp, user_id, event_type, value).
    */
  def logStats(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val level = graft.Lakehouse.logLevel(col("event_type"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), level.as("level"))
      .agg(count(lit(1)).as("count"))
      .select(col("window.start").as("time_bin"), col("level"), col("count"))
  }

  /** Second-stage rollup: minute stats → hour stats, the merge-query
    * shape (reference merge.rs). Works on both static and streaming
    * inputs because it only re-aggregates the first stage's output.
    */
  def rollupToHour(minuteStats: DataFrame): DataFrame =
    minuteStats
      .groupBy(date_trunc("hour", col("time_bin")).as("time_bin"), col("level"))
      .agg(sum("count").as("count"))

  /** Streaming exact-dedup for a document ingest: drop payloads whose
    * content hash was already seen, with state bounded by the event-time
    * watermark (a bare dropDuplicates would grow state forever at
    * 100 TB). Duplicates arriving within the watermark window are
    * suppressed; a re-ingest after the watermark passes is treated as
    * new — the same closed-partition semantics as the batch dedup +
    * incremental materialization pair.
    */
  def dedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .drop("h") // internal dedup key — output keeps the input schema

  /** Streaming measures → per-minute histogram sketches. The histogram
    * UDAF is a TypedImperativeAggregate, i.e. a mergeable sketch:
    * partial histograms are built map-side per micro-batch and merged
    * into the windowed state, exactly the incremental-materialization
    * contract of the reference's histogram partitions
    * (rust/analytics histo queries over time bins).
    */
  /** Streaming approximate distinct users: per-minute HLL register
    * stream. Registers merge by MAX (monotone), so the windowed state
    * is 16 small ints per (window, name) — the same mergeable-sketch
    * contract as the histogram stream, and bit-identical to the batch
    * sketch over the same distinct ids (StreamingSpec pins this).
    * Finalize with [[graft.operators.Hll.estimate]] on the latest
    * register state.
    */
  def approxUsers(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 minute").as("w"), col("event_type"),
        graft.operators.Hll.idx(col("user_id")).as("idx"),
        graft.operators.Hll.rho(col("user_id")).as("rho"))
      .groupBy(col("w"), col("event_type"), col("idx"))
      .agg(max("rho").as("mrho"))
      .select(col("w.start").as("time_bin"), col("event_type"), col("idx"), col("mrho"))

  def measuresHistogram(events: DataFrame, start: Double, end: Double, nbBins: Int,
      watermark: String = "10 minutes"): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("event_type").as("name"))
      .agg(graft.functions.Histograms.makeHistogram(start, end, nbBins, col("value")).as("histo"))
      .select(col("window.start").as("time_bin"), col("name"), col("histo"))
  }
}
