package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL front door mirroring the reference client API
  * (python/micromegas: client.query(sql, begin, end)): registers the
  * lakehouse views + raw tables for the session, applies the optional
  * query time range through [[graft.plans.TimeRangeRewrite]], and runs
  * the SQL. Range scoping is an analyzer rewrite, so it reaches every
  * scan in the query — including subqueries — and pushes into parquet.
  */
object Graft {

  /** Register raw tables and lakehouse views as temp views. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Tables.all.foreach(n => Tables.df(spark, dir, n).createOrReplaceTempView(n))
    val lk = new Lakehouse(spark, dir)
    lk.logEntries.createOrReplaceTempView("log_entries")
    lk.measures.createOrReplaceTempView("measures")
    lk.logStats.createOrReplaceTempView("log_stats")
    lk.threadSpans.createOrReplaceTempView("thread_spans")
    lk.otelSpans.createOrReplaceTempView("otel_spans")
    lk.asyncEvents.createOrReplaceTempView("async_events")
    lk.processes.createOrReplaceTempView("processes")
    lk.streams.createOrReplaceTempView("streams")
    lk.blocks.createOrReplaceTempView("blocks")
    // `images` is deliberately NOT registered globally: the reference's
    // ImagesView is instance-only (images_view.rs) — use
    // Lakehouse.viewInstance("images", processId).
  }

  // session → dir whose views are currently registered. Weak keys so a
  // dead session's entry can't be inherited by a new session reusing
  // its address (an identityHashCode key would allow exactly that),
  // and so the map can't grow past live sessions. A dir CHANGE on the
  // same session re-registers — the temp views are session-global, so
  // serving dirA results from a dirB registration would be silent
  // corruption. Registration itself runs outside the lock: it is
  // idempotent (createOrReplaceTempView), and ranges travel via
  // thread-locals so a sibling's range can't poison it.
  private val viewsReady = new java.util.WeakHashMap[SparkSession, String]()

  /** Force re-registration on next query() — call after external
    * writers add files beneath `dir` (the memoized temp views hold the
    * file listing from registration time). The table schema memo
    * ([[Tables.schemaOf]]) needs no refresh: it is keyed on the file
    * listing itself, so re-registration re-infers exactly the tables
    * whose files changed.
    */
  def refreshViews(spark: SparkSession): Unit =
    viewsReady.synchronized { viewsReady.remove(spark) }

  /** The lake dir this session's views are registered for — the
    * session-scoped resolution context the `view_instance` table
    * function (ReferenceNames) binds instances against.
    */
  private[graft] def registeredDir(spark: SparkSession): Option[String] =
    viewsReady.synchronized { Option(viewsReady.get(spark)) }

  private def ensureViews(spark: SparkSession, dir: String): Unit = {
    functions.GraftExtensions.requireInstalled(spark)
    // per-session monitor: the session's temp-view namespace is the
    // resource being mutated, so same-session registrations (possibly
    // for DIFFERENT dirs — interleaving those would leave a mixed-lake
    // registration recorded as one dir) serialize, while unrelated
    // sessions never contend
    spark.synchronized {
      val ok = viewsReady.synchronized { viewsReady.get(spark) == dir }
      if (!ok) {
        registerViews(spark, dir)
        viewsReady.synchronized { viewsReady.put(spark, dir) }
      }
    }
  }

  /** client.query(sql, begin, end) analog. Timestamps are epoch
    * microseconds UTC; either bound may be omitted.
    */
  def query(spark: SparkSession, dir: String, sql: String,
      beginMicros: Option[Long] = None, endMicros: Option[Long] = None): DataFrame = {
    ensureViews(spark, dir)
    analyzedInRange(beginMicros, endMicros)(spark.sql(sql))
  }

  /** Builds `df` with `[beginMicros, endMicros)` in scope and forces
    * its analysis there. The range travels to the analyzer rule through
    * a THREAD-LOCAL ([[graft.plans.QueryRange]]), its only channel:
    * Spark re-runs the analyzer whenever a derived Dataset is built
    * (head() wraps the plan in a limit, count() in an aggregate, ...),
    * on whatever thread does it — session-conf state at those moments
    * belongs to whoever queries concurrently, and no lock around the
    * original analysis can cover the later re-analyses. With a
    * thread-local, only this thread inside `within` sees the range;
    * re-analyses elsewhere see none, and the rewrite's structural
    * idempotency keeps the already-injected filter intact. Spark 4
    * analyzes lazily (QueryExecution.lazyAnalyzed), hence the forced
    * analysis while the thread-local is still set.
    */
  private def analyzedInRange(beginMicros: Option[Long],
      endMicros: Option[Long])(df: => DataFrame): DataFrame =
    plans.QueryRange.within(beginMicros, endMicros) {
      val d = df
      d.queryExecution.analyzed
      d
    }

  /** Streaming read of a query result — the reference client's
    * `query_stream` (python/micromegas/micromegas/flightsql/
    * client.py:371: Arrow record batches for larger-than-driver-memory
    * reads; its `query` docstring points large result sets here). The
    * Spark analog: `toLocalIterator` pulls ONE PARTITION at a time to
    * the driver, so peak driver memory is a partition, not the result;
    * consumption starts as soon as the first partition lands, and the
    * record-batch granularity is `batchRows`. Same begin/end
    * partition-pruning semantics as [[query]] (the range is applied at
    * analysis time, before the first fetch).
    */
  def queryStream(spark: SparkSession, dir: String, sql: String,
      beginMicros: Option[Long] = None, endMicros: Option[Long] = None,
      batchRows: Int = 4096): Iterator[Seq[org.apache.spark.sql.Row]] = {
    require(batchRows > 0, s"batchRows must be positive: $batchRows")
    import scala.jdk.CollectionConverters._
    query(spark, dir, sql, beginMicros, endMicros)
      .toLocalIterator().asScala.grouped(batchRows)
  }

  /** prepare_statement / prepared_statement_stream analog (reference:
    * python/micromegas/micromegas/flightsql/client.py:456,500). Parse
    * and fully validate ONCE — unresolved views, bad columns, syntax
    * errors all surface at prepare time, like the server-side prepare
    * — then re-execute the SAME parsed tree under per-run time ranges.
    * Each run re-analyzes (the range filter is an analyzer rule bound
    * through a thread-local, and logical plans are immutable, so runs
    * can't contaminate each other or the prepared tree).
    */
  final class PreparedQuery private[Graft] (spark: SparkSession, sql: String) {
    private val parsed = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sql)
    // prepare-time validation: full analysis with no range bound
    org.apache.spark.sql.graftshim.Shim.ofRows(spark, parsed).queryExecution.analyzed

    def run(beginMicros: Option[Long] = None,
        endMicros: Option[Long] = None): DataFrame = {
      analyzedInRange(beginMicros, endMicros)(
        org.apache.spark.sql.graftshim.Shim.ofRows(spark, parsed))
    }

    /** The prepared_statement_stream shape: batched partition-at-a-time
      * read of a prepared query's result.
      */
    def stream(beginMicros: Option[Long] = None, endMicros: Option[Long] = None,
        batchRows: Int = 4096): Iterator[Seq[org.apache.spark.sql.Row]] = {
      require(batchRows > 0, s"batchRows must be positive: $batchRows")
      import scala.jdk.CollectionConverters._
      run(beginMicros, endMicros).toLocalIterator().asScala.grouped(batchRows)
    }
  }

  def prepareStatement(spark: SparkSession, dir: String, sql: String): PreparedQuery = {
    ensureViews(spark, dir)
    new PreparedQuery(spark, sql)
  }

  // -----------------------------------------------------------------
  // convenience API mirroring the reference Python client
  // (python/micromegas/micromegas/flightsql/client.py: find_process,
  // query_streams, query_blocks, query_spans; perfetto.py:
  // write_process_trace). Like the reference, each helper just
  // formats SQL against the registered views and routes through
  // query(), so the begin/end range scoping applies identically.
  // -----------------------------------------------------------------

  /** Quote a SQL string literal. Backslash must be escaped too:
    * Spark's default parser treats `\` as an escape inside literals,
    * so quote-doubling alone would let `x\' OR 1=1 -- ` re-open the
    * literal and inject.
    */
  private def sq(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** Human-readable time-delta strings — the Python client's
    * `micromegas.time.parse_time_delta` (python/micromegas/micromegas/
    * time.py:97): "<positive integer><unit>" with unit m(inutes),
    * h(ours) or d(ays). Rejects anything else with
    * IllegalArgumentException — including oversized counts that would
    * overflow (the reference's distinct OverflowError case) and
    * trailing whitespace/newlines (a full-string match, not `$`,
    * which in Java regex would accept a final line terminator).
    */
  def parseTimeDelta(s: String): java.time.Duration =
    s match {
      case timeDeltaRe(num, unit) =>
        try {
          val n = num.toLong
          unit match {
            case "m" => java.time.Duration.ofMinutes(n)
            case "h" => java.time.Duration.ofHours(n)
            case _ => java.time.Duration.ofDays(n)
          }
        } catch {
          case e @ (_: ArithmeticException | _: NumberFormatException) =>
            throw new IllegalArgumentException(
              s"time delta '$s' too large: ${e.getMessage}")
        }
      case _ => throw new IllegalArgumentException(
        s"invalid time delta '$s': expected <number><unit> with unit m, h or d")
    }

  private val timeDeltaRe = "(\\d+)([mhd])".r

  /** (begin, end) query-range micros for "the last `delta` before
    * `endMicros`" — the client-side convenience the reference composes
    * from parse_time_delta (`now - parse_time_delta('1h')`). The
    * anchor is explicit, never wall-clock, so results are
    * reproducible. Micros conversion and subtraction are
    * overflow-checked: a parseable-but-huge delta must fail loudly,
    * never wrap into an inverted garbage range.
    */
  def rangeEndingAt(endMicros: Long, delta: String): (Long, Long) = {
    val d = parseTimeDelta(delta)
    try {
      val micros = Math.multiplyExact(d.toMillis, 1000L)
      (Math.subtractExact(endMicros, micros), endMicros)
    } catch {
      case e: ArithmeticException =>
        throw new IllegalArgumentException(s"delta '$delta' overflows the query range: ${e.getMessage}")
    }
  }

  /** find_process(process_id) analog. */
  def findProcess(spark: SparkSession, dir: String, processId: String): DataFrame =
    query(spark, dir,
      s"SELECT * FROM processes WHERE process_id = ${sq(processId)} LIMIT 1")

  /** query_streams(begin, end, limit, process_id, tag_filter) analog. */
  def queryStreams(spark: SparkSession, dir: String, limit: Int,
      processId: Option[String] = None, tagFilter: Option[String] = None,
      beginMicros: Option[Long] = None, endMicros: Option[Long] = None): DataFrame = {
    val conds = processId.map(p => s"process_id = ${sq(p)}").toSeq ++
      tagFilter.map(t => s"tag = ${sq(t)}").toSeq
    val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", " ")
    query(spark, dir,
      s"SELECT * FROM streams ${where}ORDER BY process_id, tag LIMIT $limit",
      beginMicros, endMicros)
  }

  /** query_blocks(begin, end, limit, stream_id) analog; a stream here
    * is identified by its (process_id, tag) pair.
    */
  def queryBlocks(spark: SparkSession, dir: String, limit: Int,
      processId: String, tag: String,
      beginMicros: Option[Long] = None, endMicros: Option[Long] = None): DataFrame =
    query(spark, dir,
      s"SELECT * FROM blocks WHERE process_id = ${sq(processId)} AND stream_tag = ${sq(tag)} " +
        s"ORDER BY block_start_ms LIMIT $limit",
      beginMicros, endMicros)

  /** query_spans(begin, end, limit, stream_id) analog. The process
    * filter goes into the SQL over the registered global view (it
    * pushes to the scan exactly like viewInstance's JIT filter does);
    * registering a per-call temp view instead would race concurrent
    * callers on the session's shared view namespace.
    */
  def querySpans(spark: SparkSession, dir: String, limit: Int, processId: String,
      beginMicros: Option[Long] = None, endMicros: Option[Long] = None): DataFrame =
    query(spark, dir,
      s"SELECT * FROM thread_spans WHERE process_id = ${sq(processId)} " +
        s"ORDER BY begin_ms, event_id LIMIT $limit",
      beginMicros, endMicros)

  /** bulk_ingest analog (python/micromegas/micromegas/flightsql/
    * client.py:533): append client-provided rows to a lake table. The
    * reference validates the record batches against the replication
    * table's schema server-side and appends; here the schema gate is
    * exact StructType equality against the existing table (names,
    * types, order — a silently-coerced append would corrupt every
    * downstream oracle), the write is a parquet append, and the
    * session's registered views are refreshed so the new rows are
    * queryable immediately. Returns rows ingested.
    */
  def bulkIngest(spark: SparkSession, dir: String, tableName: String,
      rows: org.apache.spark.sql.DataFrame): Long = {
    require(tableName.matches("[A-Za-z0-9_]+"), s"invalid table name: $tableName")
    val path = s"$dir/$tableName.parquet"
    val (fs, target) = operators.LakeFs(spark, path)
    if (fs.exists(target)) {
      require(fs.getFileStatus(target).isDirectory,
        s"$path is a single-file table (read-only source data); bulk ingest " +
          "targets directory-backed lake tables")
      // keyed on the current listing: an external rewrite re-infers
      val existing = Tables.schemaOf(spark, path)
      // names, types and ORDER must match; nullability deliberately
      // excluded — parquet round-trips every column nullable, so a
      // fresh batch's non-null primitives would never append otherwise
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.toSeq.map(f => (f.name, f.dataType))
      require(shape(existing) == shape(rows.schema),
        s"schema mismatch for $tableName: table has $existing, batch has ${rows.schema}")
    }
    val n = rows.count()
    rows.write.mode("append").parquet(path)
    refreshViews(spark)
    n
  }

  /** Admin RPC analogs, 1:1 with the Python client surface
    * (client.py:607 retire_partitions, :660 materialize_partitions,
    * :716 regenerate_partitions) — thin client-side names over the
    * engine's Materialize operator, which owns the semantics
    * (closed-day immutability, atomic open-day swap, directory-level
    * retirement).
    */
  def retirePartitions(spark: SparkSession, outDir: String, beforeDate: String)
      : operators.Materialize.RetireStats =
    operators.Materialize.retireByDay(spark, outDir, beforeDate)

  def materializePartitions(spark: SparkSession, stats: DataFrame, outDir: String)
      : operators.Materialize.UpdateStats =
    operators.Materialize.updateByDay(spark, stats, outDir)

  def regeneratePartitions(spark: SparkSession, stats: DataFrame, outDir: String,
      day: String): Long =
    operators.Materialize.regenerateDay(spark, stats, outDir, day)

  /** write_process_trace analog (python/micromegas/micromegas/
    * perfetto.py): generate one process's Perfetto trace chunks and
    * concatenate them into a local .perfetto-trace file — the
    * client-download step, so the file write is deliberately
    * driver-side. Returns (chunks, bytes) written.
    */
  def writeProcessTrace(spark: SparkSession, dir: String, processKey: Long,
      path: String): (Int, Long) = {
    import org.apache.spark.sql.functions._
    // the same span derivations the distributed m_perfetto_* queries
    // use — the process filter pushes through them to the scan
    val thread = Lakehouse.perfettoThreadSpans(spark, dir)
      .where(col("user_id") === processKey)
    val async = Lakehouse.perfettoAsyncSpans(spark, dir)
      .where(col("user_id") === processKey)
    val chunks = operators.Perfetto.traceChunksDf(spark, thread, "user_id", Some(async))
      .orderBy("chunk_id")
      .select("chunk_data")
      .collect()
      .map(_.getAs[Array[Byte]]("chunk_data"))
    val out = new java.io.FileOutputStream(path)
    try chunks.foreach(out.write) finally out.close()
    (chunks.length, chunks.map(_.length.toLong).sum)
  }
}
