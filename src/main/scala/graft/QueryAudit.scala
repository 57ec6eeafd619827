package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query audit log + error classification — the Spark analog of
  * the reference's FlightSQL query audit
  * (`rust/public/src/servers/query_audit.rs:80` QueryAuditRecord:
  * query_id / sql / timings / status / error_class, #1406's
  * peak_memory_bytes, spilled_bytes, spill_count) and of its error
  * taxonomy (`rust/public/src/servers/flight_sql_service_impl.rs:96`
  * classify_datafusion_error: caller mistakes → InvalidArgument,
  * budget overruns → ResourceExhausted, missing features →
  * Unimplemented, genuine bugs → Internal).
  *
  * Spark-first mapping, not a port:
  *  - the reference wraps each query in a `ScopedMemoryPool`
  *    (`rust/analytics/src/lakehouse/scoped_memory_pool.rs`) to get a
  *    per-query high-water mark; Spark already maintains per-operator
  *    `peakMemory` / `spillSize` SQLMetrics inside Tungsten's memory
  *    manager, so the audit SUMS those off the executed physical plan
  *    instead of layering a second accounting — the numbers come from
  *    the same task-memory-manager reservations a cluster UI shows.
  *  - the reference's audit sink is a log stream; here the record
  *    buffer is a bounded ring (oldest dropped) queryable as a
  *    DataFrame, so the audit log itself is SQL-visible the way
  *    `flightsql_query_audit` is.
  *  - classification walks the Spark exception chain to its ROOT
  *    (`DataFusionError::find_root` analog) so a user error wrapped in
  *    a SparkException at execution time still classifies "user".
  *
  * Counter semantics follow #1435: `queryFailed` fires ONLY for
  * `error_class == "internal"` (a genuine service failure);
  * `queryFailedUser` / `queryFailedResource` keep visibility into the
  * other classes without folding them into the service-failure signal.
  */
object QueryAudit {

  /** One completed (or failed) query execution. `errorMessage` is the
    * CLIENT-safe message — for internal errors it names only the
    * query id, never the cause chain or plan (the reference caps and
    * server-logs the plan; `planText` is that server-side field).
    */
  final case class Record(
      query_id: Long,
      func_name: String,
      status: String, // "ok" | "error"
      error_class: String, // "" | "user" | "resource" | "internal"
      error_message: String,
      duration_ms: Double,
      rows_out: Long, // -1 when the root operator exposes no row metric
      peak_memory_bytes: Long,
      spilled_bytes: Long,
      spill_count: Long, // operators that spilled (MetricsSet::spill_count analog)
      plan_text: String)

  /** gRPC-code analog for a throwable, reference
    * `classify_datafusion_error`: walk to the root cause, then map
    * caller mistakes (parse / analysis: unknown column or function,
    * type mismatch, bad argument) → "invalid_argument"; memory /
    * budget exhaustion → "resource_exhausted"; unimplemented features
    * → "unimplemented"; everything else → "internal".
    */
  def classifyCode(e: Throwable): String = {
    // a SpillBudget job cancellation surfaces as a SparkException
    // carrying the cancel reason somewhere in the chain (scheduler
    // wrapping varies) — the DataFusion ResourcesExhausted the
    // reference's temp-directory cap raises
    var c: Throwable = e
    while (c != null) {
      if (c.getMessage != null && c.getMessage.contains(SpillBudget.CancelReason)) {
        return "resource_exhausted"
      }
      c = if (c.getCause eq c) null else c.getCause
    }
    val root = rootCause(e)
    root match {
      case _: ParseException => "invalid_argument"
      case _: org.apache.spark.sql.AnalysisException => "invalid_argument"
      case _: NumberFormatException | _: IllegalArgumentException => "invalid_argument"
      case _: org.apache.spark.memory.SparkOutOfMemoryError => "resource_exhausted"
      case _: OutOfMemoryError => "resource_exhausted"
      case _: UnsupportedOperationException => "unimplemented"
      case o if o.getClass.getSimpleName == "SparkUnsupportedOperationException" =>
        "unimplemented"
      case _ => "internal"
    }
  }

  /** Error CLASS for audit/counters, reference
    * `flight_sql_service_impl.rs:115`: invalid_argument and
    * unimplemented are the caller's ("user"), resource_exhausted is
    * "resource", internal stays "internal".
    */
  def errorClass(e: Throwable): String = classifyCode(e) match {
    case "invalid_argument" | "unimplemented" => "user"
    case "resource_exhausted" => "resource"
    case _ => "internal"
  }

  @annotation.tailrec
  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else rootCause(e.getCause)

  /** Client-facing message. User/resource errors keep the engine's
    * own message (that's the actionable part — for analysis errors
    * Spark already embeds the line/column pointer the reference added
    * via `collect_spans`); internal errors leak nothing but the query
    * id — the full cause and capped plan go to the server-side record.
    */
  def clientMessage(e: Throwable, queryId: Long): String = errorClass(e) match {
    case "internal" => s"internal error while executing query (query_id=$queryId)"
    case _ =>
      val m = rootCause(e).getMessage
      s"[query_id=$queryId] ${if (m == null) rootCause(e).getClass.getSimpleName else m}"
  }

  /** Raised to the caller by [[Audited.query]]; carries the id that
    * correlates the client message with the audit record and any
    * server log line (the reference greps `query_id`).
    */
  final class GraftQueryException(val queryId: Long, val errorClass: String,
      message: String, cause: Throwable) extends RuntimeException(message, cause)

  // ------------------------------------------------------------------
  // metric extraction from the executed physical plan
  // ------------------------------------------------------------------

  /** Post-execution walk of the physical plan (through AQE's final
    * plan and into subquery plans), summing Tungsten's per-operator
    * metrics. Metric KEYS, not display names: `peakMemory` and
    * `spillSize` are the internal keys HashAggregate / Sort /
    * SortMergeJoin / Window register. The reference's
    * `MetricsSet::spill_count` analog counts operators that actually
    * spilled — Spark has no cross-operator spill-event counter, and a
    * per-operator "did it spill" count is the actionable unit here.
    */
  def planMetrics(plan: SparkPlan): (Long, Long, Long) = {
    var peak = 0L; var spilled = 0L; var spillOps = 0L
    walk(plan) { node =>
      node.metrics.get("peakMemory").foreach(m => peak += math.max(0L, m.value))
      node.metrics.get("spillSize").foreach { m =>
        if (m.value > 0) { spilled += m.value; spillOps += 1 }
      }
    }
    (peak, spilled, spillOps)
  }

  /** Pre-order walk that pierces the AQE wrappers — both
    * `AdaptiveSparkPlanExec` (→ final plan) and `QueryStageExec`
    * (LEAF nodes whose materialized subtree hangs off `.plan`, so a
    * plain TreeNode traversal never sees any stage's operators) — and
    * descends into subquery plans.
    */
  private[graft] def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case node =>
      f(node)
      node.subqueries.foreach(walk(_)(f))
      node.children.foreach(walk(_)(f))
  }

  /** The top-most operator exposing a row-count metric; -1 when none
    * does (e.g. a bare command). NOTE: SQLMetrics are cumulative over
    * every execution of the operator, so under AQE stage re-use /
    * re-execution this can exceed the result cardinality — it is an
    * operator throughput metric (what the reference's ScanMetrics also
    * reports), not an exact result-row count.
    */
  private def rowsOut(plan: SparkPlan): Long = {
    var rows = -1L
    walk(plan) { node =>
      if (rows < 0) rows = node.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    }
    rows
  }

  /** Attach an audit to a session. One instance per attach; records
    * every subsequent Dataset ACTION on the session (Spark fires
    * QueryExecutionListener on the listener bus, so records land
    * asynchronously — [[Audited.awaitQuiesce]] for tests/clients that
    * need read-your-writes).
    */
  def attach(spark: SparkSession, maxRecords: Int = 1024): Audited = {
    val a = new Audited(spark, maxRecords)
    spark.listenerManager.register(a.listener)
    a
  }

  final class Audited private[QueryAudit] (spark: SparkSession, maxRecords: Int) {
    require(maxRecords > 0, s"maxRecords must be positive: $maxRecords")
    private val idGen = new AtomicLong(0L)
    private val buf = new ConcurrentLinkedQueue[Record]()
    private val size = new AtomicLong(0L)
    // highest query_id PUSHED (monotonic, survives ring eviction) —
    // the quiesce signal; the ring size cannot serve that role, it is
    // capped at maxRecords while ids grow without bound
    private val highWaterId = new AtomicLong(0L)

    /** #1435 counter split: internal-only failures... */
    val queryFailed = new AtomicLong(0L)
    /** ...vs caller mistakes and budget overruns (count-only). */
    val queryFailedUser = new AtomicLong(0L)
    val queryFailedResource = new AtomicLong(0L)
    /** query_peak_memory_bytes metric: high-water mark over all
      * audited queries (emitted from every terminal path in the
      * reference; here the running max is the queryable surface).
      */
    val peakMemoryHighWater = new AtomicLong(0L)

    private def push(r: Record): Unit = {
      buf.add(r)
      var hw = highWaterId.get()
      while (r.query_id > hw && !highWaterId.compareAndSet(hw, r.query_id)) {
        hw = highWaterId.get()
      }
      // bounded ring: the audit can outlive millions of queries on a
      // long-lived session without growing the driver heap
      if (size.incrementAndGet() > maxRecords) { buf.poll(); size.decrementAndGet() }
      var cur = peakMemoryHighWater.get()
      while (r.peak_memory_bytes > cur &&
        !peakMemoryHighWater.compareAndSet(cur, r.peak_memory_bytes)) {
        cur = peakMemoryHighWater.get()
      }
    }

    private def bumpCounters(cls: String): Unit = cls match {
      case "user" => queryFailedUser.incrementAndGet()
      case "resource" => queryFailedResource.incrementAndGet()
      case _ => queryFailed.incrementAndGet()
    }

    private[QueryAudit] val listener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val (peak, spilled, spillOps) = planMetrics(qe.executedPlan)
        push(Record(idGen.incrementAndGet(), funcName, "ok", "", "",
          durationNs / 1e6, rowsOut(qe.executedPlan), peak, spilled, spillOps,
          capPlan(qe.executedPlan.toString)))
      }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = {
        // Spark 4 fires onFailure(func="analyze") for ANALYSIS-time
        // failures too; those are recorded synchronously by
        // [[Audited.query]] (the execute_query-style front door, which
        // needs the minted id inside the thrown client message) —
        // recording them here as well would double-count. Execution
        // failures (collect/count/write) only ever surface here.
        if (funcName == "analyze") return
        val id = idGen.incrementAndGet()
        val cls = QueryAudit.errorClass(error)
        bumpCounters(cls)
        // metrics remain valid on the error path (#1406: the high-water
        // mark is valid even on error/incomplete records); a failed
        // execution's plan may itself refuse to render, hence the Trys
        val (peak, spilled, spillOps) =
          scala.util.Try(planMetrics(qe.executedPlan)).getOrElse((0L, 0L, 0L))
        val planTxt = scala.util.Try(capPlan(qe.executedPlan.toString)).getOrElse("")
        push(Record(id, funcName, "error", cls, clientMessage(error, id),
          0.0, -1L, peak, spilled, spillOps, planTxt))
      }
    }

    /** Plan-time guarded front door: parse/analysis failures never
      * reach the execution listener (nothing executed), so the audited
      * query() classifies and records them here — every terminal path
      * produces a record, like the reference's `execute_query`.
      */
    def query(dir: String, sql: String, beginMicros: Option[Long] = None,
        endMicros: Option[Long] = None): DataFrame =
      try Graft.query(spark, dir, sql, beginMicros, endMicros)
      catch {
        case e: Exception =>
          val id = idGen.incrementAndGet()
          val cls = QueryAudit.errorClass(e)
          bumpCounters(cls)
          push(Record(id, "plan", "error", cls, clientMessage(e, id), 0.0,
            -1L, 0L, 0L, 0L, ""))
          throw new GraftQueryException(id, cls, clientMessage(e, id), e)
      }

    /** The audit log as a DataFrame — `flightsql_query_audit` as a
      * queryable table.
      */
    def records(): DataFrame = {
      val snap = buf.asScala.toSeq
      spark.createDataFrame(snap)
    }

    /** Raw snapshot for driver-side consumers (the Verify resource
      * profile) that shouldn't pay a Spark job per read.
      */
    def recordsRaw(): Seq[Record] = buf.asScala.toSeq

    /** Listener-bus dispatch is async; tests and read-your-writes
      * clients drain the bus, after which a record with query_id ≥ `n`
      * must have landed (ids are monotonic and survive ring eviction,
      * so this works regardless of maxRecords).
      */
    def awaitQuiesce(n: Long): Unit = {
      Shim.drainListenerBus(spark)
      require(highWaterId.get() >= n,
        s"audit quiesce: high-water id ${highWaterId.get()} < $n after draining the listener bus")
    }

    def recordCount: Long = size.get()

    def detach(): Unit = spark.listenerManager.unregister(listener)
  }

  /** The reference caps the server-logged plan text so one degenerate
    * plan can't flood the log.
    */
  private val PlanCap = 8192
  private def capPlan(s: String): String =
    if (s.length <= PlanCap) s else s.substring(0, PlanCap) + "…[capped]"
}
