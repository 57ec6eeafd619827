package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a request, or a call into graft inside one.
  * Times are epoch microseconds; `parent` is 0 for a root span.
  */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, requestId: String)

/** Span recorder. A span opened inside another on the same thread
  * becomes its child and inherits its request id. When disabled it
  * only runs the body, so untraced runs pay nothing for it.
  */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)]
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // epoch-µs clock built on nanoTime, so span ends never run backwards
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()
  def nowUs(): Long = originUs + (System.nanoTime() - originNs) / 1000L

  def apply[T](name: String, requestId: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(current.get)
      val req = Option(requestId).orElse(parent.map(_._2)).getOrElse("")
      if (parent.isEmpty && req.nonEmpty) roots.putIfAbsent(req, id)
      current.set((id, req))
      val t0 = nowUs()
      try body
      finally {
        done.add(Span(id, name, t0, nowUs(), parent.map(_._1).getOrElse(0L), req))
        parent match {
          case Some(p) => current.set(p)
          case None => current.remove()
        }
      }
    }

  /** Record an interval measured elsewhere (a Spark job) under the
    * root span of its request.
    */
  def add(name: String, startUs: Long, endUs: Long, requestId: String): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), name, startUs, endUs,
      Option(roots.get(requestId)).map(_.longValue).getOrElse(0L), requestId))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  def durationsMs(name: String): Seq[Double] =
    done.asScala.iterator.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0).toSeq
}

/** Walks an executed physical plan through adaptive wrappers, query
  * stages, reused exchanges and subqueries, so the final plan's every
  * node is visited.
  */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** graft kernels, md5 and join nodes of a plan, by name: the
    * output-only work a `count()`-style action lets Catalyst prune.
    */
  def workSignature(p: SparkPlan): Map[String, Int] = {
    val ns = nodes(p)
    val exprs = ns.flatMap(_.expressions.flatMap(_.collect {
      case e if e.prettyName.startsWith("graft_") || e.prettyName == "md5" => e.prettyName
    }))
    val joins = ns.count(n => n.nodeName.contains("Join") || n.nodeName.contains("CartesianProduct"))
    (exprs.groupBy(identity).map { case (k, v) => k -> v.size } + ("join" -> joins))
      .filter(_._2 > 0)
  }

  /** Names in `reference` that `timed` has fewer of. */
  def missing(reference: Map[String, Int], timed: Map[String, Int]): Seq[String] =
    reference.collect { case (k, n) if timed.getOrElse(k, 0) < n => s"$k(${timed.getOrElse(k, 0)}<$n)" }
      .toSeq.sorted

  def filesRead(p: SparkPlan): Long =
    nodes(p).filter(_.nodeName.contains("Scan")).flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** Whether `qe` executed a write: a file-source insert (the parquet
    * write) or a v2 write (the noop sink) at its root.
    */
  def isWrite(qe: QueryExecution): Boolean =
    scala.util.Try(qe.executedPlan.nodeName).toOption.exists(n =>
      Seq("InsertIntoHadoopFsRelation", "OverwriteByExpression", "AppendData", "WriteToDataSourceV2")
        .exists(n.contains))
}

/** Every completed query execution on the session, in order, for the
  * plan-parity check and the planning-phase numbers.
  */
final class QueryLog extends QueryExecutionListener {
  val done = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Executions that completed so far, oldest first. */
  def drain(): Seq[QueryExecution] = {
    val buf = new java.util.ArrayList[QueryExecution]()
    done.drainTo(buf)
    buf.asScala.toSeq
  }
}

/** Spark execution totals over the traced window, from the scheduler's
  * own events.
  */
final class ExecStats extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  val recordsRead, bytesRead = new AtomicLong
  val peakExecMem = new AtomicLong
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  val jobSpans = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStarts.put(e.jobId, (e.time, group))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, g) => jobSpans.add((e.jobId, t0, e.time, g)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  /** Wall time inside [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Double = {
    val sorted = intervals.asScala.toSeq.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs - covered).toDouble
  }
}

/** The traced window's probes. `start` registers them; `stop` drains
  * the listener bus and unregisters. Numbers are window totals; the
  * workloads turn them into per-operation figures.
  */
final class Tracer(spark: SparkSession, val spans: Spans) {
  val exec = new ExecStats
  val plans = new QueryLog
  private val phaseMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  var files = 0L
  private var compileNs0 = 0L
  private var classes0 = 0L
  var compileMs = 0.0
  var classes = 0L
  var fromMs = 0L
  var toMs = 0L
  val rowsOut = new DoubleAdder

  def start(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    compileNs0 = CodeGenerator.compileTime
    classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    fromMs = System.currentTimeMillis()
  }

  def stop(): Unit = {
    toMs = System.currentTimeMillis()
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
    compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
    absorb(plans.drain())
    exec.jobSpans.asScala.foreach { case (id, a, b, g) => spans.add(s"spark.job.$id", a * 1000L, b * 1000L, g) }
  }

  /** Planning phases and scanned files of finished executions. */
  def absorb(qes: Seq[QueryExecution]): Unit = qes.foreach { qe =>
    qe.tracker.phases.foreach { case (ph, s) => phaseMs(ph) += s.durationMs }
    files += scala.util.Try(PlanWalk.filesRead(qe.executedPlan)).getOrElse(0L)
  }

  /** Phases of a DataFrame analyzed by its caller (Graft.query forces
    * analysis before the action's own execution starts).
    */
  def absorbAnalysis(qe: QueryExecution): Unit =
    qe.tracker.phases.get("analysis").foreach(s => phaseMs("analysis") += s.durationMs)

  def wallMs: Double = (toMs - fromMs).toDouble

  /** Per-layer numbers for a window of `ops` operations on `cores`. */
  def layer(ops: Int, cores: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val run = exec.runMs.get.toDouble
    Map(
      "plan.analysis_ms" -> phaseMs("analysis") / n,
      "plan.optimization_ms" -> phaseMs("optimization") / n,
      "plan.planning_ms" -> phaseMs("planning") / n,
      "plan.codegen_compile_ms" -> compileMs / n,
      "plan.codegen_classes" -> classes / n,
      "scan.rows_read" -> exec.recordsRead.get / n,
      "scan.bytes_read" -> exec.bytesRead.get / n,
      "scan.files_read" -> files / n,
      "scan.rows_read_per_row_out" ->
        (if (rowsOut.sum > 0) exec.recordsRead.get / rowsOut.sum else 0.0),
      "exec.jobs" -> exec.jobs.get / n,
      "exec.stages" -> exec.stages.get / n,
      "exec.tasks" -> exec.tasks.get / n,
      "exec.task_run_ms" -> run / n,
      "exec.task_cpu_ms" -> exec.cpuNs.get / 1e6 / n,
      "exec.gc_ms" -> exec.gcMs.get / n,
      "exec.shuffle_write_mb" -> exec.shuffleWrite.get / 1048576.0 / n,
      "exec.shuffle_read_mb" -> exec.shuffleRead.get / 1048576.0 / n,
      "exec.spill_mb" -> exec.spill.get / 1048576.0 / n,
      "exec.peak_exec_mem_mb" -> exec.peakExecMem.get / 1048576.0,
      "exec.sched_wait_ms" -> exec.idleMs(fromMs, toMs) / n,
      "exec.core_util" -> (if (wallMs > 0) run / (wallMs * cores) else 0.0))
  }
}
