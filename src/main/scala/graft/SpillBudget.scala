package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Process-wide spill budget — the Spark analog of the reference's
  * `MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB` (CHANGELOG.md:11,
  * `mkdocs/docs/admin/flight-sql.md:34`): a cap on total spill-file
  * bytes across ALL concurrent queries, where exceeding the cap fails
  * whichever query's spill pushes past it — not necessarily the query
  * that consumed most of the budget.
  *
  * Spark-first mapping, not a port:
  *  - DataFusion's `DiskManager` intercepts every temp-file WRITE
  *    against a live byte count (files deleted on query end decrement
  *    it). Spark reports spill through the per-task
  *    `diskBytesSpilled` metric, visible to the driver only at TASK
  *    END — so enforcement here is task-granular: a single task can
  *    overshoot by its own spill before the driver sees it. That is
  *    the same class of slack the reference accepts (its check is
  *    per-write, so one write can overshoot), one level coarser.
  *  - "outstanding" is the sum of cumulative spill over ACTIVE SQL
  *    executions, decremented when an execution ends (its temp files
  *    are gone). This upper-bounds live temp-directory usage: shuffle
  *    spill files merged and deleted mid-query still count until the
  *    query finishes. A budget knob should over-, never under-count.
  *  - enforcement is job cancellation (`SparkContext.cancelJob` with a
  *    reason) on the execution whose task crossed the cap; the action
  *    fails with that reason in the exception chain and
  *    [[QueryAudit.classifyCode]] maps it to `resource_exhausted` —
  *    landing in M87's "resource" class exactly like the reference's
  *    DataFusion `ResourcesExhausted` does.
  *
  * Jobs with no `spark.sql.execution.id` (raw RDD actions) are outside
  * the budget, like non-query work is outside the reference's disk
  * manager.
  */
object SpillBudget {

  /** Marker embedded in the cancel reason; [[QueryAudit.classifyCode]]
    * matches on it to classify the failure `resource_exhausted`. A
    * namespaced token, not prose: user data echoed into an unrelated
    * error message must not collide with it (ADVICE r12).
    */
  val CancelReason = "GRAFT_SPILL_BUDGET_EXCEEDED"

  /** Session conf key (MB, like the reference's env var); unset or
    * non-positive = the 100 GB default ([[fromConf]]).
    */
  val ConfKey = "spark.graft.query.maxSpillMb"

  def attach(spark: SparkSession, maxSpillBytes: Long): SpillBudget = {
    require(maxSpillBytes > 0, s"maxSpillBytes must be positive: $maxSpillBytes")
    val b = new SpillBudget(spark, maxSpillBytes)
    spark.sparkContext.addSparkListener(b)
    b
  }

  /** Attaches the cap [[ConfKey]] sets, or 100 GB when it is unset or
    * non-positive — the reference's cap is likewise always on (100 GB
    * when its env var is unset). The mains attach this, so the
    * accounting path runs under every full sweep and the spill
    * high-water is observable, while the generous default never
    * cancels honest work.
    */
  def fromConf(spark: SparkSession): SpillBudget = {
    val mb = spark.conf.get(ConfKey, "0").toLong
    attach(spark, if (mb > 0) mb << 20 else 100L << 30)
  }
}

final class SpillBudget private (spark: SparkSession, val maxSpillBytes: Long)
    extends SparkListener {

  // stage → owning EXECUTION, not job: a stage shared across the
  // execution's jobs must keep charging after its first registering
  // job ends, and TaskEnd events delivered after JobEnd (common on
  // cancellation) must still count — so the mapping is dropped only
  // at execution end, when the temp files are actually gone. Keying
  // by job dropped both classes of late spill (ADVICE r12), breaking
  // the "over-, never under-count" invariant.
  private val stageToExec = new ConcurrentHashMap[Int, String]()
  private val execStages = new ConcurrentHashMap[String, java.util.Set[Int]]()
  private val jobToExec = new ConcurrentHashMap[Int, String]()
  // active (not yet ended) jobs per execution — the cancellation set
  private val execJobs = new ConcurrentHashMap[String, java.util.Set[Int]]()
  // cumulative spill per ACTIVE execution (removed at execution end)
  private val execSpill = new ConcurrentHashMap[String, AtomicLong]()
  private val cancelledExecs = ConcurrentHashMap.newKeySet[String]()

  /** Σ cumulative spill over active executions — the live-usage upper
    * bound the cap is enforced against.
    */
  val outstanding = new AtomicLong(0L)

  /** High-water mark of [[outstanding]] (observability, the
    * temp-directory-pressure gauge).
    */
  val outstandingHighWater = new AtomicLong(0L)

  /** Executions cancelled by this budget (counter). */
  val cancelCount = new AtomicLong(0L)

  // ---------------------------------------------------------------
  // accounting core — listener-event-free so specs can drive it with
  // synthetic ids and assert the cancel decision deterministically
  // ---------------------------------------------------------------

  private[graft] def handleJobStart(jobId: Int, execId: Option[String],
      stageIds: Seq[Int]): Unit = execId.foreach { e =>
    jobToExec.put(jobId, e)
    execJobs.computeIfAbsent(e, _ => ConcurrentHashMap.newKeySet[Int]()).add(jobId)
    val stages = execStages.computeIfAbsent(e, _ => ConcurrentHashMap.newKeySet[Int]())
    stageIds.foreach { s => stageToExec.putIfAbsent(s, e); stages.add(s): Unit }
  }

  /** Charge one finished task's spill; returns the job ids to cancel
    * (non-empty exactly once per over-budget execution).
    */
  private[graft] def handleTaskEnd(stageId: Int, diskBytesSpilled: Long): Seq[Int] = {
    if (diskBytesSpilled <= 0) return Nil
    val exec = stageToExec.get(stageId)
    if (exec == null) return Nil // non-SQL work: outside the budget
    execSpill.computeIfAbsent(exec, _ => new AtomicLong(0L)).addAndGet(diskBytesSpilled)
    val total = outstanding.addAndGet(diskBytesSpilled)
    var hw = outstandingHighWater.get()
    while (total > hw && !outstandingHighWater.compareAndSet(hw, total)) {
      hw = outstandingHighWater.get()
    }
    if (total > maxSpillBytes && cancelledExecs.add(exec)) {
      cancelCount.incrementAndGet()
      Option(execJobs.get(exec)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
    } else Nil
  }

  private[graft] def handleJobEnd(jobId: Int): Unit = {
    // stage→exec mappings deliberately survive job end (see field doc)
    val exec = jobToExec.remove(jobId)
    if (exec != null) Option(execJobs.get(exec)).foreach(_.remove(jobId))
  }

  /** Execution ended → its temp files are gone; release its share of
    * the outstanding total and retire its stage attributions.
    */
  private[graft] def handleExecutionEnd(execId: String): Unit = {
    val spill = execSpill.remove(execId)
    if (spill != null) outstanding.addAndGet(-spill.get())
    Option(execStages.remove(execId)).foreach(_.asScala.foreach { s =>
      stageToExec.remove(s, execId): Unit
    })
    execJobs.remove(execId)
    cancelledExecs.remove(execId): Unit
  }

  // ---------------------------------------------------------------
  // listener surface
  // ---------------------------------------------------------------

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val exec = Option(jobStart.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    handleJobStart(jobStart.jobId, exec, jobStart.stageIds)
  }

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val bytes = Option(taskEnd.taskMetrics).map(_.diskBytesSpilled).getOrElse(0L)
    val victims = handleTaskEnd(taskEnd.stageId, bytes)
    if (victims.nonEmpty) {
      val reason = s"${SpillBudget.CancelReason}: this query pushed total " +
        s"spill to ${outstanding.get()} bytes > budget $maxSpillBytes " +
        s"(${SpillBudget.ConfKey})"
      victims.foreach(j => spark.sparkContext.cancelJob(j, reason))
    }
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit =
    handleJobEnd(jobEnd.jobId)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd => handleExecutionEnd(e.executionId.toString)
    case _ => ()
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}
