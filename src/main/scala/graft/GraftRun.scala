package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** The one run path of the mains. Bench, Profile and SpillProbe time
  * and profile through [[execute]]; Verify runs on [[session]] with the
  * oracle's parquet write as its action. It owns three decisions:
  *
  *  - the session: [[GraftSession.base]] on `$SPARK_GRAFT_CPUS` cores
  *    (every available processor when unset), with the spill budget
  *    attached, so every main plans the same way;
  *  - the timed action: a noop-sink write of the full DataFrame. Under
  *    `count()` Catalyst prunes every output-only projection (md5s,
  *    graft kernels), left-outer joins to aggregates and the final
  *    sort, so it times a smaller plan than the one Verify hands to the
  *    oracle (GraftRunSpec pins the parity);
  *  - the capture: every QueryExecution the run starts, eager
  *    `localCheckpoint` segments included, fenced by draining the
  *    listener bus instead of sleeping until the stream looks quiet.
  */
object GraftRun {

  /** One completed execution and the action name the listener saw. */
  final case class Execution(funcName: String, qe: QueryExecution)

  /** `wallSeconds` runs from building the DataFrame to the end of its
    * write; `executions` holds every execution in completion order,
    * `main` (the noop write's own) included.
    */
  final case class Result(wallSeconds: Double, main: Execution, executions: Seq[Execution])

  private def cores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** The mains' session; `conf` is layered over the shared config. */
  def session(sfDir: String, conf: (String, String)*): (SparkSession, SpillBudget) = {
    val spark = conf.foldLeft(GraftSession.base(sfDir, cores)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, SpillBudget.fromConf(spark))
  }

  /** Runs `action` and returns its value with every execution it
    * completed. The bus is drained on entry, so earlier executions stay
    * out, and on exit, failed or not, so every listener on the session
    * (QueryAudit, SpillBudget, stage listeners) has seen the run.
    */
  def capture[A](spark: SparkSession)(action: => A): (A, Seq[Execution]) = {
    val seen = new ConcurrentLinkedQueue[Execution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit = seen.add(Execution(fn, qe))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Shim.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    val a =
      try action
      finally { Shim.drainListenerBus(spark); spark.listenerManager.unregister(listener) }
    (a, seen.asScala.toSeq)
  }

  /** Times a noop-sink write of `build`'s full result. The main
    * execution is the one whose analyzed plan is that write, never the
    * last to arrive; anything but exactly one such execution throws.
    */
  def execute(spark: SparkSession)(build: => DataFrame): Result = {
    val (wall, all) = capture(spark) {
      val t0 = System.nanoTime()
      build.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    all.filter(e => isNoopWrite(e.qe)) match {
      case Seq(main) => Result(wall, main, all)
      case writes => throw new IllegalStateException(
        s"expected one noop-write execution, captured ${writes.size} among ${all.size}")
    }
  }

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.analyzed match {
    case w: V2WriteCommand => w.table.name == "noop-table"
    case _ => false
  }

  /** Runs each query once on the `sf0.001` lake beside `sfDir` (on
    * `sfDir` itself when there is none), ignoring failures, so timed
    * runs measure steady state rather than codegen and JIT warm-up.
    * Generated code does not depend on the lake's size, so the classes
    * compiled here serve the timed runs, on two conditions: the codegen
    * cache holds all of them, which at Spark's default of 100 entries
    * it does not for the 36 headliners; and AQE re-plans no join at the
    * larger scale. [[GraftSession.base]] sizes the cache for the whole
    * registry. Drops what the runs cached.
    */
  def warmUp(spark: SparkSession, qs: Seq[GraftQuery], sfDir: String): Unit = {
    val small = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
    val dir = if (java.nio.file.Files.isDirectory(small)) small.toString else sfDir
    qs.foreach(q => try execute(spark)(q.fn(spark, dir)) catch { case NonFatal(_) => () })
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.clearCache()
  }

  /** The registered queries named in `names`, or every headline query
    * when none are; an unknown name throws.
    */
  def select(names: Seq[String]): Seq[GraftQuery] =
    if (names.isEmpty) SparkEntry.headlineQueries
    else {
      val qs = SparkEntry.allQueries.filter(q => names.contains(q.name))
      val unknown = names.toSet -- qs.map(_.name)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      qs
    }
}
